"""JSON sink (SURVEY §2.1 S9–S11; reference `unified_code.py:337-388`,
Archive ``--output-mode`` `Archive/unified_code.py:490`).

Modes:

- ``chunks``: Spark-native part files (JSON-lines). The scalable
  default — every task writes its own partition, no driver funnel;
  this is the reference's ``WIP/chunk_{i}.json`` (`unified_code.py:
  343-350`) done right (compact, not pretty-printed then re-compacted,
  SURVEY §4.2.4).
- ``merge``: one JSON file. ``coalesce(1)`` keeps it distributed-write
  (single task, no driver memory); use only when a single file is a
  hard requirement — at 100 TB it never is.
- ``merged_json_array``: exact format parity with the reference's
  single pretty/compact JSON ARRAY of objects (`unified_code.py:
  352-362`) — a driver-side utility, deliberately separate from the
  scalable writers.

Ordering: the reference's merge order is lexicographic over filenames —
``chunk_10`` sorts before ``chunk_2`` (`unified_code.py:357`, bug,
SURVEY §4.2.2). Here order is explicit: pass ``order_by`` or accept
documented-unordered output.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame

from ..operators._shared import bounded_collect


def write_json(
    df: DataFrame,
    path: str,
    mode: str = "chunks",
    order_by: list[str] | None = None,
) -> None:
    """Write JSON-lines part files (``chunks``) or one file (``merge``)."""
    if order_by:
        df = df.orderBy(*order_by)
    if mode == "merge":
        df = df.coalesce(1)
    elif mode != "chunks":
        raise ValueError(f"unknown mode {mode!r} (use 'merge' or 'chunks')")
    df.write.mode("overwrite").json(path)


def merged_json_array(
    df: DataFrame,
    out_file: str,
    order_by: list[str] | None = None,
    indent: int | None = None,
) -> dict:
    """Reference-format single JSON array of objects
    (`unified_code.py:352-362`; pretty via ``indent`` like
    `unified_code.py:350`, compact via ``indent=None`` like the
    optimizer `unified_code.py:379`). Driver-side by nature — bounded
    output only (enforced: over CATME_MAX_COLLECT_ROWS raises instead
    of OOMing the driver; use ``write_json`` for large tables).
    Returns ``optimize_json``-style size stats."""
    records = [
        row.asDict(recursive=True)
        for row in bounded_collect(df, what="merged_json_array output")
    ]
    if order_by:
        # null-safe key: NULLs sort last; None is not comparable to
        # str/int in Python, so guard each component with an is-None flag
        records.sort(
            key=lambda r: tuple((r[k] is None, r[k]) for k in order_by)
        )
    with open(out_file, "w", encoding="utf-8") as f:
        json.dump(
            records,
            f,
            ensure_ascii=False,  # `unified_code.py:350,362,379`
            indent=indent,
            separators=(",", ":") if indent is None else None,
        )
    size = os.path.getsize(out_file)
    return {"rows": len(records), "size_mb": round(size / (1024 * 1024), 2)}


def optimize_json(input_path: str, output_path: str) -> dict:
    """Re-serialize a JSON document compactly and report size stats
    (S11, `unified_code.py:365-388`). In-engine writes are already
    compact; this exists for parity with externally produced files."""
    with open(input_path, encoding="utf-8") as f:
        data = json.load(f)
    with open(output_path, "w", encoding="utf-8") as f:
        json.dump(data, f, ensure_ascii=False, separators=(",", ":"))
    orig = os.path.getsize(input_path)
    opt = os.path.getsize(output_path)
    return {
        "original_size_mb": round(orig / (1024 * 1024), 4),
        "optimized_size_mb": round(opt / (1024 * 1024), 4),
        "reduction_percent": round((1 - opt / orig) * 100, 2) if orig else 0.0,
    }
