"""The conversion job — the engine's equivalent of the reference's
``DataConverter.convert`` (`unified_code.py:413-478`) and CLI flow
(`unified_code.py:481-583`), SURVEY §3.

What the reference does imperatively — chunk planning, process-pool
fan-out, per-chunk checkpoint/skip, merge — is Spark's scheduler's job
(SURVEY §3.2): here the whole converter is read → 4-stage pipeline →
JSON sink. A cold conversion of a CSV without an explicit schema runs
3 Spark jobs: the header, the inference pass over the whole file, and
the write. A repeat conversion of the unchanged file in the same
session runs 1, the write: ``read_csv`` memoizes the inferred schema
per file identity. ``order_by`` adds the sort's sampling job and
``array_parity`` its collect. Crash recovery = re-run: the write is
idempotent-overwrite, which is the same at-least-once-with-idempotent-
overwrite contract the reference's SQLite checkpoint provides
(`unified_code.py:459-460`, SURVEY §2.8 note); incremental tailing of
a growing directory is the streaming module with a
``checkpointLocation``.

``test_mode`` processes only the first ``3 * chunk_size`` rows
(`unified_code.py:441-442`: stop after 3 chunks of 500) — as a
``limit``, not a scheduler hack. The schema is still inferred over the
whole file, so a test run's types equal the full run's.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from .monitor import observe_counts
from .operators.pipeline import run_pipeline
from .sinks.json_sink import merged_json_array, write_json
from .sources.files import read_auto

DEFAULT_CHUNK_SIZE = 500  # `unified_code.py:397,484`
TEST_MODE_CHUNKS = 3  # `unified_code.py:441`


@dataclass
class ConvertResult:
    rows: int
    output_path: str
    stats: dict = field(default_factory=dict)


def convert(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    *,
    test_mode: bool = False,
    chunk_size: int = DEFAULT_CHUNK_SIZE,
    output_mode: str = "chunks",
    order_by: list[str] | None = None,
    array_parity: bool = False,
    **read_kwargs,
) -> ConvertResult:
    """Convert one input file to JSON through the 4-stage pipeline.

    ``output_mode``: ``chunks`` (part files) | ``merge`` (one file) —
    Archive ``--output-mode`` (`Archive/unified_code.py:490`).
    ``array_parity``: additionally write the reference's exact
    single-JSON-array format to ``output_path + '.array.json'``
    (bounded outputs only).
    """
    df = read_auto(spark, input_path, **read_kwargs)
    df = run_pipeline(df)
    if test_mode:
        df = df.limit(TEST_MODE_CHUNKS * chunk_size)

    # "processed_rows" (the quantity the reference checkpoints per
    # chunk, `unified_code.py:460`) rides the write as an observation —
    # a separate df.count() would be a second full pass over the input.
    # The sort happens BELOW the metrics node: a global orderBy runs a
    # range-partitioner sampling pass over its child, and an
    # observation under the sort would be double-counted by it.
    if order_by:
        df = df.orderBy(*order_by)
    df, obs = observe_counts(df, name="convert")
    write_json(df, output_path, mode=output_mode)
    rows = int(obs.get["rows"])
    stats = {}
    if array_parity:
        stats = merged_json_array(df, output_path + ".array.json", order_by=order_by)
    return ConvertResult(rows=rows, output_path=output_path, stats=stats)
