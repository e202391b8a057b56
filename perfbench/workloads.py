"""Workload definitions: what one request is, how it is checked, and the
weighted mix a run draws its fixed sequence from.

A workload's requests are named strings. ``etl_convert`` requests are
``<file>:<mode>`` (one ``convert.convert`` call); ``query_mix`` requests
are query names from ``__spark_entry__.queries()`` run through Spark's
``noop`` sink.

Each run's timed sequence is a whole number of blocks, and every block
holds each request as many times as its weight. The weights place the
median and the 90th percentile inside one latency class each, with
ranks to spare on both sides, so run-to-run noise does not swap the
class either statistic reads:

- ``etl_convert`` (16 per block: 12 10k-row and 4 50k-row
  conversions, half of each in either output mode): the median reads
  the 10k-row conversions (ranks 1-12), p90 the 50k-row ones (13-16).
- ``query_mix`` (16 per block: 2 fast, 9 mid, 5 heavy): the median
  reads the mid class (q1 and the grouped-aggregate UDF, ranks 3-11),
  p90 the heavy class (q9, the stream job and the one MinHash request
  per pass that rebuilds the cold shared artifacts, ranks 12-16); the
  MinHash hits are seen only by throughput.
"""

from __future__ import annotations

import glob
import math
import os
from dataclasses import dataclass

# Converter inputs: rows per generated CSV file.
CSV_FILES = {"orders_10k": 10_000, "orders_50k": 50_000}

CONVERT = {
    "orders_10k:chunks": 6,
    "orders_10k:merge": 6,
    "orders_50k:chunks": 2,
    "orders_50k:merge": 2,
}

QUERIES = {
    # fast (< 0.1 s): MinHash LSH pairs over the shared shingle/
    # signature/band artifacts; one request per pass rebuilds them cold
    # (heavy), the others hit
    "dedup_minhash_lsh_pairs": 3,
    # mid (0.5-0.9 s on a 4-core host): a grouped-aggregate pandas UDF
    # and a TPC-H scan and aggregation
    "udf_grouped_agg_gmean": 4,
    "q1_pricing_summary": 5,
    # heavy (1.3-2 s): a five-way join, and an AvailableNow stream into
    # a memory sink (micro-batch planning, WAL/commit, state store)
    "tpch_q9_product_type_revenue": 2,
    "stream_tumbling_10min": 2,
}
# Scale factor of the generated tables ``query_mix`` reads.
QUERY_SF = 0.02
SF_DIR = f"sf{QUERY_SF}"

# The tail is the nearest-rank 90th percentile; a run has at least
# this many requests (one block), so the tail has a sample beyond it.
MIN_REQUESTS = 16
TAIL_PCT = 90


@dataclass(frozen=True)
class Workload:
    name: str
    weights: dict[str, int]  # request -> copies in one block
    # Mean request latency on a 4-core host. It sizes the fixed sequence
    # so a run measures about ``--seconds`` there; the sequence never
    # depends on the speed of the program measured.
    nominal_request_s: float

    def blocks(self, seconds: float) -> int:
        block = sum(self.weights.values())
        return max(
            math.ceil(MIN_REQUESTS / block),
            round(seconds / (self.nominal_request_s * block)),
        )


# Workloads of the benchmark's design that are not run, and why.
DROPPED = {
    "olap_mix, curation_mix, stream_backfill": (
        "merged into query_mix: every run starts a JVM and warms each distinct "
        "request, and a full measurement (4 + 22 runs per workload) has a "
        "3420 s budget, which two workloads of about a minute per run fit"
    ),
}

WORKLOADS = {
    w.name: w
    for w in (
        Workload("etl_convert", CONVERT, 0.55),
        Workload("query_mix", QUERIES, 0.75),
    )
}


def split_convert_request(request: str) -> tuple[str, str]:
    stem, mode = request.split(":")
    return stem, mode


def part_files(out_dir: str) -> list[str]:
    return sorted(glob.glob(os.path.join(out_dir, "part-*")))


def convert_checksum(out_dir: str) -> dict[str, int]:
    """Re-read a conversion's JSON-lines output and recompute the
    checksum ``gen.write_csv`` returned for its input. A field Spark
    omitted (null) reads back as null."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.json as pajson

    schema = pa.schema(
        [("qty", pa.int64()), ("price", pa.float64()), ("note", pa.string())]
    )
    opts = pajson.ParseOptions(
        explicit_schema=schema, unexpected_field_behavior="ignore"
    )
    rows = cents = nulls = 0
    for path in part_files(out_dir):
        if os.path.getsize(path) == 0:
            continue
        t = pajson.read_json(path, parse_options=opts)
        rows += t.num_rows
        price = t.column("price")
        in_cents = pc.cast(pc.round(pc.multiply(price, 100.0)), pa.int64())
        cents += int(pc.sum(in_cents).as_py() or 0)
        nulls += sum(t.column(c).null_count for c in ("qty", "price", "note"))
    return {"rows": rows, "price_cents": cents, "nulls": nulls}


def output_bytes(out_dir: str) -> int:
    return sum(os.path.getsize(p) for p in part_files(out_dir))
