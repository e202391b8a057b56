"""File sources: CSV (native Spark) and Excel (driver-side pandas
bridge) — SURVEY §2.1 S1–S8.

Reference parity with Spark-first fixes:

- ``validate()`` probes readability and raises on garbage
  (`unified_code.py:168-176,209-217`) → FAILFAST schema probe.
- ``get_metadata()`` returns ``{sheet: {rows, columns, dtypes}}``
  (`unified_code.py:178-191,219-230`). The reference fully parses every
  Excel sheet and re-scans the CSV prefix per chunk (O(N²) total I/O,
  SURVEY §4.2.1); Spark's split-based scan reads each byte once.
- one explicit schema per source kills the per-chunk dtype re-inference
  drift (`unified_code.py:311-313`, SURVEY §1.2/§4.2.3); an inferred
  CSV schema is inferred once per file and session (``read_csv``).
- chunking (`read_chunk`, `unified_code.py:193-202,232-242`) has no
  user-visible equivalent: partitions ARE the chunks.
- format dispatch by extension (`unified_code.py:499-506`) → `read_auto`.
- Excel has no distributed reader in pure PySpark: single file → pandas
  on the driver then ``createDataFrame`` (the reference itself only
  ever converts ONE file, `unified_code.py:493-496`); many files scale
  out via a path-list DataFrame + ``mapInPandas`` so each executor
  parses its own workbooks.
"""

from __future__ import annotations

import glob
import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..operators._shared import shared_schema

# reference supports only the first three (`unified_code.py:493-495`);
# the rest are native Spark formats exposed through the same dispatch
SUPPORTED_EXTENSIONS = (
    ".csv", ".xlsx", ".xls", ".parquet", ".json", ".jsonl", ".orc", ".xml",
)


def discover_input(input_dir: str) -> str:
    """First supported file in a directory (`unified_code.py:493-496`
    takes only the first match — documented quirk, kept)."""
    for pat in ("*.xlsx", "*.xls", "*.csv"):
        hits = sorted(glob.glob(os.path.join(input_dir, pat)))
        if hits:
            return hits[0]
    raise FileNotFoundError(f"no supported input files in {input_dir!r}")


# Session confs that change what CSV inference returns (probed on
# Spark 4.1.2, one flip each): the timestamp type that zone-less values
# infer as; the LEGACY parser's narrower default timestamp pattern
# (dates and "yyyy-MM-dd HH:mm:ss" values then infer as strings); and
# case sensitivity, which decides whether a header "a,A" is de-duplicated
# to "a1,A2". The session time zone and ANSI mode change nothing.
_CSV_INFERENCE_CONFS = (
    "spark.sql.timestampType",
    "spark.sql.legacy.timeParserPolicy",
    "spark.sql.caseSensitive",
)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType | str | None = None,
    sep: str = ",",
    header: bool = True,
) -> DataFrame:
    """CSV scan (S6). Explicit ``schema`` recommended; ``inferSchema``
    otherwise: one inference for the whole file, never per chunk
    (a header job and a full-file pass).

    The inferred schema of a local file is memoized for the session
    (``operators._shared.shared_schema``), keyed by the file's real
    path, device, inode, size, mtime and ctime, the reader options and
    the session confs that inference reads (``_CSV_INFERENCE_CONFS``).
    A repeat read of an unchanged file therefore runs no inference job;
    any rewrite changes ctime, so it is re-inferred even at the same
    size with its mtime restored. Directories, globs and non-local
    URIs are inferred on every read."""

    def reader():
        return (
            spark.read.option("sep", sep)
            .option("header", header)
            .option("mode", "PERMISSIVE")
        )

    if schema is None:
        def infer() -> StructType:
            return reader().option("inferSchema", True).csv(path).schema

        ident = _csv_identity(spark, path, sep, header)
        schema = infer() if ident is None else shared_schema(
            "csv", ident, spark, infer
        )
    return reader().schema(schema).csv(path)


def _csv_identity(
    spark: SparkSession, path: str, sep: str, header: bool
) -> tuple | None:
    """Memo key part for :func:`read_csv`: the file's identity plus
    everything inference reads, or None when ``path`` is not a regular
    local file. Stat is taken BEFORE inference, so a rewrite during
    inference leaves an entry that the next read's stat misses."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not stat.S_ISREG(st.st_mode):
        return None
    return (
        os.path.realpath(path), st.st_dev, st.st_ino, st.st_size,
        st.st_mtime_ns, st.st_ctime_ns, sep, header,
        *(spark.conf.get(k) for k in _CSV_INFERENCE_CONFS),
    )


def validate_csv(spark: SparkSession, path: str, sep: str = ",") -> bool:
    """Readability probe (S4, `unified_code.py:209-217`): FAILFAST parse
    of the file; raises ``ValueError`` on unreadable input."""
    try:
        spark.read.option("sep", sep).option("header", True).option(
            "mode", "FAILFAST"
        ).csv(path).limit(1).collect()
        return True
    except Exception as ex:  # mirror reference's ValueError contract
        raise ValueError(f"cannot read CSV {path!r}: {ex}") from ex


def csv_metadata(spark: SparkSession, path: str, sep: str = ",") -> dict:
    """S5 metadata ``{rows, columns, dtypes}`` under the single sheet
    name ``"default"`` (`unified_code.py:225`)."""
    df = read_csv(spark, path, sep=sep)
    return {
        "default": {
            "rows": df.count(),
            "columns": df.columns,
            "dtypes": dict(df.dtypes),
        }
    }


def validate_excel(path: str) -> bool:
    """Readability probe for a workbook (S1, `unified_code.py:168-176`):
    opens the file and reads the sheet catalog without parsing rows
    (the reference probes with ``nrows=0``). Raises ``ValueError`` on
    garbage/unreadable input — same contract as :func:`validate_csv`.
    Without an Excel engine (openpyxl) the probe falls back to the
    stdlib ZIP/XML catalog read (``sources/xlsx_lite.py``) — but ONLY
    for zip/OOXML payloads: a valid legacy ``.xls`` (or any non-zip
    workbook) without an engine re-raises ``ImportError`` ('install an
    engine'), not ``ValueError`` ('garbage input') — the caller must be
    able to tell a missing dependency from a corrupt file."""
    try:
        import pandas as pd
    except ImportError:
        pd = None

    if pd is not None:
        try:
            with pd.ExcelFile(path) as xf:
                if not xf.sheet_names:
                    raise ValueError("workbook has no sheets")
            return True
        except ImportError:
            pass  # no engine installed — try the stdlib fallback below
        except Exception as ex:
            raise ValueError(f"cannot read Excel {path!r}: {ex}") from ex

    _require_ooxml_for_fallback(path)
    from . import xlsx_lite

    try:
        if not xlsx_lite.sheet_names(path):
            raise ValueError("workbook has no sheets")
        return True
    except ValueError:
        raise
    except Exception as ex:
        raise ValueError(f"cannot read Excel {path!r}: {ex}") from ex


def _require_ooxml_for_fallback(path: str) -> None:
    """The stdlib ``xlsx_lite`` fallback can only parse zip/OOXML
    workbooks; for anything else a missing engine must surface as
    ``ImportError`` (install openpyxl/xlrd), not be misreported as a
    garbage-input ``ValueError``."""
    import zipfile

    if not zipfile.is_zipfile(path):
        raise ImportError(
            f"no Excel engine available for non-OOXML workbook {path!r}: "
            "install openpyxl (.xlsx) or xlrd (legacy .xls); the stdlib "
            "fallback reads zip/OOXML only"
        )


def excel_metadata(path: str) -> dict:
    """Per-sheet ``{sheet: {rows, columns, dtypes}}`` (S2,
    `unified_code.py:178-191`). Like the reference, the row count
    requires parsing each sheet (xlsx has no row-count header) — but
    each sheet parses exactly once here, vs. the reference's
    metadata-parse-then-chunk-reparse O(N²) pattern (SURVEY §4.2.1).
    Driver-side by nature: one workbook is one file; many workbooks
    scale out via :func:`read_excel_many`."""
    validate_excel(path)
    out: dict[str, dict] = {}
    for sheet, pdf in _read_excel_pandas(path, sheet_name=None).items():
        out[sheet] = {
            "rows": len(pdf),
            "columns": list(pdf.columns),
            "dtypes": {c: str(t) for c, t in pdf.dtypes.items()},
        }
    return out


def _read_excel_pandas(path: str, sheet_name: str | int | None = 0):
    """``pd.read_excel`` with the stdlib fallback: prefer the real
    engine (full format coverage), fall back to ``xlsx_lite`` when no
    engine (or pandas itself) is installed — but only for zip/OOXML
    payloads; non-zip workbooks re-raise ``ImportError`` so a missing
    engine is never misreported as unreadable input."""
    try:
        import pandas as pd
    except ImportError:
        pd = None

    if pd is not None:
        try:
            return pd.read_excel(path, sheet_name=sheet_name)
        except ImportError:
            pass
    _require_ooxml_for_fallback(path)
    from . import xlsx_lite

    return xlsx_lite.read_workbook(path, sheet_name=sheet_name)


def read_excel(
    spark: SparkSession,
    path: str,
    sheet_name: str | int | None = 0,
    schema: StructType | str | None = None,
) -> DataFrame:
    """Excel bridge (S3). Driver-side ``pd.read_excel`` →
    ``createDataFrame`` (Arrow). Falls back to the stdlib ZIP/XML
    reader when no Excel engine (openpyxl) is installed."""
    pdf = _read_excel_pandas(path, sheet_name=sheet_name)
    return spark.createDataFrame(pdf, schema=schema)


def read_excel_many(
    spark: SparkSession,
    paths: list[str],
    schema: StructType | str,
    sheet_name: str | int = 0,
) -> DataFrame:
    """Distributed Excel: parallelize the PATH LIST, parse per executor
    via ``mapInPandas`` — the scale path when there are many workbooks
    (one workbook still parses on one core; that limit is inherent to
    the format)."""
    paths_df = spark.createDataFrame([(p,) for p in paths], "path string")

    def parse(batches):
        for pdf in batches:
            for p in pdf["path"]:
                yield _read_excel_pandas(p, sheet_name=sheet_name)

    return paths_df.repartition(max(1, min(len(paths), 64))).mapInPandas(
        parse, schema=schema
    )


def read_json_lines(
    spark: SparkSession, path: str, schema: StructType | str | None = None
) -> DataFrame:
    """JSON-lines scan (reads back what ``sinks/json_sink.py`` writes;
    splittable, unlike a single JSON array). Explicit schema skips the
    sampling inference pass — always pass one in production."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — columnar alternative to parquet, same pushdown/
    pruning machinery (ABSENT in the reference; native in Spark)."""
    return spark.read.orc(path)


def read_xml(
    spark: SparkSession,
    path: str,
    row_tag: str = "row",
    schema: StructType | str | None = None,
) -> DataFrame:
    """XML scan (built into Spark 4; ABSENT in the reference). One
    record per ``row_tag`` element; like CSV/JSON, pass an explicit
    schema in production to skip the inference pass."""
    reader = spark.read.format("xml").option("rowTag", row_tag)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)


def read_auto(spark: SparkSession, path: str, **kwargs) -> DataFrame:
    """Extension dispatch (S8, `unified_code.py:499-506`)."""
    ext = os.path.splitext(path)[1].lower()
    if ext == ".csv":
        return read_csv(spark, path, **kwargs)
    if ext in (".xlsx", ".xls"):
        return read_excel(spark, path, **kwargs)
    if ext == ".parquet":
        return spark.read.parquet(path)
    if ext in (".json", ".jsonl"):
        return read_json_lines(spark, path, **kwargs)
    if ext == ".orc":
        return read_orc(spark, path)
    if ext == ".xml":
        return read_xml(spark, path, **kwargs)
    raise ValueError(f"unsupported format {ext!r}; supported: {SUPPORTED_EXTENSIONS}")


def file_md5(path: str, chunk_bytes: int = 1 << 20) -> str:
    """Whole-file MD5, chunked read (I7; recovered `converter.py:100-104`)."""
    import hashlib

    h = hashlib.md5()
    with open(path, "rb") as f:
        while chunk := f.read(chunk_bytes):
            h.update(chunk)
    return h.hexdigest()


def df_checksum(df: DataFrame) -> int:
    """Order-insensitive distributed content checksum combining an
    xor-fold, a wrapping SUM of the 64-bit row hash, and the row count.
    One narrow pass + scalar agg. A pure xor-fold cancels on any even
    multiplicity (appending a duplicated row pair leaves it unchanged);
    the sum component is multiplicity-sensitive, and the count catches
    the degenerate all-zero-hash case. The distributed analog of the
    reference's file-level MD5."""
    row_hash = F.xxhash64(*[F.col(c).cast("string") for c in df.columns])
    out = df.select(
        F.bit_xor(row_hash).alias("x"),
        # decimal(38,0) sum never overflows below ~10^19 rows; folded
        # back to 64 bits after the agg
        F.sum(row_hash.cast("decimal(38,0)")).alias("s"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    if out is None or out["n"] == 0:
        return 0
    x = int(out["x"]) & 0xFFFFFFFFFFFFFFFF
    s = int(out["s"]) % (1 << 64)
    n = int(out["n"])
    return (x ^ (s * 0x9E3779B97F4A7C15 + n)) % (1 << 64)


def read_parquet_evolved(
    spark: SparkSession, path: str, canonical: StructType | None = None
) -> DataFrame:
    """Parquet scan across files with DRIFTED schemas (S13 EXT): a long-
    lived dataset accretes columns and widens types over time; the
    reference re-inferred dtypes per chunk and silently drifted
    (`unified_code.py:302-306`, SURVEY §1.2) — here drift is handled
    ONCE at the scan, explicitly.

    Two tiers, matching what parquet can actually reconcile:

    - ``canonical`` given (the production form): the scan reads with
      the EXPLICIT canonical schema — per-file, absent columns
      manifest as typed nulls and narrower physical types widen
      (int32→int64 etc., native in Spark 4's reader), with pushdown
      and pruning fully intact and ZERO footer-merge planning cost.
      The projection then pins exactly the canonical columns (dropping
      discovered partition columns), so downstream code sees one
      stable contract regardless of which era's files a partition
      pruned down to.
    - no ``canonical``: ``mergeSchema=true`` unions footer schemas —
      handles ADDED columns only (parquet schema merge does not widen
      types), and reads every file's footer at planning time; use it
      to DISCOVER drift, then pin the canonical schema.
    """
    if canonical is None:
        return spark.read.option("mergeSchema", "true").parquet(path)
    df = spark.read.schema(canonical).parquet(path)
    return df.select(*[f.name for f in canonical.fields])
