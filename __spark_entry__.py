"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query on sf0.001 (smoke check);
``queries()`` exposes one callable per implemented operator from
SURVEY.md §2; ``oracle_sql()`` gives the DuckDB-equivalent ANSI SQL for
every SQL-expressible query (driver cross-checks at sf0.01).

All real logic lives in the ``catme_etl_spark`` package; importing the
operator modules populates the registry.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# Importing these modules registers their queries/oracles.
from catme_etl_spark.operators import registry
from catme_etl_spark.operators import asof  # noqa: F401
from catme_etl_spark.operators import dedup  # noqa: F401
from catme_etl_spark.operators import events  # noqa: F401
from catme_etl_spark.operators import formats  # noqa: F401
from catme_etl_spark.operators import merge  # noqa: F401
from catme_etl_spark.operators import multimodal  # noqa: F401
from catme_etl_spark.operators import pipeline  # noqa: F401
from catme_etl_spark.operators import quality  # noqa: F401
from catme_etl_spark.operators import rangejoin  # noqa: F401
from catme_etl_spark.operators import sampling  # noqa: F401
from catme_etl_spark.operators import relational  # noqa: F401
from catme_etl_spark.operators import relational2  # noqa: F401
from catme_etl_spark.operators import scalars  # noqa: F401
from catme_etl_spark.operators import similarity  # noqa: F401
from catme_etl_spark.operators import skew  # noqa: F401
from catme_etl_spark.operators import stats  # noqa: F401
from catme_etl_spark.operators import timeseries  # noqa: F401
from catme_etl_spark.operators import text  # noqa: F401
from catme_etl_spark.operators import tpch  # noqa: F401
from catme_etl_spark.operators import tpch2  # noqa: F401
from catme_etl_spark.operators import tpch3  # noqa: F401
from catme_etl_spark.operators import udfs  # noqa: F401
from catme_etl_spark.operators import windows  # noqa: F401
from catme_etl_spark.streaming import jobs  # noqa: F401

_SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (revenue by nation) on sf0.001; rows > 0."""
    return registry.QUERIES["flagship_revenue_by_nation"](spark, _SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.

    In the static order of ``operators/ordering.py::SWEEP_ORDER``
    (new names are appended there).
    """
    from catme_etl_spark.operators.ordering import SWEEP_ORDER

    ordered = {n: registry.QUERIES[n] for n in SWEEP_ORDER if n in registry.QUERIES}
    for n, fn in registry.QUERIES.items():  # future names not yet in the list
        ordered.setdefault(n, fn)
    return ordered


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle SQL per query name (omitted → rows-only check)."""
    return dict(registry.ORACLE)
