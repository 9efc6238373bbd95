"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship extraction pipeline on sf0.001;
``queries()``/``oracle_sql()`` expose the SURVEY.md §2 operator surface
over /root/testdata with DuckDB oracle twins.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_SRC = os.path.join(os.path.dirname(os.path.abspath(__file__)), "src")
if _SRC not in sys.path:
    sys.path.insert(0, _SRC)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: interleaved corpus (from sf0.001 documents) → deterministic
    span extraction via Arrow-batched mapInPandas → exploded output spans."""
    from sparkextract.queries.extraction import interleaved_docs as _interleaved_docs
    from sparkextract.spark.job import extract_exploded

    docs = _interleaved_docs(spark, "/root/testdata/sf0.001")
    return extract_exploded(docs)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Consolidated driver view (see queries/panels.py): the round
    driver records at most ~50 correctness rows per round, so
    same-family operators are exported as tagged union PANELS plus the
    standalone queries — every fine-grained operator still contributes
    its exact rows (and its own oracle twin) through its panel."""
    from sparkextract.queries.registry import driver_queries

    return driver_queries()[0]


def oracle_sql() -> dict[str, str]:
    from sparkextract.queries.registry import driver_queries

    return driver_queries()[1]
