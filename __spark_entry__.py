"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   -> flagship pipeline (tile + PIP join) on sf0.001.
queries()      -> operator callables (spark, sf_dir) -> DataFrame.
oracle_sql()   -> DuckDB ANSI-SQL twins (driver's correctness gate).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: dedup -> tile assign -> PIP join -> per-tile/polygon counts
    at sf0.001 (the engine's 'tiled + spatially joined' headline path)."""
    from optimizerasters_spark.operators import dedup, spatial
    from optimizerasters_spark.pages import synth_boundaries, synth_pages

    sf_dir = "/root/testdata/sf0.001"
    pages = dedup.dedup_latest(synth_pages(spark, sf_dir))
    return (spatial.tile_polygon_counts(pages, synth_boundaries(spark))
            .orderBy("polygon_id", "tile_x", "tile_y"))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from optimizerasters_spark import contract
    return dict(contract.QUERIES)


def oracle_sql() -> dict[str, str]:
    from optimizerasters_spark import contract
    return dict(contract.ORACLES)
