"""Mimic the driver's correctness gate: every queries() entry with an
oracle must match DuckDB on the smoke-scale tables."""

from __future__ import annotations

import pytest

from optimizerasters_spark import contract
from tests.oracle_util import compare, duck_connect


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duck_connect(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(contract.QUERIES.keys()))
def test_query_matches_oracle(name, spark, sf_dir, duck):
    if name not in contract.ORACLES:
        pytest.skip("rows-only query (no SQL oracle by design)")
    df = contract.QUERIES[name](spark, sf_dir)
    compare(df, duck, contract.ORACLES[name])


def test_entry_matches_tile_join_reference(spark, duck, tmp_path):
    """entry() (the flagship at the smoke scale) must equal the DuckDB
    pip_join twin over the deduplicated pages, counted per (polygon_id,
    tile_x, tile_y): the reference the tile_join benchmark workload is
    checked against (perfbench/reference.py)."""
    import __spark_entry__
    from optimizerasters_spark.pages import PAGES_CTE
    from perfbench import reference

    pages, out = str(tmp_path / "pages.parquet"), str(tmp_path / "entry")
    duck.execute(f"COPY (WITH {PAGES_CTE.strip()} SELECT * FROM pages) "
                 f"TO '{pages}' (FORMAT parquet)")
    reference.tile_join(duck, {"pages": pages})
    __spark_entry__.entry(spark).write.parquet(out)
    assert duck.execute(
        "SELECT count(*) FROM ref_tile_join").fetchone()[0] > 0
    assert reference.check_tile_join(duck, out) == 0
