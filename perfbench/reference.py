"""Reference outputs computed by DuckDB, independently of Spark.

Where the package ships a DuckDB twin of a step (``contract.ORACLES``,
``pages.BOUNDARIES_CTE``) it is reused by pointing its ``pages`` /
``documents`` source at the generated parquet. Steps without a twin that
fits the workload are restated here and named in each function.

Every comparison is an exact multiset comparison (``EXCEPT ALL`` both
ways) between a reference table and the program's output.
"""

from __future__ import annotations

import duckdb

from optimizerasters_spark import contract
from optimizerasters_spark.pages import BOUNDARIES_CTE, PAGES_CTE


def _point(sql: str, old: str, new: str) -> str:
    """Replace the source CTE of a twin; fail loudly if it moved."""
    if old not in sql:
        raise ValueError(f"twin no longer contains {old[:40]!r}")
    return sql.replace(old, new)


def _latest(src: str) -> str:
    """dedup_latest's twin (ORACLES['dedup_latest']): newest crawl per
    url, ties to the lowest doc_id."""
    return (f"SELECT * EXCLUDE (rn) FROM (SELECT *, ROW_NUMBER() OVER "
            f"(PARTITION BY url ORDER BY warc_epoch DESC, doc_id) AS rn "
            f"FROM {src}) WHERE rn = 1")


def _pq(path: str) -> str:
    return f"read_parquet('{path}')"


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    return con


def mismatches(con, ref: str, out_sql: str) -> int:
    """Rows in either side that the other lacks (multiset)."""
    return con.execute(
        f"SELECT count(*) FROM ((SELECT * FROM {ref} EXCEPT ALL "
        f"{out_sql}) UNION ALL ({out_sql} EXCEPT ALL "
        f"SELECT * FROM {ref}))").fetchone()[0]


# -- tile_join -------------------------------------------------------------

def tile_join(con, paths: dict) -> None:
    """ref_tile_join(polygon_id, tile_x, tile_y, page_count): the
    pip_join twin over the deduplicated pages, counted per tile."""
    latest = _latest(_pq(paths["pages"]))
    pairs = _point(contract.ORACLES["pip_join"], PAGES_CTE.strip(),
                   f"pages AS ({latest})")
    con.execute(f"""
CREATE OR REPLACE TABLE ref_tile_join AS
WITH p AS ({latest}), j AS ({pairs})
SELECT j.polygon_id, {contract._TILE_SQL},
       CAST(COUNT(*) AS BIGINT) AS page_count
FROM j JOIN p USING (doc_id)
GROUP BY 1, 2, 3""")


def check_tile_join(con, out_dir: str) -> int:
    return mismatches(con, "ref_tile_join", (
        "SELECT CAST(polygon_id AS BIGINT), CAST(tile_x AS INT), "
        "CAST(tile_y AS INT), CAST(page_count AS BIGINT) "
        f"FROM {_pq(out_dir + '/*.parquet')}"))


# -- Engine.run load and resume ----------------------------------------------

ENGINE_LEVELS = (0, 4, 8)  # JobConf's default pyramid levels


def ingest(con, paths: dict) -> None:
    """ref_pages(url, doc_id, polygon_id, tile_x, tile_y, text_sha): each
    URL keeps the newest crawl it had when first processed (the base
    table for old URLs, the increment for new ones; a resume never
    reprocesses a URL marked processed), joined by the pip_join_left
    twin. ref_tiles: the tile_counts_pyramid twin at the engine's
    levels over those pages. ref_urls: every input URL."""
    base, inc = _pq(paths["base"]), _pq(paths["increment"])
    con.execute(f"""
CREATE OR REPLACE TABLE expected AS
SELECT * FROM ({_latest(base)})
UNION ALL
SELECT * FROM ({_latest(f"(SELECT * FROM {inc} WHERE url NOT IN "
                        f"(SELECT url FROM {base}))")})""")
    src = ("pages AS (SELECT doc_id, url, warc_epoch, text, lang, "
           "lon_md, lat_md FROM expected)")
    left = _point(contract.ORACLES["pip_join_left"], PAGES_CTE.strip(), src)
    con.execute(f"""
CREATE OR REPLACE TABLE ref_pages AS
WITH j AS ({left})
SELECT e.url, e.doc_id, j.polygon_id, {contract._TILE_SQL},
       sha256(e.text) AS text_sha
FROM j JOIN expected e USING (doc_id)""")
    pyr = _point(contract.ORACLES["tile_counts_pyramid"],
                 PAGES_CTE.strip(), src)
    lv = ",".join(f"({x})" for x in ENGINE_LEVELS)
    pyr = _point(pyr, "(VALUES (0),(2),(4),(6),(8),(10))", f"(VALUES {lv})")
    con.execute(f"CREATE OR REPLACE TABLE ref_tiles AS {pyr}")
    con.execute(f"""
CREATE OR REPLACE TABLE ref_urls AS
SELECT DISTINCT url FROM (SELECT url FROM {base} UNION ALL
                          SELECT url FROM {inc})""")


def check_ingest(con, workdir: str, ledger) -> dict[str, int]:
    """Mismatch counts per check. ``ledger`` is the resolved ledger
    (url, processed, uploaded) as an Arrow table — its merge-on-read
    format is the package's own, so it is read through the package."""
    tiles = f"{workdir}/page_tiles/*/*.parquet"
    con.register("ledger_out", ledger)
    out = {
        "page_tiles": mismatches(con, "ref_pages", (
            "SELECT DISTINCT url, CAST(doc_id AS BIGINT), "
            "CAST(polygon_id AS BIGINT), CAST(tile_x AS INT), "
            "CAST(tile_y AS INT), text_sha "
            f"FROM read_parquet('{tiles}', hive_partitioning = false)")),
        # byte identity: the stored text hashes to the recorded sha
        "text_bytes": con.execute(
            f"SELECT count(*) FROM read_parquet('{tiles}', "
            f"hive_partitioning = false) "
            f"WHERE sha256(text) IS DISTINCT FROM text_sha").fetchone()[0],
        "tile_counts": mismatches(con, "ref_tiles", (
            "SELECT CAST(level AS INT), CAST(tile_x AS INT), "
            "CAST(tile_y AS INT), CAST(page_count AS BIGINT) "
            f"FROM {_pq(workdir + '/tile_counts/*.parquet')}")),
        "ledger": mismatches(con, "ref_urls", (
            "SELECT url FROM ledger_out WHERE processed = 'yes' "
            "AND uploaded = 'yes'")) + con.execute(
            "SELECT count(*) FROM ledger_out WHERE processed <> 'yes' "
            "OR uploaded <> 'yes'").fetchone()[0],
    }
    con.unregister("ledger_out")
    return out


# -- corpus_build ------------------------------------------------------------

def corpus_build(con, paths: dict) -> None:
    """ref_shards(lang, doc_id, n_tokens, cum_before, shard_id).

    Restated here (no twin fits these inputs): the robots filter for the
    two robots bodies the generator writes (a wildcard ``Disallow: /p/``
    blocks every page of its host, since every path is under /p/), the
    blocklist's exact-or-subdomain host match, and decontamination
    against a separate benchmark table. URL canonicalization is the
    identity on the generated URLs (https, lowercase host, no port,
    query or fragment), so no step stands for it. The near-dup and
    quality stages are the training_flagship twin up to its victim
    set; the packing is the shard_pack twin."""
    pages, robots = _pq(paths["pages"]), _pq(paths["robots"])
    blocked, bench = _pq(paths["blocked"]), _pq(paths["benchmark"])
    filtered = f"""
SELECT p.* FROM (SELECT *, regexp_extract(url, '^https://([^/]+)', 1)
                 AS host FROM {pages}) p
WHERE p.host NOT IN (SELECT host FROM {robots}
                     WHERE contains(robots_txt, 'User-agent: *' || chr(10)
                                    || 'Disallow: /p/'))
  AND NOT EXISTS (SELECT 1 FROM {blocked} b
                  WHERE p.host = b.bdom OR p.host LIKE '%.' || b.bdom)"""
    flagship = contract.ORACLES["training_flagship"]
    head = flagship[:flagship.index("\ng AS (")].rstrip().rstrip(",")
    head = _point(head, "WITH reps AS (",
                  f"WITH documents AS (SELECT doc_id, text, lang FROM "
                  f"({_latest(f'({filtered})')})), reps AS (")
    con.execute(f"""
CREATE OR REPLACE TABLE ref_kept AS
{head},
g AS (
  SELECT doc_id, text, lang,
    len(string_split(lower(text), ' ')) AS n_tokens,
    FLOOR(length(text) * 1000000 /
          GREATEST(len(string_split(lower(text), ' ')), 1)) AS mwl
  FROM reps WHERE doc_id NOT IN (SELECT doc_id FROM victims))
SELECT doc_id, text, lang FROM g
WHERE n_tokens >= 5 AND mwl <= 12000000""")
    con.execute(f"""
CREATE OR REPLACE TABLE ref_clean AS
WITH tk AS (SELECT doc_id, string_split(lower(text), ' ') AS t
            FROM ref_kept),
bt AS (SELECT string_split(lower(text), ' ') AS t FROM {bench}),
eg AS (SELECT DISTINCT doc_id, unnest(list_transform(
         generate_series(0, len(t) - 5),
         i -> array_to_string(t[i+1:i+5], ' '))) AS g
       FROM tk WHERE len(t) >= 5),
bg AS (SELECT DISTINCT unnest(list_transform(
         generate_series(0, len(t) - 5),
         i -> array_to_string(t[i+1:i+5], ' '))) AS g
       FROM bt WHERE len(t) >= 5)
SELECT * FROM ref_kept
WHERE doc_id NOT IN (SELECT doc_id FROM eg JOIN bg USING (g))""")
    pack = _point(contract.ORACLES["shard_pack"], "FROM documents",
                  "FROM ref_clean")
    con.execute(f"CREATE OR REPLACE TABLE ref_shards AS {pack}")


def check_corpus_build(con, out_dir: str) -> int:
    return mismatches(con, "ref_shards", (
        "SELECT lang, CAST(doc_id AS BIGINT), CAST(n_tokens AS BIGINT), "
        "CAST(cum_before AS BIGINT), CAST(shard_id AS INT) "
        f"FROM {_pq(out_dir + '/*.parquet')}"))


BUILDERS = {"tile_join": tile_join, "corpus_build": corpus_build}
