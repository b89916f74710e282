"""Group-shaped operators (SURVEY.md §2.3/2.4).

  * J1 associate-extension join — RasterAssociates (OptimizeRasters.py:
    881-948, registrations :1762-1765): sidecar extensions (ige, rpb) map to
    their primary raster by file stem. Broadcast the (tiny) extension map,
    self-join on stem.
  * J2/A4 TIL barrier — TIL.isAllFilesProcessed (:2245-2254): a group
    finalizes only when processed count == member count. groupBy + HAVING.
  * J3 output-stem grouping — upload_group (:3742-3820): artifacts sharing
    a stem ship together.
  * A5 job success — Report.hasFailures (:2058-2066).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# primary extension -> related sidecar extensions (reference :1762-1765):
# addRelatedExtensions('img;IMG', 'ige;IGE') and
# addRelatedExtensions('ntf;NTF;tif;TIF', 'RPB;rpb') — each primary in the
# list pairs with each sidecar in the list (full cross).
ASSOCIATES = (
    [(p, s) for p in ("img", "IMG") for s in ("ige", "IGE")] +
    [(p, s) for p in ("ntf", "NTF", "tif", "TIF") for s in ("RPB", "rpb")]
)


def associate_join(files: DataFrame) -> DataFrame:
    """Pair each sidecar row with its primary raster by stem, under
    ``ASSOCIATES``.

    files needs (doc_id, stem, ext, path). Returns
    (primary_doc_id, sidecar_doc_id, stem, primary_ext, sidecar_ext).
    The associate map is broadcast (a few rows); the stem self-join
    shuffles both sides on stem — at scale stems are near-unique so no
    skew."""
    assoc = files.sparkSession.createDataFrame(
        ASSOCIATES, "primary_ext STRING, sidecar_ext STRING")
    side = (files.select(F.col("doc_id").alias("sidecar_doc_id"),
                         F.col("stem"), F.col("ext").alias("sidecar_ext"))
            .join(F.broadcast(assoc.select("sidecar_ext").distinct()),
                  "sidecar_ext"))
    prim = (files.select(F.col("doc_id").alias("primary_doc_id"),
                         F.col("stem"), F.col("ext").alias("primary_ext"))
            .join(F.broadcast(assoc.select("primary_ext").distinct()),
                  "primary_ext"))
    pairs = prim.join(side, "stem").join(
        F.broadcast(assoc), ["primary_ext", "sidecar_ext"], "left_semi")
    return pairs.select("primary_doc_id", "sidecar_doc_id", "stem",
                        "primary_ext", "sidecar_ext")


def _til_counts(members: DataFrame, group_col: str, processed_col: str,
                *extra) -> DataFrame:
    """The one definition of a complete TIL group: member_count ==
    processed_count ('yes'), with the ``extra`` aggregates alongside in
    the same groupBy. One shuffle on group_col; map-side partial
    aggregation keeps it cheap."""
    return (members.groupBy(group_col)
            .agg(F.count(F.lit(1)).alias("member_count"),
                 F.sum(F.when(F.col(processed_col) == "yes", 1)
                        .otherwise(0)).alias("processed_count"), *extra)
            .where(F.col("member_count") == F.col("processed_count")))


def til_complete_groups(members: DataFrame,
                        group_col: str = "group_id",
                        processed_col: str = "processed") -> DataFrame:
    """A4: groups whose every member is processed ('yes') — the barrier that
    gates group-level overview builds."""
    return _til_counts(members, group_col, processed_col)


def til_finalize(members: DataFrame, group_col: str = "group_id",
                 processed_col: str = "processed",
                 payload_col: str = "size") -> DataFrame:
    """A4 stage 2: group-level overview rows for COMPLETE groups only —
    the gated post-processing the reference runs per finished .til
    (createaOverview + ovr->mrf convert, OptimizeRasters.py:6767-6821).

    Barrier + overview in ONE aggregation: the payload rollup rides in
    the barrier's groupBy. Incomplete groups simply don't emit — they
    finalize on a later run once their members process (engine.py wires
    the resume semantics)."""
    return (_til_counts(members, group_col, processed_col,
                        F.sum(payload_col).alias("total_payload"))
            .select(group_col,
                    F.col("member_count").cast("bigint")
                     .alias("member_count"),
                    F.col("total_payload").cast("bigint")
                     .alias("total_payload")))


def stem_groups(files: DataFrame) -> DataFrame:
    """J3: per-stem artifact rollup (count + bytes) for grouped upload."""
    return (files.groupBy("stem")
            .agg(F.count(F.lit(1)).alias("n_files"),
                 F.sum("size").alias("total_size")))


def parse_til_members(tils: DataFrame) -> DataFrame:
    """X10: parse `.til` tile-index content — lines of
    ``filename = "member.tif";`` — into (til_name, member) rows
    (TIL._processContent semantics, OptimizeRasters.py:2256-2279:
    quoted or bare values, ';' terminated, whitespace-tolerant).
    Pure regexp_extract_all + explode, JVM-side."""
    rx = 'filename\\s*=\\s*"?([^";\\n]+)"?\\s*;'
    # lit pattern (not F.expr) — SQL string literals would eat the
    # backslash escapes
    members = F.regexp_extract_all(F.col("content"), F.lit(rx), F.lit(1))
    return (tils.select(F.col("til_name"),
                        F.explode(members).alias("member"))
            .withColumn("member", F.trim(F.col("member"))))


def job_success(ledger: DataFrame) -> DataFrame:
    """A5: single-row job verdict + status histogram."""
    s = F.col("processed")
    return ledger.agg(
        F.max(F.when(s == "no", 1).otherwise(0)).cast("int")
         .alias("has_failures"),
        F.sum(F.when(s == "yes", 1).otherwise(0)).cast("bigint")
         .alias("n_yes"),
        F.sum(F.when(s == "no", 1).otherwise(0)).cast("bigint")
         .alias("n_no"),
        F.sum(F.when(s == "", 1).otherwise(0)).cast("bigint")
         .alias("n_pending"))
