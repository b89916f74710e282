"""Filter / projection operators (SURVEY.md §2.2).

Reference semantics re-expressed as Catalyst predicates:
  * F1 extension glob filter — filterPaths (OptimizeRasters.py:4133-4151):
    each pattern whose first char is not one of ``?*[`` gets a ``*`` prefix
    (suffix match); case-sensitive fnmatch. We compile the pattern list to
    ONE anchored regex at plan time -> a single ``rlike`` predicate that
    Catalyst pushes into the scan.
  * F2 raster/non-raster split — exclude wins over the raster match except
    for ``.til`` files which are always kept (:4254-4259).
  * F3 resume-status anti-join — getRecordStatus (:1807-1815): skip rows the
    ledger marks 'yes' (``retryall``, :2001-2011, is the engine clearing
    the ledger's statuses before this filter runs).
  * F7 hashkey path injection — insertUserTextToOutputPath (:1036-1063):
    md5(url)[:8] inserted as a path segment (our salting analog).
  * F8 header-byte sniff — threadProxyRaster (:7205-7252): first bytes of
    the payload dispatch clonemrf vs cachingmrf; pure substring on the
    BINARY column here (payload is in-table — no ranged reads needed).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, functions as F

GLOB_SPECIAL = ("?", "*", "[")


def glob_to_regex(pattern: str) -> str:
    """Reference filterPaths pattern -> anchored regex (dialect-neutral:
    valid for both Java regex and RE2). Bare patterns get the '*' prefix."""
    if pattern[0] not in GLOB_SPECIAL:
        pattern = "*" + pattern
    out = []
    i = 0
    while i < len(pattern):
        c = pattern[i]
        if c == "*":
            out.append(".*")
        elif c == "?":
            out.append(".")
        elif c == "[":
            j = pattern.find("]", i + 1)
            if j == -1:
                out.append(re.escape(c))
            else:
                out.append(pattern[i:j + 1])
                i = j
        else:
            out.append(re.escape(c))
        i += 1
    return "^" + "".join(out) + "$"


def patterns_regex(patterns: list[str]) -> str:
    """OR-combined single regex for a pattern list (compiled once at plan
    time — the filter stays a single JVM-side rlike)."""
    return "|".join(f"(?:{glob_to_regex(p)})" for p in patterns)


def matches_patterns(path: Column, patterns: list[str]) -> Column:
    return path.rlike(patterns_regex(patterns))


def classify_paths(files: DataFrame, raster_patterns: list[str],
                   exclude_patterns: list[str]) -> DataFrame:
    """F1+F2: add is_raster / is_excluded / action columns.

    action: 'convert' (raster, not excluded), 'skip' (excluded),
    'copy' (everything else). ``.til`` files are never excluded."""
    p = F.col("path")
    is_raster = matches_patterns(p, raster_patterns)
    is_excluded = matches_patterns(p, exclude_patterns) & \
        ~F.lower(p).endswith(".til")
    action = (F.when(is_excluded, F.lit("skip"))
               .when(is_raster, F.lit("convert"))
               .otherwise(F.lit("copy")))
    return (files.withColumn("is_raster", is_raster.cast("int"))
                 .withColumn("is_excluded", is_excluded.cast("int"))
                 .withColumn("action", action))


def resume_pending(work: DataFrame, ledger: DataFrame,
                   key: str = "doc_id") -> DataFrame:
    """F3: rows not yet marked 'yes' in the ledger (anti-join). At scale the
    ledger is a fraction of the input and Catalyst broadcasts it when small;
    otherwise AQE picks a shuffled hash anti-join on the key."""
    done = ledger.where(F.col("processed") == "yes").select(key)
    return work.join(done, key, "left_anti")


def with_hashkey_path(df: DataFrame, key_col: str = "url",
                      position: int = 2) -> DataFrame:
    """F7: insert substring(md5(key),1,8) as path segment #position."""
    segs = F.split(F.col("path"), "/")
    hk = F.substring(F.md5(F.col(key_col)), 1, 8)
    out = F.concat_ws(
        "/",
        F.concat_ws("/", F.slice(segs, 1, position - 1)),
        hk,
        F.concat_ws("/", F.slice(segs, position, F.size(segs))))
    return df.withColumn("hashed_path", out)


def with_depth(files: DataFrame, path_col: str = "path") -> DataFrame:
    """F4: subdirectory depth of each path (number of directory
    segments). Pure projection — the depth predicate folds into the
    scan (the reference walked only ``IncludeSubdirectories`` levels;
    here it is a pushable WHERE)."""
    depth = F.size(F.split(F.col(path_col), "/")) - 1
    return files.withColumn("depth", depth.cast("int"))


def url_encode_segments(path: Column) -> Column:
    """X3 (Base.urlEncode, OptimizeRasters.py:1065-1077): backslashes
    normalized, each '/'-segment URL-encoded (application/x-www-form-
    urlencoded, space -> '+'), except segments containing ':' which pass
    through verbatim (drive letters / scheme prefixes). All JVM-side:
    transform() over the split array with the built-in url_encode.

    Spark's url_encode follows Java URLEncoder ('~' -> %7E, '*' kept
    literal); the reference uses Python quote_plus (keeps '~', encodes
    '*' -> %2A). The two divergent characters are post-fixed: '%7E' can
    only come from a literal '~' (a source '%' is already '%25' by
    then), and '%2A' introduces no new '*', so both rewrites are exact."""
    norm = F.regexp_replace(path, "\\\\", "/")

    def enc(s):
        e = F.url_encode(s)
        e = F.replace(e, F.lit("%7E"), F.lit("~"))
        return F.replace(e, F.lit("*"), F.lit("%2A"))

    return F.concat_ws(
        "/",
        F.transform(
            F.split(norm, "/"),
            lambda s: F.when(s.contains(":"), s).otherwise(enc(s))))


def rewrite_output_extension(path: Column, mode: str) -> Column:
    """F6 data-file form (OptimizeRasters.py:1114-1129): the output
    extension becomes the mode's first token (``tif_cog`` -> ``tif``);
    if that equals the current extension case-insensitively, the INPUT
    case is kept (so ledger status lookups keyed by path still match).
    Paths without an extension pass through (the reference's
    str.replace('') corner is undefined behavior there). A job whose
    template sets KeepExtension does not call this rewrite.
    """
    mode_ext = mode.split("_")[0]
    base = F.substring_index(path, "/", -1)
    ext = F.regexp_extract(base, "\\.([^.]*)$", 1)
    stem_len = F.length(path) - F.length(ext)
    rewritten = F.concat(path.substr(F.lit(1), stem_len), F.lit(mode_ext))
    return (F.when(ext == "", path)
             .when(F.lower(ext) == mode_ext.lower(), path)
             .otherwise(rewritten))


def rename_meta_to_mrf(path: Column,
                       raster_patterns: list[str]) -> Column:
    """F6 meta-file form (renameMetaFileToMatchRasterExtension,
    OptimizeRasters.py:1114-1129): for multi-extension meta files whose
    FIRST extension token ends with a raster extension
    (``f.tif.aux.xml``), that token is rewritten to ``mrf``
    (``f.mrf.aux.xml``) so the proxy sidecars match the converted raster.
    Single-extension paths are unchanged."""
    base = F.substring_index(path, "/", -1)
    has_dot = F.instr(base, ".") > 0
    after_first = base.substr(F.instr(base, ".") + 1, F.length(base))
    first_seg = F.substring_index(after_first, ".", 1)
    multi = F.instr(after_first, ".") > 0
    is_raster_first = None
    for p in raster_patterns:
        cond = first_seg.endswith(p)
        is_raster_first = cond if is_raster_first is None \
            else (is_raster_first | cond)
    do = has_dot & multi & is_raster_first
    return F.when(
        do,
        F.replace(path, F.concat(F.lit("."), first_seg), F.lit(".mrf"))
    ).otherwise(path)


def sniff_dispatch(df: DataFrame, payload_col: str = "html") -> DataFrame:
    """F8: dispatch on the first payload bytes (no full-content read —
    column pruning gives the cheap classify the reference got from ranged
    GETs). '<MRF' -> clonemrf, other markup -> cachingmrf, else raw."""
    # substring directly on the BINARY column — a string cast would be
    # lossy on arbitrary (non-UTF-8) payload bytes; byte-equality on the
    # prefix is exact for any payload.
    p = F.col(payload_col)
    return df.withColumn(
        "dispatch",
        F.when(F.substring(p, 1, 4) == F.lit(b"<MRF"), F.lit("clonemrf"))
         .when(F.substring(p, 1, 1) == F.lit(b"<"), F.lit("cachingmrf"))
         .otherwise(F.lit("raw")))
