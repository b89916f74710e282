"""Property-based tests (hypothesis) for the pure golden math —
the reference-parity kernels must hold over the whole input space, not
just the fixture matrix."""

from __future__ import annotations

import fnmatch
import math
import re

from hypothesis import given, settings
from hypothesis import strategies as st

from optimizerasters_spark import tiling
from optimizerasters_spark.operators import filters


@given(w=st.integers(1, 10**7), h=st.integers(1, 10**7),
       bs=st.sampled_from([256, 512, 1024]))
@settings(max_examples=300, deadline=None)
def test_pyramid_levels_reference_loop_equivalence(w, h, bs):
    """Our function == a direct transcription of the reference's loop
    semantics (value = max/bs float division, int(2**ceil(log2)),
    halving while >= 2, ascending assembly, default '2')."""
    value = max(w, h) / bs
    levels = int(2 ** math.ceil(math.log(value, 2))) if value > 0 else 0
    steps = ""
    while levels >= 2:
        steps = f"{levels} {steps}"
        levels >>= 1
    want = steps.strip() or "2"
    assert tiling.pyramid_levels_str(w, h, bs) == want


@given(w=st.integers(1, 10**7), h=st.integers(1, 10**7))
@settings(max_examples=200, deadline=None)
def test_pyramid_invariants(w, h):
    s = tiling.pyramid_levels_str(w, h)
    factors = [int(x) for x in s.split()]
    # ascending powers of two starting at 2
    assert factors[0] == 2
    for a, b in zip(factors, factors[1:]):
        assert b == 2 * a
    # top factor covers the image: max(w,h) <= top * 512, except the
    # degenerate ratio<=2 default case
    top = factors[-1]
    if max(w, h) > 1024:
        assert max(w, h) <= top * 512
        assert max(w, h) > (top // 2) * 512


@given(px=st.integers(0, 2**40), lv=st.integers(0, 20))
@settings(max_examples=200, deadline=None)
def test_tile_level_composition(px, lv):
    """tile_of then level_up == direct coarse assignment."""
    t0 = tiling.tile_of(px)
    assert tiling.level_up(t0, lv) == px // (512 * (1 << lv))


@given(x=st.integers(0, 2**28), y=st.integers(0, 2**28))
@settings(max_examples=200, deadline=None)
def test_pack_cell_bijective(x, y):
    c = tiling.pack_cell(x, y)
    assert c // tiling.CELL_Y_SPAN == x
    assert c % tiling.CELL_Y_SPAN == y


_PATH_ALPHABET = st.text(
    alphabet="abcXYZ019._-/", min_size=1, max_size=25)
_PATTERN_ALPHABET = st.text(
    alphabet="abcXYZ019._*?", min_size=1, max_size=10)


@given(path=_PATH_ALPHABET, pattern=_PATTERN_ALPHABET)
@settings(max_examples=500, deadline=None)
def test_glob_regex_matches_fnmatchcase(path, pattern):
    """filters.glob_to_regex == fnmatchcase with the reference's
    '*'-prefix rule, for arbitrary paths/patterns."""
    eff = pattern if pattern[0] in "?*[" else "*" + pattern
    want = fnmatch.fnmatchcase(path, eff)
    got = bool(re.search(filters.glob_to_regex(pattern), path))
    assert got == want, (path, pattern)


def test_chunk_documents_coverage_invariants(spark):
    """For every token count 0..40 (window 16, stride 12): chunks never
    exceed the window, the LAST chunk reaches the final token (no tail
    loss), chunk starts advance by exactly the stride, and stitching
    each chunk's first `stride` tokens plus the last chunk reconstructs
    the document verbatim."""
    from pyspark.sql import functions as F
    from optimizerasters_spark.operators import text as T

    # sequence(1, 0) counts DOWN in Spark — guard the n=0 row explicitly
    docs = spark.range(41).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") == 0, F.lit("")).otherwise(
            F.concat_ws(" ", F.transform(
                F.sequence(F.lit(1), F.greatest(F.col("id").cast("int"),
                                                F.lit(1))),
                lambda i: F.concat(F.lit("t"), i.cast("string")))))
        .alias("text"))
    out = T.chunk_documents(docs, window=16, stride=12).collect()
    by_doc: dict[int, list] = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for n in range(41):
        toks = [f"t{i}" for i in range(1, n + 1)]
        # split('', ' ') yields one empty token — mirror that
        base = toks if n > 0 else [""]
        chunks = sorted(by_doc[n], key=lambda r: r["chunk_idx"])
        expect_cnt = 1 if len(base) <= 16 else \
            (len(base) - 16 + 11) // 12 + 1
        assert len(chunks) == expect_cnt, (n, len(chunks))
        assert all(c["n_chunk_tokens"] <= 16 for c in chunks)
        # last chunk covers the final token
        last_start = (len(chunks) - 1) * 12
        assert last_start + chunks[-1]["n_chunk_tokens"] >= len(base)
        # stitch: stride-prefix of each chunk + the whole last chunk
        stitched: list[str] = []
        for c in chunks[:-1]:
            stitched += c["chunk_text"].split(" ")[:12]
        stitched += chunks[-1]["chunk_text"].split(" ")
        assert stitched[:len(base)] == base, (n, stitched, base)


def _py_shingles(text, n, full_only):
    """The pure-Python shingler the JVM extractor replaces: distinct
    " ".join(toks[i:i + n]) of toks = text.lower().split(" ") in
    first-occurrence order; a short doc gives its one truncated
    shingle, or None when ``full_only``."""
    if text is None:
        return None
    toks = text.lower().split(" ")
    if full_only and len(toks) < n:
        return None
    upper = max(len(toks) - n, 0)
    return list(dict.fromkeys(" ".join(toks[i:i + n])
                              for i in range(upper + 1)))


def test_shingle_extractor_matches_python_shingler(spark):
    """dedup.shingles_col and text_sets_col (a regex extraction) equal
    the Python shingler on seeded random texts: empty tokens, leading,
    trailing and doubled spaces, newlines and tabs inside tokens, NULL
    and short docs, and case pairs whose lowering is not one char to
    one char (İ, Σ/ς, ß, ǅ, ﬀ, the Kelvin sign). Also the
    exact-substring census's window hashes: md5 of every window, repeats
    kept, equals hashlib's over the UTF-8 bytes."""
    import hashlib
    import random

    from pyspark.sql import functions as F
    from optimizerasters_spark.operators import dedup

    rng = random.Random(19)
    words = ["a", "B", "", "dog", "İstanbul", "ΣΟΦΟΣ", "ς", "straße",
             "ǅemal", "ﬀ", "Kelvin", "x\ny", "t\tq", "AbC", "a"]
    texts = [None, "", " ", "  ", "a", "a ", " a", "a  b", "A a A a"]
    texts += [" ".join(rng.choice(words) for _ in range(rng.randint(0, 14)))
              for _ in range(2000)]
    docs = spark.createDataFrame(list(enumerate(texts)),
                                 "doc_id int, text string")
    rows = docs.select(
        "doc_id",
        dedup.shingles_col("text", 1).alias("s1"),
        dedup.shingles_col("text", 3).alias("s3"),
        dedup.shingles_col("text", 5, full_only=True).alias("g5"),
        dedup.text_sets_col().alias("sets"),
        F.transform(dedup._windows(F.lower("text"), 4), F.md5)
        .alias("w4")).collect()
    assert len(rows) == len(texts)
    for r in rows:
        t = texts[r["doc_id"]]
        assert r["s1"] == _py_shingles(t, 1, False), t
        assert r["s3"] == _py_shingles(t, 3, False), t
        assert r["g5"] == _py_shingles(t, 5, True), t
        assert r["sets"] is not None
        assert r["sets"]["sh"] == _py_shingles(t, 3, False), t
        assert r["sets"]["grams"] == _py_shingles(t, 5, True), t
        toks = None if t is None else t.lower().split(" ")
        want = None if t is None else [
            hashlib.md5(" ".join(toks[i:i + 4]).encode("utf-8")).hexdigest()
            for i in range(len(toks) - 3)]
        assert r["w4"] == want, t


def test_running_sum_and_proxy_ids_match_python_reference(spark):
    """``manifest.proxy_csv_rows``' ids and ``windows.running_sum``'s
    ``_cum`` equal a Python rank and prefix sum on 24,000 seeded rows
    whose input order is a hash-shuffle output, with AQE partition
    coalescing off and on. The two-phase sum adds per-partition offsets
    to per-partition running totals, so both must come from one range
    partitioning: a second range exchange samples its own bounds, and
    mixing the two gives wrong and duplicate ids."""
    import random

    from pyspark.sql import functions as F

    from optimizerasters_spark.operators import manifest, windows
    rng = random.Random(22)
    rows = [(f"L0/{k}", rng.randrange(1, 10**6))
            for k in rng.sample(range(10**9), 24000)]
    df = (spark.createDataFrame(rows, "tile_id string, amt bigint")
          .repartition(8, "amt")
          .withColumn("source_uri", F.concat(F.lit("tiles/"), "tile_id")))
    ordered = sorted(rows)
    want_id = {t: 1000 + i for i, (t, _) in enumerate(ordered, 1)}
    want_cum, run = {}, 0
    for t, a in ordered:
        run += a
        want_cum[t] = run
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    saved = spark.conf.get(key)
    try:
        for coalesce in ("false", "true"):
            spark.conf.set(key, coalesce)
            got_id = {}
            for r in manifest.proxy_csv_rows(df, id_offset=1000).collect():
                oid, uri = r["csv_row"].split(";", 1)
                assert int(oid) == r["object_id"]
                got_id[uri[len("tiles/"):]] = r["object_id"]
            assert got_id == want_id, coalesce
            got = windows.running_sum(df, ["tile_id"], F.col("amt")) \
                .select("tile_id", "_cum", "_total").collect()
            assert len(got) == len(rows)
            assert {r["tile_id"]: r["_cum"] for r in got} == want_cum, \
                coalesce
            assert {r["_total"] for r in got} == {run}
    finally:
        spark.conf.set(key, saved)
