"""orjob file-format round trip + Arrow UDF / codegen parity."""

from __future__ import annotations

from pyspark.sql import functions as F

from optimizerasters_spark.sources import orjob
from optimizerasters_spark.functions import geo
from optimizerasters_spark.fixtures import synth_ledger
from optimizerasters_spark.pages import synth_pages


def test_orjob_round_trip(spark, sf_dir, tmp_path):
    led = synth_ledger(spark, sf_dir).select(
        F.concat(F.lit("in/f"), F.col("doc_id").cast("string"),
                 F.lit(".tif")).alias("source"),
        "copied", "processed", "uploaded")
    path = str(tmp_path / "job.orjob")
    header = {"mode": "MRF", "resume": "true", "op": "createjob",
              "tempinput": "/tmp/ti"}
    orjob.write_orjob(header, led, path)

    hdr, led2 = orjob.read_orjob(spark, path)
    assert hdr["mode"] == "mrf"            # lower-cased like the reference
    assert hdr["tempinput"] == "/tmp/ti/"  # trailing slash forced
    assert "op" not in hdr                 # createjob header dropped
    a = sorted(tuple(r) for r in led.collect())
    b = sorted(tuple(r) for r in led2.collect())
    assert a == b

    # second write from the parsed ledger is byte-identical (idempotent)
    path2 = str(tmp_path / "job2.orjob")
    orjob.write_orjob(hdr, led2, path2)
    hdr3, led3 = orjob.read_orjob(spark, path2)
    assert sorted(tuple(r) for r in led3.collect()) == a


def test_orjob_retryall_clears_statuses(spark, sf_dir, tmp_path):
    led = synth_ledger(spark, sf_dir).select(
        F.concat(F.lit("f"), F.col("doc_id").cast("string")).alias("source"),
        "copied", "processed", "uploaded")
    path = str(tmp_path / "retry.orjob")
    orjob.write_orjob({"resume": "retryall"}, led, path)
    _, led2 = orjob.read_orjob(spark, path)
    assert led2.where((F.col("copied") != "") | (F.col("processed") != "") |
                      (F.col("uploaded") != "")).count() == 0


def test_orjob_backslash_and_dedup(spark, tmp_path):
    path = str(tmp_path / "manual.orjob")
    with open(path, "w") as f:
        f.write("# mode=tif\n")
        f.write("## a comment line\n\n")
        f.write("SOURCE\tCOPIED\tPROCESSED\tUPLOADED\n")
        f.write("a\\b\\x.tif\tyes\t\t\n")
        f.write("a/b/x.tif\tno\tno\tno\n")     # dup after normalization
        f.write("c.tif\n")                      # missing status fields
    _, led = orjob.read_orjob(spark, path)
    rows = {r["source"]: r for r in led.collect()}
    assert set(rows) == {"a/b/x.tif", "c.tif"}
    assert rows["c.tif"]["processed"] == ""


def test_cell_encode_udf_matches_codegen(spark, sf_dir):
    p = synth_pages(spark, sf_dir)
    res = 4096
    udf = geo.make_cell_encode_udf(res)
    out = p.select(
        "doc_id",
        geo.cell_encode_col(F.col("lon_md"), F.col("lat_md"), res)
          .alias("cell_sql"),
        udf(F.col("lon_md"), F.col("lat_md")).alias("cell_udf"))
    assert out.where(F.col("cell_sql") != F.col("cell_udf")).count() == 0


def test_expand_tars(spark, tmp_path):
    import io
    import tarfile

    from optimizerasters_spark.sources.archive import expand_tars

    def mk_tar(files):
        buf = io.BytesIO()
        with tarfile.open(fileobj=buf, mode="w:gz") as tf:
            for name, data in files:
                ti = tarfile.TarInfo(name)
                ti.size = len(data)
                tf.addfile(ti, io.BytesIO(data))
        return buf.getvalue()

    rows = [
        ("a.tgz", mk_tar([("x.tif", b"AAAA"), ("d/y.mrf", b"BB")])),
        ("b.tgz", mk_tar([("z.til", b"filename = \"m.tif\";")])),
        ("broken.tgz", b"not a tar at all"),
        ("null.tgz", None),
    ]
    df = spark.createDataFrame(rows, "archive STRING, data BINARY")
    out = expand_tars(df)
    ok = {(r["archive"], r["member"]): bytes(r["payload"])
          for r in out.where("extract_ok").collect()}
    assert ok[("a.tgz", "x.tif")] == b"AAAA"
    assert ok[("a.tgz", "d/y.mrf")] == b"BB"
    assert ok[("b.tgz", "z.til")].startswith(b"filename")
    bad = out.where("NOT extract_ok").collect()
    assert sorted(r["archive"] for r in bad) == ["broken.tgz", "null.tgz"]


def test_url_encode_matches_python_quote_plus(spark):
    """X3 parity with the reference's Python quote_plus semantics for
    the characters where Java URLEncoder diverges: '~' stays literal,
    '*' encodes to %2A (ADVICE r02). ':'-segments pass through."""
    from urllib.parse import quote_plus

    from optimizerasters_spark.operators import filters

    segs = ["a b", "100%", "x&y", "m+n", "p~q", "r*s", "~*~", "caf\u00e9",
            "plain", "dots.ok-_"]
    paths = ["root\\" + s + "\\f.tif" for s in segs] + ["c:\\tmp\\a b.tif"]
    df = spark.createDataFrame([(p,) for p in paths], "path string")
    got = [r[0] for r in
           df.select(filters.url_encode_segments(F.col("path"))).collect()]

    def py_encode(p):
        return "/".join(s if ":" in s else quote_plus(s)
                        for s in p.replace("\\", "/").split("/"))

    assert got == [py_encode(p) for p in paths]


def test_convex_pip_udf_matches_catalyst(spark, sf_dir):
    """The Arrow-vectorized convex-PIP refiner must agree with the
    Catalyst forall form on every candidate row — the twin test that
    keeps the UDF slot (where a shapely arbitrary-ring refiner plugs
    in) value-exact with the codegen path."""
    from optimizerasters_spark.functions.geo import make_convex_pip_udf
    from optimizerasters_spark.operators import spatial
    from optimizerasters_spark.pages import synth_convex_polys

    p = synth_pages(spark, sf_dir).select("doc_id", "lon_md", "lat_md")
    polys = synth_convex_polys(spark)
    cands = p.crossJoin(polys.where(F.col("polygon_id") < 6))
    vx = F.transform("vertices", lambda v: v["x"])
    vy = F.transform("vertices", lambda v: v["y"])
    udf = make_convex_pip_udf()
    both = cands.select(
        "doc_id", "polygon_id",
        spatial._inside_convex(F.col("lon_md"), F.col("lat_md"),
                               F.col("vertices")).alias("cat"),
        udf(F.col("lon_md"), F.col("lat_md"), vx, vy).alias("arrow"))
    assert both.where(F.col("cat") != F.col("arrow")).count() == 0
    assert both.where(F.col("cat")).count() > 0  # some points inside


def test_ring_pip_udf_matches_catalyst(spark, sf_dir):
    """The Arrow-vectorized even-odd ray cast must agree with the
    Catalyst filter+size form on every candidate row — the twin test
    that keeps the arbitrary-ring UDF slot (shapely/GEOS contains)
    value-exact with the codegen path."""
    from optimizerasters_spark.functions.geo import make_ring_pip_udf
    from optimizerasters_spark.operators import spatial
    from optimizerasters_spark.pages import synth_ring_polys

    p = synth_pages(spark, sf_dir).select("doc_id", "lon_md", "lat_md")
    polys = synth_ring_polys(spark)
    cands = p.crossJoin(polys.where(F.col("polygon_id") < 6))
    vx = F.transform("vertices", lambda v: v["x"])
    vy = F.transform("vertices", lambda v: v["y"])
    udf = make_ring_pip_udf()
    both = cands.select(
        "doc_id", "polygon_id",
        spatial._inside_ring(F.col("lon_md"), F.col("lat_md"),
                             F.col("vertices")).alias("cat"),
        udf(F.col("lon_md"), F.col("lat_md"), vx, vy).alias("arrow"))
    assert both.where(F.col("cat") != F.col("arrow")).count() == 0
    assert both.where(F.col("cat")).count() > 0  # some points inside


def test_ring_pip_nonconvexity_is_load_bearing(spark):
    """The fixture stars have reflex corners: the point between two
    arms sits inside the bbox AND inside the convex hull but OUTSIDE
    the ring — the even-odd test must reject it where a convex-hull
    test would accept. Plus a pure-Python ray-cast cross-check over a
    deterministic point grid."""
    from optimizerasters_spark.operators import spatial
    from optimizerasters_spark.pages import RING_OFFSETS, synth_ring_polys

    polys = synth_ring_polys(spark)
    # polygon 0: center (20000, 17000), r = 1000
    cx, cy, r = 20000, 17000, 1000
    pts = [(0, cx, cy, True),                 # center: inside
           (1, cx + 2 * r, cy, True),        # on the +x arm: inside
           (2, cx + 2 * r, cy + 2 * r, False),  # between arms: OUT
           (3, cx - 2 * r, cy - 2 * r, False),
           (4, cx + 4 * r, cy, False)]       # beyond the arm tip
    df = spark.createDataFrame(
        [(i, x, y) for i, x, y, _ in pts],
        "doc_id bigint, lon_md bigint, lat_md bigint")
    got = {r_["doc_id"]: r_["ins"] for r_ in df.crossJoin(
        polys.where(F.col("polygon_id") == 0)).select(
        "doc_id",
        spatial._inside_ring(F.col("lon_md"), F.col("lat_md"),
                             F.col("vertices")).alias("ins")).collect()}
    for i, _, _, want in pts:
        assert got[i] == want, (i, got[i], want)

    # pure-Python PNPOLY cross-check on a grid around polygon 0
    verts = [(cx + ox * r, cy + oy * r) for ox, oy in RING_OFFSETS]

    def py_inside(px, py):
        inside = False
        n = len(verts)
        for k in range(n):
            (ax, ay), (bx, by) = verts[k], verts[(k + 1) % n]
            if (ay > py) != (by > py):
                cross = (bx - ax) * (py - ay) - (by - ay) * (px - ax)
                if (cross > 0) if by > ay else (cross < 0):
                    inside = not inside
        return inside

    grid = [(1000 + gx * 100 + gy, cx - 4 * r + gx * 250,
             cy - 4 * r + gy * 250)
            for gx in range(33) for gy in range(33)]
    gdf = spark.createDataFrame(
        grid, "doc_id bigint, lon_md bigint, lat_md bigint")
    got2 = {r_["doc_id"]: r_["ins"] for r_ in gdf.crossJoin(
        polys.where(F.col("polygon_id") == 0)).select(
        "doc_id",
        spatial._inside_ring(F.col("lon_md"), F.col("lat_md"),
                             F.col("vertices")).alias("ins")).collect()}
    for i, x, y in grid:
        assert got2[i] == py_inside(x, y), (i, x, y)
    assert sum(got2.values()) > 50  # the star interior is non-trivial


def test_url_parts_multi_label_hosts(spark):
    """Domain = last two host labels regardless of label count; bare
    hosts pass through; path depth counts segments."""
    from optimizerasters_spark.operators import web
    df = spark.createDataFrame(
        [(1, "https://a.b.example.com/x/y"),
         (2, "https://example.com"),
         (3, "http://sub.site9.example/p/1")],
        "doc_id bigint, url string")
    r = {x["doc_id"]: (x["host"], x["domain"], x["path_depth"])
         for x in web.url_parts(df).collect()}
    assert r[1] == ("a.b.example.com", "example.com", 2)
    assert r[2] == ("example.com", "example.com", 0)
    assert r[3] == ("sub.site9.example", "site9.example", 2)


def test_warc_expand_roundtrip_gzip_and_dead_letter(spark):
    """WARC segments (Common Crawl's arrival format) explode into one
    row per response record: plain + gzip segments round-trip through
    write_warc_bytes/parse, request records are skipped, and a corrupt
    segment dead-letters as parse_ok=false instead of failing the
    task; a NULL segment dead-letters the same way, so a lost segment is
    told apart from an empty one."""
    import gzip as _gz
    from optimizerasters_spark.sources import warc

    recs = [(f"https://site{i}.example/p/{i}",
             f"2026-08-17T0{i}:00:00Z",
             (b"payload-" + str(i).encode()) * (i + 1))
            for i in range(5)]
    seg = warc.write_warc_bytes(recs)
    # splice in a non-response record — must be skipped
    other = (b"WARC/1.0\r\nWARC-Type: request\r\n"
             b"WARC-Target-URI: https://skip.example/\r\n"
             b"Content-Length: 3\r\n\r\nxyz\r\n\r\n")
    seg = other + seg
    df = spark.createDataFrame(
        [("s1.warc", bytearray(seg)),
         ("s2.warc.gz", bytearray(_gz.compress(seg))),
         ("bad.warc", bytearray(b"not a warc at all")),
         ("null.warc", None)],
        "path string, content binary")
    out = warc.expand_warcs(df).collect()
    ok = [r for r in out if r["parse_ok"]]
    bad = [r for r in out if not r["parse_ok"]]
    assert len(ok) == 10  # 5 responses x 2 segments
    assert sorted(r["segment"] for r in bad) == ["bad.warc", "null.warc"]
    by_seg = {}
    for r in ok:
        by_seg.setdefault(r["segment"], []).append(r)
    for seg_rows in by_seg.values():
        got = sorted((r["url"], bytes(r["payload"])) for r in seg_rows)
        want = sorted((u, p) for u, _, p in recs)
        assert got == want
    assert all(r["url"] != "https://skip.example/" for r in ok)
    # parity: the pure parser agrees with the Spark rows
    plain = warc.parse_warc_bytes(seg)
    assert len(plain) == 5
