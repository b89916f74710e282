"""Seeded input tables for the benchmark workloads.

Each generator writes parquet under ``dest`` with NumPy and PyArrow only
(no Spark), so the program under test receives nothing but the files.
The seed moves coordinates, crawl times, host assignment and family
membership; row counts and duplicate ratios are fixed by the sizes
below, so every seed does the same amount of work.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# Millidegree domain and hot centres of the package's synthetic pages
# (pages.py): 20 % of points snap near one of three urban centres.
LON_SPAN, LAT_SPAN = 360000, 170000
HOT_LON_MD = (105994, 319692, 182352)
HOT_LAT_MD = (44287, 49310, 36143)
EPOCH0 = 1735689600
YEAR_S = 31536000

SIZES = {
    # every URL unique: dedup's partial aggregation removes nothing
    "tile_join": {"rows": 300_000},
    # the engine pass of tile_join's traced run: each URL crawled CRAWLS
    # times; the resume adds NEW_URLS fresh URLs (one crawl each) and
    # RECRAWLS newer crawls of existing URLs
    "ingest": {"urls": 2_000, "crawls": 4, "new_urls": 100,
               "recrawls": 100},
    # synth_docs_scaled mix: FAMILIES x REPLICAS pages; replica 0 is the
    # original, odd replicas byte-exact copies, even ones near-dups;
    # every page URL is crawled CRAWLS times
    "corpus_build": {"families": 200, "replicas": 10, "hosts": 1_000,
                     "crawls": 3},
}

LANGS = ("en", "de", "fr", "es")
STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "for", "on", "with")


def _vocab(n: int = 3000) -> np.ndarray:
    """A fixed lowercase ASCII vocabulary (seed-independent)."""
    syl = np.array(["ka", "lo", "mi", "ne", "ru", "ta", "vo", "si", "pe",
                    "da", "gu", "ri", "so", "be", "fa", "ho"])
    g = np.random.default_rng(12345)
    words: set[str] = set()
    while len(words) < n:
        k = int(g.integers(2, 5))
        words.add("".join(syl[g.integers(0, len(syl), k)]))
    return np.array(sorted(words))


def _texts(rng: np.random.Generator, n: int, lo: int, hi: int
           ) -> list[str]:
    """n documents of lo..hi tokens: 30 % stopwords, the rest drawn from
    a Zipf-shaped vocabulary (so near-unique 3-shingles per family)."""
    vocab = _vocab()
    w = 1.0 / np.arange(1, len(vocab) + 1) ** 0.8
    w /= w.sum()
    lens = rng.integers(lo, hi + 1, n)
    total = int(lens.sum())
    toks = vocab[rng.choice(len(vocab), total, p=w)]
    sw = rng.random(total) < 0.3
    toks[sw] = np.array(STOPWORDS)[rng.integers(0, len(STOPWORDS),
                                                int(sw.sum()))]
    out, pos = [], 0
    for k in lens:
        out.append(" ".join(toks[pos:pos + k]))
        pos += k
    return out


def _urls(hosts: np.ndarray, page_ids: np.ndarray) -> pa.Array:
    return pc.binary_join_element_wise(
        "https://site", pa.array(hosts).cast(pa.string()), ".example/p/",
        pa.array(page_ids).cast(pa.string()), "")


def _coords(rng: np.random.Generator, n: int):
    lon = rng.integers(0, LON_SPAN, n)
    lat = rng.integers(0, LAT_SPAN, n)
    hot = rng.permutation(n) < n // 5
    which = rng.integers(0, 3, n)
    lon[hot] = (np.array(HOT_LON_MD)[which[hot]]
                + rng.integers(-10, 11, int(hot.sum())))
    lat[hot] = (np.array(HOT_LAT_MD)[which[hot]]
                + rng.integers(-9, 10, int(hot.sum())))
    return lon.astype(np.int64), lat.astype(np.int64)


def _write(table: pa.Table, path: str) -> int:
    pq.write_table(table, path)
    return os.path.getsize(path)


def tile_join(seed: int, dest: str) -> dict:
    n = SIZES["tile_join"]["rows"]
    rng = np.random.default_rng([seed, 1])
    ids = np.arange(n, dtype=np.int64)
    lon, lat = _coords(rng, n)
    t = pa.table({
        "doc_id": ids,
        "url": _urls(rng.integers(0, 997, n), ids),
        "warc_epoch": EPOCH0 + rng.integers(0, YEAR_S, n),
        "lon_md": lon, "lat_md": lat})
    path = os.path.join(dest, "pages.parquet")
    size = _write(t, path)
    return {"paths": {"pages": path},
            "describe": {"rows": n, "bytes": size, "crawls_per_url": 1.0,
                         "exact_dup_share": 0.0, "near_dup_share": 0.0,
                         "family_size": 1}}


def _crawls(rng, url_ids, doc_ids, epochs, pool, lon, lat):
    """Page rows for the given (url id, crawl) list: each crawl's text
    names its URL and crawl, so byte identity is checkable per crawl."""
    n = len(url_ids)
    body = pa.array(pool[rng.integers(0, len(pool), n)])
    text = pc.binary_join_element_wise(
        "page", pa.array(url_ids).cast(pa.string()), "crawl",
        pa.array(doc_ids).cast(pa.string()), body, " ")
    return pa.table({
        "doc_id": doc_ids.astype(np.int64),
        "url": _urls(url_ids % 997, url_ids),
        "warc_epoch": epochs.astype(np.int64),
        "text": text,
        "lang": pa.array(np.array(LANGS)[rng.integers(0, len(LANGS), n)]),
        "lon_md": lon[url_ids], "lat_md": lat[url_ids]})


def ingest(seed: int, dest: str) -> dict:
    """The page table Engine.run loads (``base``) and the one it resumes
    over (``base`` plus ``increment``)."""
    s = SIZES["ingest"]
    u, c, nn, nr = s["urls"], s["crawls"], s["new_urls"], s["recrawls"]
    rng = np.random.default_rng([seed, 2])
    pool = np.array(_texts(rng, 500, 20, 60))
    lon, lat = _coords(rng, u + nn)
    url_ids = np.repeat(np.arange(u, dtype=np.int64), c)
    n_base = u * c
    # distinct epochs: the latest crawl per URL is unambiguous
    epochs = EPOCH0 + rng.choice(YEAR_S, n_base, replace=False)
    base = _crawls(rng, url_ids, np.arange(n_base), epochs,
                   pool, lon, lat)
    # the increment: fresh URLs, and newer crawls of existing ones
    re_ids = rng.choice(u, nr, replace=False).astype(np.int64)
    inc_ids = np.concatenate([np.arange(u, u + nn, dtype=np.int64), re_ids])
    inc_epochs = EPOCH0 + YEAR_S + rng.choice(YEAR_S, nn + nr,
                                              replace=False)
    inc = _crawls(rng, inc_ids, np.arange(n_base, n_base + nn + nr),
                  inc_epochs, pool, lon, lat)
    pb = os.path.join(dest, "base.parquet")
    pi = os.path.join(dest, "increment.parquet")
    size = _write(base, pb) + _write(inc, pi)
    rows = n_base + nn + nr
    return {"paths": {"base": pb, "increment": pi},
            "describe": {"rows": rows, "bytes": size,
                         "base_rows": n_base, "increment_rows": nn + nr,
                         "crawls_per_url": round(rows / (u + nn), 4),
                         "exact_dup_share": 0.0, "near_dup_share": 0.0,
                         "family_size": 1}}


def corpus_build(seed: int, dest: str) -> dict:
    s = SIZES["corpus_build"]
    fam, rep, hosts = s["families"], s["replicas"], s["hosts"]
    n = fam * rep
    rng = np.random.default_rng([seed, 3])
    originals = _texts(rng, fam, 12, 90)
    # a fixed share of families fails the quality gate: too short, or
    # words longer than its mean-word-length limit (kept under 2,000
    # characters: the gate's micro-unit product overflows an int past
    # 2,147 characters)
    bad = rng.permutation(fam)
    for f in bad[:fam // 20]:
        originals[f] = " ".join(originals[f].split(" ")[:3])
    for f in bad[fam // 20:fam // 10]:
        originals[f] = " ".join(w * 3 for w in originals[f].split(" ")[:30])
    # family membership: doc ids are a seeded permutation of the pages
    doc_of = rng.permutation(n).astype(np.int64)
    family = np.repeat(np.arange(fam), rep)
    replica = np.tile(np.arange(rep), fam)
    texts = [originals[f] if (r == 0 or r % 2) else f"{originals[f]} r{r}"
             for f, r in zip(family, replica)]
    fam_lang = np.array(LANGS)[rng.integers(0, len(LANGS), fam)]
    # each URL is crawled CRAWLS times, its crawls adjacent in the file:
    # the newest carries the text above, older ones a stale half of it
    order = np.argsort(doc_of)
    url_ids = doc_of[order]
    host_of = rng.integers(0, hosts, n)
    fresh = [texts[i] for i in order]
    crawls = s["crawls"]
    rows = []
    for k in range(crawls):
        if k == 0:
            text = fresh
            epoch = EPOCH0 + YEAR_S + rng.integers(0, YEAR_S, n)
        else:
            text = [" ".join(t.split(" ")[:max(1, t.count(" ") // 2)])
                    + f" v{k}" for t in fresh]
            epoch = EPOCH0 + rng.integers(0, YEAR_S, n)
        rows.append(pa.table({
            "doc_id": url_ids + k * n, "url": _urls(host_of, url_ids),
            "warc_epoch": epoch, "text": pa.array(text),
            "lang": pa.array(fam_lang[family[order]])}))
    by_url = np.arange(n * crawls).reshape(crawls, n).T.ravel()
    pages = pa.concat_tables(rows).take(by_url)
    doc_ids = pages["doc_id"].to_numpy()
    host_of = np.tile(host_of, crawls)[by_url]
    # robots, blocklist and benchmark tables by bench.py's rules: hosts
    # of doc_id % 4 == 0 pages get a robots body (wildcard Disallow /p/
    # when the host's smallest such doc_id % 8 == 0), domains of
    # doc_id % 41 == 0 pages are blocked, doc_id % 97 == 0 pages form
    # the decontamination benchmark
    four = doc_ids % 4 == 0
    hid = {}
    for h, d in zip(host_of[four], doc_ids[four]):
        hid[h] = min(d, hid.get(h, d))
    rh = sorted(hid)
    robots = pa.table({
        "host": pa.array([f"site{h}.example" for h in rh]),
        "robots_txt": pa.array([
            "User-agent: *\nDisallow: /p/\n" if hid[h] % 8 == 0
            else "User-agent: evilbot\nDisallow: /p/\n" for h in rh])})
    blocked = pa.table({"bdom": pa.array(sorted(
        {f"site{h}.example" for h in host_of[doc_ids % 41 == 0]}))})
    bench = pages.select(["doc_id", "text"]).filter(
        pa.array(doc_ids % 97 == 0))
    paths = {k: os.path.join(dest, f"{k}.parquet")
             for k in ("pages", "robots", "blocked", "benchmark")}
    size = sum(_write(t, paths[k]) for k, t in (
        ("pages", pages), ("robots", robots), ("blocked", blocked),
        ("benchmark", bench)))
    exact = sum(1 for r in range(1, rep) if r % 2)
    return {"paths": paths,
            "describe": {"rows": n * crawls, "bytes": size,
                         "crawls_per_url": float(crawls),
                         "exact_dup_share": round(exact / rep, 4),
                         "near_dup_share": round((rep - 1 - exact) / rep,
                                                 4),
                         "family_size": rep}}


GENERATORS = {"tile_join": tile_join, "corpus_build": corpus_build}
