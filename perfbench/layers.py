"""The workloads and the per-layer metrics of the traced run: name, unit,
better, the end-to-end metric each should move, and the workloads it is
measured on.

Layers are named after the package modules. ``BENCHMARK.json`` lists
every metric here as ``per_layer`` (checked by ``test_perfbench.py``).
"""

from __future__ import annotations

TJ, CB = ("tile_join",), ("corpus_build",)
ALL = TJ + CB  # the workloads, in BENCHMARK.json's order
RATE = ("workload.rows_per_s",)
# engine, ledger and store are measured in tile_join's traced run only
# (workloads.engine_pass); no timed end-to-end metric covers them
ENGINE = ()

# (name, unit, better, moves, on)
LAYERS: list[tuple[str, str, str, tuple, tuple]] = [
    # session
    ("session.start_s", "s", "lower", ("setup_s",), ALL),
    # scan of the input table
    ("scan.self_s", "s", "lower", RATE, ALL),
    ("scan.rows", "count", "higher", RATE, ALL),
    # operators.dedup, latest crawl per URL: keep ratio 1.0 on tile_join,
    # about 1/3 on corpus_build (three crawls per URL)
    ("dedup_latest.self_s", "s", "lower", RATE, ALL),
    ("dedup_latest.shuffle_write_bytes", "bytes", "lower", RATE, ALL),
    ("dedup_latest.shuffle_write_records", "count", "lower", RATE, ALL),
    ("dedup_latest.partial_agg_keep_ratio", "ratio", "lower", RATE, ALL),
    ("dedup_latest.fetch_wait_ms", "ms", "lower", RATE, ALL),
    ("dedup_latest.task_skew", "ratio", "lower", RATE, ALL),
    # operators.spatial
    ("with_tiles.self_s", "s", "lower", RATE, TJ),
    ("pip_join.self_s", "s", "lower", RATE, TJ),
    ("pip_join.rows_in", "count", "higher", RATE, TJ),
    ("pip_join.rows_out", "count", "higher", RATE, TJ),
    ("pip_join.shuffle_write_bytes", "bytes", "lower", RATE, TJ),
    ("pip_join.task_skew", "ratio", "lower", RATE, TJ),
    ("tile_agg.self_s", "s", "lower", RATE, TJ),
    ("tile_agg.shuffle_write_records", "count", "lower", RATE, TJ),
    # operators.web
    ("web_filters.self_s", "s", "lower", RATE, CB),
    ("web_filters.keep_ratio", "ratio", "lower", RATE, CB),
    # operators.dedup, text
    ("dedup_exact.self_s", "s", "lower", RATE, CB),
    ("dedup_exact.keep_ratio", "ratio", "lower", RATE, CB),
    ("lsh_candidates.self_s", "s", "lower", RATE, CB),
    ("lsh_candidates.pairs", "count", "lower", RATE, CB),
    ("lsh.max_bucket_docs", "count", "lower", RATE, CB),
    ("jaccard_verify.self_s", "s", "lower", RATE, CB),
    ("jaccard_verify.hit_ratio", "ratio", "higher", RATE, CB),
    # operators.training / operators.text
    ("quality_gate.self_s", "s", "lower", RATE, CB),
    ("quality_gate.keep_ratio", "ratio", "lower", RATE, CB),
    ("decontaminate.self_s", "s", "lower", RATE, CB),
    ("pack_shards.self_s", "s", "lower", RATE, CB),
    # engine, per Engine.run call
    *[(f"engine.{call}.{m}", u, "lower", ENGINE, TJ)
      for call in ("init", "resume")
      for m, u in (("process_s", "s"), ("finalize_s", "s"),
                   ("til_finalize_s", "s"), ("unstaged_s", "s"),
                   ("spark_jobs", "count"),
                   ("shuffle_write_bytes", "bytes"))],
    # ledger
    ("ledger.read_s", "s", "lower", ENGINE, TJ),
    ("ledger.delta_commits", "count", "lower", ENGINE, TJ),
    ("ledger.base_bytes", "bytes", "lower", ENGINE, TJ),
    ("ledger.delta_bytes", "bytes", "lower", ENGINE, TJ),
    # output store: engine, lineage, operators.manifest
    ("store.bytes_written", "bytes", "lower", ENGINE, TJ),
    ("store.files_written", "count", "lower", ENGINE, TJ),
    ("store.page_tiles_bytes", "bytes", "lower", ENGINE, TJ),
    # the whole workload
    ("workload.gc_ms", "ms", "lower", RATE, ALL),
    ("workload.spill_bytes", "bytes", "lower", RATE, ALL),
    ("workload.task_failures", "count", "lower", ("passed_run_ratio",), ALL),
    ("workload.unattributed_s", "s", "lower", RATE, ALL),
    ("workload.trace_overhead_ratio", "ratio", "lower", (), ALL),
    # the untraced timed loop: input rows over the median call wall, and
    # the peak memory of the driver JVM plus Python workers
    ("workload.rows_per_s", "1/s", "higher", (), ALL),
    ("workload.peak_rss_mb", "MB", "lower", (), ALL),
]

UNITS = {name: unit for name, unit, *_ in LAYERS}


def own(workload: str) -> list[str]:
    """The per-layer metrics a traced run of ``workload`` measures."""
    return [name for name, _, _, _, on in LAYERS if workload in on]
