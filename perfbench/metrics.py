"""Metric names and units reported by run.py (BENCHMARK.json lists the
same names; tests/test_perfbench.py keeps the two in step)."""

END_TO_END = {
    "urls_per_s": "URL/s",
    "round_s_p50": "s",
    "first_commit_s": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "local_dir_written_mb": "MB",
}
STORE_TABLES = ("frontier", "url_seen", "fetched", "failures", "edges",
                "host_state", "bloom_shards")
PER_LAYER = {
    "scheduler.round_self_s": "s",
    "scheduler.bootstrap_s": "s",
    "scheduler.new_per_discovered": "ratio",
    "spark.jobs_per_round": "count",
    "spark.stages_per_round": "count",
    "spark.task_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.heap_peak_mb": "MB",
    "spark.gc_s": "s",
    **{f"statestore.stage_write_s.{t}": "s" for t in STORE_TABLES},
    "statestore.stage_write_union_s": "s",
    "statestore.commit_s": "s",
    "statestore.read_calls": "count",
    **{f"statestore.written_mb.{t}": "MB" for t in STORE_TABLES},
    "bloom.probe_s_per_mkey": "s",
    "bloom.maybe_frac": "ratio",
    "bloom.fp_frac": "ratio",
    "urls.resolve_s_per_mrow": "s",
    "setup.cold_s": "s",
    "trace.round_s_p50": "s",
}
