"""The three workloads, each run in one driver process at local[nproc].

crawl   CrawlEngine.run over a seeded synthetic web, one round at a time:
        a cold round, then warm rounds until the time is up (at least
        MIN_WARM_ROUNDS), checked against oracle_crawl.
sched   one scheduling round (resolve -> partitioned bloom probe -> exact
        anti-join -> two-phase politeness rank -> broadcast late
        materialize -> parquet sink) repeated until the time is up, each
        round checked against a DuckDB recompute.
steady  the same round with url_seen padded to 10x the frontier.

Every workload returns (attempted, failed, end-to-end metrics) and, when
traced, the per-layer metrics as well.
"""

from __future__ import annotations

import itertools
import os
import shutil
import statistics
import sys
import time

import numpy as np
import pandas as pd

from fixtures import crawl_fixtures, sched_fixtures
from metrics import STORE_TABLES
from tracing import (PeakSampler, Tracer, alive, descendants, dir_bytes,
                     job_stats, jobs_within, read_events, self_time,
                     union_length)

# Sizes per scale. "full" is the benchmark; "tiny" is for the smoke tests.
SCALES = {
    "full": {
        "crawl": dict(hosts=1200, pages=5_000),
        "sched": dict(urls=100_000, hosts=400, seen_frac=0.3, seen_mult=1),
        "steady": dict(urls=100_000, hosts=400, seen_frac=0.3, seen_mult=10),
    },
    "tiny": {
        "crawl": dict(hosts=12, pages=300),
        "sched": dict(urls=4_000, hosts=30, seen_frac=0.3, seen_mult=1),
        "steady": dict(urls=2_000, hosts=30, seen_frac=0.3, seen_mult=3),
    },
}
SCHED_ROUND_SECONDS = 60.0
SCHED_SALT = 16
SETUP_WARM = 5
MIN_WARM_ROUNDS = 3
URL_BATCH = 65_536


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_heap() -> str:
    """An eighth of RAM, clamped to [1g, 4g]: ample for these sizes, and
    the JVM plus Python workers leave room on a shared machine."""
    with open("/proc/meminfo") as f:
        kb = int(f.readline().split()[1])
    return f"{min(max(kb // 8 // 1024, 1024), 4096)}m"


class Env:
    """Benchmark-owned directories and Spark settings."""

    def __init__(self, root: str, work: str, trace: bool) -> None:
        self.work, self.trace = work, trace
        self.local = os.path.join(work, "local")
        self.tmp = os.path.join(work, "tmp")
        self.events = os.path.join(work, "eventlog")
        self.run_dir = os.path.join(work, "run")
        for d in (self.local, self.tmp, self.events, self.run_dir):
            shutil.rmtree(d, ignore_errors=True)
            os.makedirs(d)
        self.cores = cores()
        # the process environment is inherited by the JVM and the Python
        # workers: pin everything the package or Spark reads from it
        os.environ.update({
            "SPARK_LOCAL_DIRS": self.local,
            "SPARK_GRAFT_LOCAL_DIR": self.local,
            "SPARK_GRAFT_DRIVER_MEM": driver_heap(),
            "TMPDIR": self.tmp,
            "PYTHONPATH": os.pathsep.join(
                [root] + [p for p in os.environ.get(
                    "PYTHONPATH", "").split(os.pathsep) if p]),
        })
        for k in ("SPARK_GRAFT_SHJ_THRESHOLD", "SPARK_GRAFT_SHUFFLE",
                  "SPARK_GRAFT_CPUS", "PYSPARK_SUBMIT_ARGS"):
            os.environ.pop(k, None)

    def spark(self):
        from ai_intel_web_scraper_spark.session import get_spark
        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "catalog"),
            "spark.ui.showConsoleProgress": "false",
            # a heap committed and touched up front: the JVM's resident
            # size is then the configured heap, not the random point its
            # collector had grown the heap to, and peak_rss_mb measures
            # what changes with the code (Python, off-heap, workers)
            "spark.driver.extraJavaOptions":
                f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} "
                "-XX:+AlwaysPreTouch "
                f"-Djava.io.tmpdir={self.tmp} "
                f"-Dderby.system.home={self.tmp}",
        }
        if self.trace:
            # one event-log format (rolling, zstd: the Spark 4 default,
            # pinned), with the executor's peak memory per stage; the
            # executor polls it every 100 ms instead of at heartbeats only
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": self.events,
                         "spark.eventLog.rolling.enabled": "true",
                         "spark.eventLog.compress": "true",
                         "spark.eventLog.compression.codec": "zstd",
                         "spark.eventLog.logStageExecutorMetrics": "true",
                         "spark.executor.metrics.pollingInterval": "100ms"})
        return get_spark(app="perfbench", cores=self.cores,
                         shuffle_partitions=self.cores, extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until the JVM and every
    process it started (Python daemon and workers) have ended."""
    from pyspark import SparkContext
    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    started = descendants(proc.pid)
    gw.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.time() + 30
    while any(map(alive, started)) and time.time() < deadline:
        time.sleep(0.1)


def timed_setups(env: Env, t_start: float, build):
    """One cold set-up, then SETUP_WARM warm ones; returns (spark, state,
    cold seconds, warm seconds). The cold one runs from process start and
    includes the JVM start; each warm one stops the session and builds a
    new one on the running JVM. Each ends when build(spark) — the
    workload's engine construction — has returned."""
    samples = []
    spark = state = None
    for i in range(1 + SETUP_WARM):
        t0 = t_start if i == 0 else time.perf_counter()
        if spark is not None:
            spark.stop()
        spark = env.spark()
        state = build(spark)
        samples.append(time.perf_counter() - t0)
    return spark, state, samples[0], samples[1:]


def _median(xs):
    return float(statistics.median(xs))


def _app_jobs(env: Env, spark):
    """Stop the session (flushes the event log) and parse it."""
    app = spark.sparkContext.applicationId
    spark.stop()
    return job_stats(read_events(env.events, app))


def spark_layer(jobs, spans, n_rounds: int) -> dict:
    js = jobs_within(jobs, spans)
    mb = 1024.0 * 1024.0

    def gc_until(t):  # the JVM's GC seconds so far, at the last stage end
        return max([j.gc_total_s for j in jobs if j.submit_s <= t],
                   default=0.0)
    return {
        # heap figures per round, median over the rounds: peak_rss_mb
        # cannot see the heap, which is committed in full at JVM start
        "spark.heap_peak_mb": _median([
            max([j.heap_peak_b for j in jobs_within(jobs, [s])], default=0)
            for s in spans]) / mb,
        "spark.gc_s": _median([gc_until(s.end) - gc_until(s.start)
                               for s in spans]),
        "spark.jobs_per_round": len(js) / n_rounds,
        "spark.stages_per_round": sum(j.stages for j in js) / n_rounds,
        "spark.task_s": sum(j.task_s for j in js) / n_rounds,
        "spark.shuffle_write_mb":
            sum(j.shuffle_write_b for j in js) / mb / n_rounds,
        "spark.shuffle_read_mb":
            sum(j.shuffle_read_b for j in js) / mb / n_rounds,
        "spark.spill_mb": sum(j.spill_b for j in js) / mb / n_rounds,
    }


# ------------------------------------------------------ in-process layers
def urls_layer(raw: pd.Series, bases: pd.Series | None = None,
               min_rows: int = 4 * URL_BATCH) -> dict:
    """canonicalize_series + host_series + hash64_series over URL_BATCH-row
    batches of raw hrefs (resolved against `bases` when given); repeats the
    input until min_rows were resolved."""
    from ai_intel_web_scraper_spark.functions import urls as U
    raw = raw.reset_index(drop=True)
    if bases is not None:
        bases = bases.reset_index(drop=True)
    batches = [(raw.iloc[i:i + URL_BATCH],
                None if bases is None else bases.iloc[i:i + URL_BATCH])
               for i in range(0, len(raw), URL_BATCH)]
    rows, spent = 0, 0.0
    while rows < min_rows:
        for b, base in batches:
            t0 = time.perf_counter()
            canon = U.canonicalize_series(b, base)
            U.host_series(canon)
            U.hash64_series(canon)
            spent += time.perf_counter() - t0
            rows += len(b)
    return {"urls.resolve_s_per_mrow": spent / rows * 1e6}


def bloom_layer(cand: pd.DataFrame, shards: pd.DataFrame, seen_urls: set,
                min_keys: int = 1 << 20) -> dict:
    """partitioned_probe_fn per bucket over candidates (bucket, url_hash,
    url) and shard rows (bucket, bitmap); repeats until min_keys probed."""
    from ai_intel_web_scraper_spark.crawl.bloom import partitioned_probe_fn
    fn = partitioned_probe_fn(["bucket", "url_hash", "url"])
    groups = [(g, shards[shards["bucket"] == b])
              for b, g in cand.groupby("bucket")]
    keys, spent, maybe = 0, 0.0, None
    while keys < min_keys:
        flags = []
        for g, s in groups:
            t0 = time.perf_counter()
            out = fn(g, s)
            spent += time.perf_counter() - t0
            flags.append(out[["url", "maybe"]])
            keys += len(g)
        maybe = maybe if maybe is not None else pd.concat(flags)
    hit = maybe["maybe"].to_numpy()
    seen = maybe["url"].isin(seen_urls).to_numpy()
    if (seen & ~hit).any():
        raise AssertionError("bloom probe returned a false negative")
    return {"bloom.probe_s_per_mkey": spent / keys * 1e6,
            "bloom.maybe_frac": float(hit.mean()),
            "bloom.fp_frac": float((hit & ~seen).sum() / max(hit.sum(), 1)),
            "_new": int((~seen).sum()), "_cand": len(hit)}


def _resolve_frame(raw: pd.Series, n_buckets: int,
                   bases: pd.Series | None = None) -> pd.DataFrame:
    """Distinct canonical URLs of raw hrefs with url_hash and bucket."""
    from ai_intel_web_scraper_spark.functions import urls as U
    canon = U.canonicalize_series(raw, bases).dropna().drop_duplicates()
    h = U.hash64_series(canon).to_numpy()
    return pd.DataFrame({"bucket": (np.abs(h) % n_buckets).astype(np.int32),
                         "url_hash": h, "url": canon.to_numpy()})


# ------------------------------------------------------------------ crawl
def run_crawl(env: Env, seed: int, seconds: float, scale: str,
              t_start: float) -> dict:
    import pyarrow.parquet as pq
    from ai_intel_web_scraper_spark.crawl.scheduler import (CrawlConfig,
                                                            CrawlEngine)
    from ai_intel_web_scraper_spark.oracle.crawler import oracle_crawl
    from checks import crawl_mismatches
    p = SCALES[scale]["crawl"]
    t_fx = time.perf_counter()
    fx, gen_s = crawl_fixtures(env.work, seed, p["hosts"], p["pages"],
                               env.cores)
    t_start += time.perf_counter() - t_fx
    cfg = CrawlConfig(
        expected_urls=max(1 << 20, p["pages"] * 4), write_payload=True,
        n_salt=8,
        bloom_mode="partitioned", host_state_mode="dataframe",
        rank_mode="bfs", n_buckets=max(16, 2 * env.cores))
    warehouses = itertools.count()

    def engine(spark):
        wh = os.path.join(env.run_dir, f"crawl_wh_{next(warehouses)}")
        return wh, CrawlEngine(spark, fx, wh, cfg)

    with PeakSampler(env.local) as peak:
        spark, (wh, eng), cold_setup, setups = timed_setups(
            env, t_start, engine)
        tracer = Tracer(spark.sparkContext if env.trace else None,
                        run_id=f"crawl-{seed}")
        tracer.wrap(eng, "bootstrap", root=True)
        tracer.wrap(eng, "run_round", label=lambda a: f"run_round:{a[0]}",
                    root=True)
        spanned_round = eng.run_round
        eng.run_round = lambda r: peak.measure(spanned_round, r)
        if env.trace:
            st = eng.store
            for m in ("stage_write", "stage_write_arrow"):
                tracer.wrap(st, m, label=lambda a, m=m: f"{m}:{a[0]}")
            tracer.wrap(st, "commit")
            tracer.wrap(st, "read", label=lambda a: f"read:{a[0]}")
            tracer.wrap(st, "staged_row_count")
        # one round per run() call (the first bootstraps, the others
        # resume from the committed snapshot): the cold round 1, then
        # warm rounds until at least MIN_WARM_ROUNDS ran and --seconds of
        # them are used up, or the frontier is empty
        rounds, error = [], None

        def warm_s():  # wall of the rounds after the cold round 1
            walls = [s.dur for s in tracer.spans
                     if s.name.startswith("run_round:")]
            return sum(walls[1:])

        t0 = time.perf_counter()
        try:
            while not rounds or (rounds[-1]["frontier_size"] and (
                    len(rounds) <= MIN_WARM_ROUNDS or warm_s() < seconds)):
                rounds += eng.run(max_rounds=1)
        except Exception as e:  # counted, not raised: see failed
            error = repr(e)
            log(f"crawl raised: {error}")
        wall = time.perf_counter() - t0
        # ---- outside the timer: checks
        n_done = len(rounds)
        attempted = n_done + bool(error)
        failed = attempted - n_done
        if rounds:
            oracle = oracle_crawl(fx, max_rounds=n_done)
            tables = {t: [r.asDict() for r in eng.store.read(t).collect()]
                      for t in ("fetched", "failures", "metrics")}
            tables["url_seen"] = [r.asDict() for r in eng.store.read(
                "url_seen").select("url").collect()]
            for r, problems in crawl_mismatches(tables, oracle,
                                                n_done).items():
                for msg in problems:
                    log(f"crawl check: {msg}")
                failed += bool(problems)
        jobs = _app_jobs(env, spark) if env.trace else None
        stop_spark(spark)
    if not rounds:
        raise RuntimeError("the crawl completed no round")

    round_spans = [s for s in tracer.spans if s.name.startswith("run_round")]
    boot = next(s for s in tracer.spans if s.name == "bootstrap")
    metrics = {
        "urls_per_s": sum(m["scheduled"] + m["discovered"]
                          for m in rounds) / wall,
        # round 1 is cold and counted in first_commit_s
        "round_s_p50": _median([s.dur for s in round_spans[1:]
                                or round_spans]),
        "first_commit_s": boot.dur + round_spans[0].dur,
        "setup_s": _median(setups),
        "peak_rss_mb": _median([m for m, _ in peak.windows]) / 1024 ** 2,
        "local_dir_written_mb":
            _median([d for _, d in peak.windows]) / 1024 ** 2,
    }
    out = {"attempted": attempted, "failed": failed, "metrics": metrics,
           "info": {"rounds": n_done, "fixture_gen_s": gen_s,
                    "setup_s": [cold_setup] + setups,
                    "bootstrap_s": boot.dur,
                    "round_s": [s.dur for s in round_spans],
                    "windows_mb": [[m / 1024 ** 2, d / 1024 ** 2]
                                   for m, d in peak.windows],
                    "counts": [[m["scheduled"], m["discovered"],
                                m["new_urls"]] for m in rounds]}}
    if not env.trace:
        return out

    # ---- per-layer, from the traced run
    n_rounds = len(round_spans)
    spans = tracer.spans

    def round_of(s):  # the run_round span a store call happened under
        while s.parent is not None:
            s = spans[s.parent]
        return s if s.name.startswith("run_round") else None

    by_round = {id(r): [] for r in round_spans}
    for s in spans:
        r = round_of(s)
        if r is not None and r is not s:
            by_round[id(r)].append(s)
    def kind(s):
        return s.name.split(":")[0]

    writes = {id(r): [s for s in by_round[id(r)]
                      if kind(s) in ("stage_write", "stage_write_arrow")]
              for r in round_spans}
    all_writes = [s for ws in writes.values() for s in ws]
    in_rounds = [s for ss in by_round.values() for s in ss]
    layer = {
        "scheduler.bootstrap_s": boot.dur,
        "scheduler.round_self_s": _median([
            self_time(r, [s for s in by_round[id(r)]
                          if kind(s) in ("stage_write", "stage_write_arrow",
                                         "commit")])
            for r in round_spans]),
        "scheduler.new_per_discovered":
            sum(m["new_urls"] for m in rounds)
            / max(1, sum(m["discovered"] for m in rounds)),
        "statestore.stage_write_union_s": sum(
            union_length([(s.start, s.end) for s in writes[id(r)]])
            for r in round_spans) / n_rounds,
        "statestore.commit_s": sum(
            s.dur for s in in_rounds if kind(s) == "commit") / n_rounds,
        "statestore.read_calls": sum(
            kind(s) == "read" for s in in_rounds) / n_rounds,
    }
    for t in STORE_TABLES:
        layer[f"statestore.stage_write_s.{t}"] = sum(
            s.dur for s in all_writes if s.name.split(":")[1] == t) / n_rounds
        # bytes on disk: the whole crawl (bootstrap + rounds), per round
        layer[f"statestore.written_mb.{t}"] = dir_bytes(
            os.path.join(wh, "tables", t)) / 1024 ** 2 / n_rounds
    layer.update(spark_layer(jobs, round_spans, n_rounds))
    # in-process kernels on the crawl's own inputs: every out-link href,
    # probed against bloom shards over the oracle's url_seen
    graph = pq.read_table(fx["web_graph"], columns=["url", "out_links"])
    hrefs = graph.to_pandas().explode("out_links").dropna()
    links, bases = hrefs["out_links"], hrefs["url"]
    layer.update(urls_layer(links, bases))
    cand = _resolve_frame(links, cfg.n_buckets, bases)
    seen = _resolve_frame(pd.Series(sorted(oracle.url_seen)), cfg.n_buckets)
    from fixtures import bloom_shards
    bl = bloom_layer(cand, bloom_shards(seen, cfg.n_buckets),
                     oracle.url_seen)
    layer.update({k: v for k, v in bl.items() if not k.startswith("_")})
    layer["setup.cold_s"] = cold_setup
    layer["trace.round_s_p50"] = metrics["round_s_p50"]
    out["layers"] = layer
    return out


# ------------------------------------------------------------------ sched
def sched_round(spark, fx: dict, state: dict, sink: str, round_no: int):
    """One frontier-scheduling round through the package's public kernels,
    written to the parquet sink."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from ai_intel_web_scraper_spark.crawl.bloom import partitioned_probe_fn
    from ai_intel_web_scraper_spark.crawl.scheduler import (politeness_rank,
                                                            resolve_udf)
    nb = state["n_buckets"]
    frontier = spark.read.parquet(fx["frontier"])
    resolved = (frontier.select("raw_url", "depth", "discovery_seq")
                .withColumn("r", resolve_udf("raw_url",
                                             F.lit(None).cast("string")))
                .select(F.col("r.url").alias("url"),
                        F.col("r.host").alias("host"),
                        F.col("r.url_hash").alias("url_hash"),
                        "depth", "discovery_seq")
                .withColumn("bucket", F.pmod(F.abs("url_hash"),
                                             F.lit(nb)).cast("int")))
    out_schema = T.StructType(list(resolved.schema.fields)
                              + [T.StructField("maybe", T.BooleanType())])
    probed = (resolved.groupBy("bucket")
              .cogroup(spark.read.parquet(fx["bloom_shards"])
                       .groupBy("bucket"))
              .applyInPandas(partitioned_probe_fn(resolved.columns),
                             schema=out_schema))
    seen = spark.read.parquet(fx["url_seen"]).select("bucket", "url_hash",
                                                     "url")
    confirmed = (probed.where(F.col("maybe")).drop("maybe")
                 .join(seen, ["bucket", "url_hash", "url"], "left_anti"))
    fresh = probed.where(~F.col("maybe")).drop("maybe").unionByName(confirmed)
    ranked = politeness_rank(
        fresh.select("url_hash", "host", "depth", "discovery_seq"),
        state["quota_cfg"], [F.col("depth").asc(),
                             F.col("discovery_seq").asc()],
        SCHED_SALT, round_no, SCHED_ROUND_SECONDS,
        max_quota=state["max_quota"])
    scheduled = frontier.drop("raw_url").join(
        F.broadcast(ranked.select("url_hash", "discovery_seq", "fetch_slot",
                                  "fetch_ts")),
        ["url_hash", "discovery_seq"])
    scheduled.write.mode("overwrite").parquet(sink)


def run_sched(env: Env, seed: int, seconds: float, scale: str,
              t_start: float, workload: str = "sched") -> dict:
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F
    from checks import expected_schedule, read_schedule, schedule_mismatches
    p = SCALES[scale][workload]
    nb = max(16, 2 * env.cores)
    t_fx = time.perf_counter()
    fx, gen_s = sched_fixtures(env.work, seed, p["urls"], p["hosts"],
                               p["seen_frac"], p["seen_mult"], nb, env.cores)
    t_start += time.perf_counter() - t_fx
    delays = pq.read_table(fx["hosts"]).column("crawl_delay").to_numpy()

    def engine(spark):
        quota_cfg = (spark.read.parquet(fx["hosts"])
                     .withColumn("quota", F.floor(
                         F.lit(SCHED_ROUND_SECONDS) / F.col("crawl_delay"))
                         .cast("int")))
        return {"n_buckets": nb, "quota_cfg": quota_cfg,
                "max_quota": int(SCHED_ROUND_SECONDS / delays.min())}

    sink = os.path.join(env.run_dir, "sink")
    with PeakSampler(env.local) as peak:
        spark, state, cold_setup, setups = timed_setups(env, t_start,
                                                        engine)
        tracer = Tracer(spark.sparkContext if env.trace else None,
                        run_id=f"{workload}-{seed}")
        # round 1 is the cold round; warm rounds follow until at least
        # MIN_WARM_ROUNDS ran and --seconds of warm rounds are used up
        want = expected_schedule(fx, 0, SCHED_ROUND_SECONDS)  # round 0
        walls, windows, failed, attempted, n_sched = [], [], 0, 0, 0
        warm_s = 0.0
        while (attempted <= MIN_WARM_ROUNDS or warm_s < seconds):
            attempted += 1
            t0 = time.perf_counter()
            error = None
            try:
                peak.measure(tracer.span, "sched_round", sched_round, spark,
                             fx, state, sink, attempted, root=True)
            except Exception as e:  # counted, not raised: see failed
                error = e
            dt = time.perf_counter() - t0
            if attempted > 1:
                warm_s += dt
            if error is not None:
                failed += 1
                log(f"{workload} round {attempted} raised: {error!r}")
                continue
            walls.append(dt)
            windows.append(peak.windows[-1])
            # ---- outside the timer: check this round's output
            got = read_schedule(sink)
            problems = schedule_mismatches(got, [
                (u, slot, ts + attempted * SCHED_ROUND_SECONDS)
                for u, slot, ts in want])
            for msg in problems:
                log(f"{workload} check round {attempted}: {msg}")
            failed += bool(problems)
            n_sched = len(got)
        jobs = _app_jobs(env, spark) if env.trace else None
        stop_spark(spark)
    if len(walls) < 2:
        raise RuntimeError(f"{workload}: fewer than 2 rounds completed")
    warm = walls[1:]
    round_p50 = _median(warm)
    metrics = {
        "urls_per_s": (p["urls"] + n_sched) / round_p50,
        "round_s_p50": round_p50,
        "first_commit_s": walls[0],
        "setup_s": _median(setups),
        "peak_rss_mb": _median([m for m, _ in windows[1:]]) / 1024 ** 2,
        "local_dir_written_mb":
            _median([d for _, d in windows[1:]]) / 1024 ** 2,
    }
    out = {"attempted": attempted, "failed": failed, "metrics": metrics,
           "info": {"rounds": len(walls), "scheduled": n_sched,
                    "setup_s": [cold_setup] + setups,
                    "fixture_gen_s": gen_s, "round_s": walls,
                    "windows_mb": [[m / 1024 ** 2, d / 1024 ** 2]
                                   for m, d in windows]}}
    if not env.trace:
        return out
    round_spans = [s for s in tracer.spans if s.name == "sched_round"][1:]
    layer = {"scheduler.bootstrap_s": 0.0, "scheduler.round_self_s": 0.0}
    for t in STORE_TABLES:
        layer[f"statestore.stage_write_s.{t}"] = 0.0
        layer[f"statestore.written_mb.{t}"] = 0.0
    layer.update({"statestore.stage_write_union_s": 0.0,
                  "statestore.commit_s": 0.0, "statestore.read_calls": 0.0})
    layer.update(spark_layer(jobs, round_spans, len(round_spans)))
    frontier = pq.read_table(fx["frontier"]).to_pandas()
    layer.update(urls_layer(frontier["raw_url"]))
    seen = pq.read_table(fx["url_seen"]).to_pandas()
    cand = frontier[["url_hash", "url"]].assign(
        bucket=(np.abs(frontier["url_hash"].to_numpy()) % nb)
        .astype(np.int32))
    bl = bloom_layer(cand, pq.read_table(fx["bloom_shards"]).to_pandas(),
                     set(seen["url"]))
    layer["scheduler.new_per_discovered"] = bl["_new"] / bl["_cand"]
    layer.update({k: v for k, v in bl.items() if not k.startswith("_")})
    layer["setup.cold_s"] = cold_setup
    layer["trace.round_s_p50"] = round_p50
    out["layers"] = layer
    return out


WORKLOADS = {
    "crawl": run_crawl,
    "sched": lambda *a, **k: run_sched(*a, workload="sched", **k),
    "steady": lambda *a, **k: run_sched(*a, workload="steady", **k),
}
