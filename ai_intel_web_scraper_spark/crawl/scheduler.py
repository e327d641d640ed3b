"""Round-based distributed frontier scheduler.

One crawl *round* is ONE DataFrame job pipeline (rank -> politeness quota ->
fetch-simulate -> expand -> dedupe -> commit); the only driver-side control
flow is the round counter and the stop condition — this replaces the
reference's sequential ``while queue: deque.popleft()`` loop
(reference scrapers/docs_scraper.py:107-169) without porting it.

Scale design notes (the 100 TB / 10^10-URL story — each choice is visible in
``.explain``):

- **Politeness quota without a hot-host window bottleneck.** A naive
  ``row_number() over (partition by host)`` puts every frontier row of a hot
  host in one task. We rank in two phases: phase 1 ranks within
  ``(host, salt)`` (salt = url_hash % n_salt) and keeps only ``quota`` rows
  per salt — hot hosts fan out across n_salt tasks and the survivor set is
  bounded by ``n_salt * quota``; phase 2 ranks the tiny survivor set per
  host exactly. Unscheduled rows are NOT re-shuffled through the window:
  the next frontier is ``frontier ANTI JOIN scheduled`` on the uniform
  url_hash key (no skew by construction).
- **url_seen never shuffles its big side redundantly**: both url_seen and
  the candidate links carry the same ``bucket = |url_hash| % n_buckets``;
  on Iceberg this becomes a storage-partitioned join. The bloom pre-filter
  (see bloom.py) removes the "definitely new" majority from the exact
  anti-join's probe side first.
- **Binary payload stays out of every shuffle**: the scheduling path touches
  only (url, hash, host, depth, seq); image bytes are joined from the
  bucketed ``pages`` table by a broadcast join against the (small) per-round
  success set at the very last step, directly into the ``fetched`` sink.
- **All state in tables, none in the driver** (SnapshotStore): resume reads
  the last committed snapshot; timestamps are virtual (derived from round
  numbers) so a resumed run is bit-identical.
- **A round is as wide as its rows.** The plan keeps its 10^10-URL shape,
  but a small round does not run it at full width: each round takes
  ``width = clamp(ceil(rows / ROWS_PER_TASK), 1, defaultParallelism)``
  from the committed frontier's row count in the snapshot manifest (no
  Spark job). The width sizes the frontier read (and with it the rank ->
  fetch -> resolve -> policy chain), the probe cogroup, the url_seen side
  of the confirm anti-join (at url_seen's own count) and every sink and
  state write, so a small round stages one file per table and the next
  round reads one split. Reason, measured on a 4-vCPU VM: a Python UDF
  task cost ~0.25 s even over zero rows (~0.1-0.15 s since workers stop
  re-reading pyspark.zip per task, see ROWS_PER_TASK), and a crawl round
  of ~0.5k scheduled URLs ran ~185 tasks at full width (800 for a
  bootstrap and four rounds; 318 at the round's width, task time per
  round 14.4 -> 8.4 s). A frontier above ``ROWS_PER_TASK * defaultParallelism`` rows
  keeps the full-width plan exactly.

Crawl semantics contract: see semantics.py (shared with the oracle).
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import urls as U
from . import semantics as S
from .bloom import (BloomShards, CuckooShards, bloom_probe_udf,
                    cuckoo_probe_fn, cuckoo_upsert_fn, partial_bitmaps,
                    partitioned_probe_upsert_fn)
from .statestore import SnapshotStore

_BYTE_SUFFIX = {"": 1, "b": 1, "k": 1 << 10, "kb": 1 << 10,
                "m": 1 << 20, "mb": 1 << 20, "g": 1 << 30, "gb": 1 << 30,
                "t": 1 << 40, "tb": 1 << 40}


def _parse_byte_size(s, default: int = 10 * 1024 * 1024) -> int:
    """Spark byte-string config values ('10485760', '10m', '1g', '512k')
    -> bytes, mirroring JavaUtils.byteStringAsBytes; `default` on any
    unparseable value (the heuristic must never throw)."""
    text = str(s).strip().lower()
    i = len(text)
    while i > 0 and not text[:i][-1].isdigit():
        i -= 1
    num, suffix = text[:i], text[i:].strip()
    try:
        return int(num) * _BYTE_SUFFIX[suffix]
    except (ValueError, KeyError):
        return default


# Rows per task for the round's stages. A Python-UDF task costs ~0.1-0.15 s
# before its first row (worker hand-off, Arrow setup: a job running a
# trivial pandas UDF over 500 rows takes that much longer than a JVM-only
# job on a warm session), while the rows themselves cost ~9 us each in
# resolve + bloom probe (7.3 s/Mrow + 2.0 s/Mkey, measured in-process on a
# 4-vCPU VM). The constant was set when that fixed cost was ~0.2-0.25 s,
# before workers stopped re-reading pyspark.zip per task (see zipcache);
# the break-even is now nearer 12-15k rows, but a smaller constant widens
# crawl's rounds and needs its own paired runs.
ROWS_PER_TASK = 25_000


def round_width(rows: int, parallelism: int) -> int:
    """Partitions for a round stage over `rows` rows:
    ceil(rows / ROWS_PER_TASK), clamped to [1, parallelism]."""
    return max(1, min(parallelism, -(-rows // ROWS_PER_TASK)))


FRONTIER_SCHEMA = ("url string, url_hash long, bucket int, host string, "
                   "depth int, priority double, discovery_seq long, attempt int")
URL_SEEN_SCHEMA = "url string, url_hash long, bucket int, round_added int"
FETCHED_SCHEMA = ("url string, host string, depth int, round int, "
                  "discovery_seq long, fetch_slot int, fetch_ts double, "
                  "image_id string, caption string, w int, h int, fmt string, "
                  "phash long, bytes binary")
FAILURES_SCHEMA = ("url string, host string, depth int, round int, "
                   "discovery_seq long, attempt int, reason string")
HOST_STATE_SCHEMA = ("host string, crawl_delay double, max_pages int, "
                     "max_depth int, fetched_count long, "
                     "exclude_patterns array<string>, disallow array<string>")
METRICS_SCHEMA = ("round int, scheduled long, fetched_ok long, failed long, "
                  "retried long, discovered long, new_urls long, "
                  "frontier_size long, wall_ms double")
EDGES_SCHEMA = ("src_url string, dst_url string, round int, "
                "reject string")

_RESOLVE_TYPE = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("host", T.StringType()),
    T.StructField("url_hash", T.LongType()),
])


@F.pandas_udf(_RESOLVE_TYPE)
def resolve_udf(link: pd.Series, base: pd.Series) -> pd.DataFrame:
    """Vectorized canonicalize+hash (SURVEY C3/C11): one Python invocation
    per Arrow batch; RFC-3986 resolution, fragment/query drop, trailing-slash
    strip, then blake2b-64. No per-row Python anywhere else in the plan."""
    canon = U.canonicalize_series(link, base)
    return pd.DataFrame({
        "url": canon,
        "host": U.host_series(canon),
        "url_hash": U.hash64_series(canon),
    })


def politeness_rank(frontier: DataFrame, quota_cfg: DataFrame,
                    order_cols: list, n_salt: int,
                    round_no: int, round_seconds: float,
                    max_quota: int | None = None,
                    broadcast_quota: bool = True) -> DataFrame:
    """The frontier-scheduling core (SURVEY C1/C8/C9): two-phase salted
    per-host quota ranking.

    Phase 1 ranks within (host, url_hash % n_salt) so a hot host's rows fan
    out across n_salt window tasks; survivors are bounded by n_salt * quota
    per host. Phase 2 ranks the small survivor set exactly per host and
    assigns virtual fetch slots/timestamps (politeness floor = crawl_delay
    between slots). quota_cfg: (host, crawl_delay, quota).

    max_quota (driver-known max of quota_cfg.quota) is CRITICAL at scale:
    the per-host quota is a column, so `rn <= quota` alone cannot use
    Spark's WindowGroupLimit; adding the literal conjunct `rn <= max_quota`
    lets Catalyst insert a partial per-partition top-k BEFORE the window
    shuffle — on a quota-bound frontier this prunes the shuffle input from
    |frontier| to ~n_hosts * n_salt * max_quota rows."""
    if max_quota is None:
        max_quota = int(quota_cfg.agg(F.max("quota")).first()[0] or 0)
    # broadcast_quota=False when the host table must not transit the
    # driver (dataframe host-state mode) — Catalyst/AQE picks the strategy
    qc = F.broadcast(quota_cfg) if broadcast_quota else quota_cfg
    # r6: the windows shuffle ONLY the frontier's narrow columns — the
    # per-host quota/crawl_delay columns re-attach by (broadcastable)
    # join after ranking instead of riding through both shuffles.
    # Result-identical: a row ranked beyond its (host, salt) quota in
    # phase 1 has >= quota earlier rows in its salt, hence >= quota
    # earlier rows host-wide, so phase 2's rn <= quota filter would have
    # dropped it anyway (order_cols are a total order per host).
    cand = frontier.join(qc.select("host"), "host", "left_semi")
    w1 = (Window.partitionBy("host", F.pmod(F.abs("url_hash"), F.lit(n_salt)))
          .orderBy(*order_cols))
    survivors = (cand.withColumn("rn1", F.row_number().over(w1))
                 .where(F.col("rn1") <= F.lit(max_quota)).drop("rn1"))
    w2 = Window.partitionBy("host").orderBy(*order_cols)
    ranked = (survivors.withColumn("rn", F.row_number().over(w2))
              .where(F.col("rn") <= F.lit(max_quota)))
    # original column order: the host join key leads, then the remaining
    # frontier columns, then crawl_delay and the assigned slots
    out_cols = (["host"] + [c for c in frontier.columns if c != "host"]
                + ["crawl_delay"])
    return (ranked.join(qc, "host")
            .where(F.col("rn") <= F.col("quota"))
            .withColumn("fetch_slot", (F.col("rn") - 1).cast("int"))
            .withColumn("fetch_ts",
                        F.lit(float(round_no) * round_seconds)
                        + F.col("fetch_slot") * F.col("crawl_delay"))
            .select(*out_cols, "fetch_slot", "fetch_ts"))


@dataclass
class CrawlConfig:
    n_buckets: int = 16
    n_salt: int = 8
    use_bloom: bool = True
    # "broadcast": one packed sidecar blob broadcast per round (fast in
    #   local mode / small filters).
    # "partitioned": per-bucket shard rows in the snapshot's bloom_shards
    #   table, probed via a bucket-cogrouped applyInPandas and updated by
    #   executor-side OR-merge — the driver NEVER materializes the set
    #   (the only feasible shape at the 10^10-URL sizing, where the blob
    #   would be ~10+ GB of driver memory and per-round broadcast).
    # "cuckoo": same executor-resident shard-row story, but the per-bucket
    #   structure is a cuckoo filter (north-rule alternative): 16-bit
    #   fingerprints, 2-bucket probes, delete-capable without counting-
    #   bloom saturation. Cuckoo filters don't OR-merge, so the round
    #   update cogroups each bucket's NEW hashes with its existing shard
    #   row and inserts sequentially inside that bucket's single owner
    #   task — still executor-side, still no driver materialization.
    bloom_mode: str = "broadcast"
    # "pandas": host_state cached as driver pandas (one row per HOST, tiny
    #   locally; avoids a Spark write job per round).
    # "dataframe": host_state stays a table end-to-end — quota derivation,
    #   the alive/max/sum scalars (one tiny agg job), and the
    #   fetched_count update (join + staged replace) are all Spark jobs;
    #   the driver never holds the host set. Required at 10^8-host scale.
    host_state_mode: str = "pandas"
    expected_urls: int = 1 << 20
    # "bfs": (depth, discovery_seq) — reference FIFO parity.
    # "priority": stored priority desc (seed ppm / hash-derived link
    #   score), BFS tiebreak.
    # "authority": the quality->crawl feedback loop (r5) — recompute
    #   integer PageRank over the edges recorded so far and rank the
    #   frontier by authority composed with the stored priority
    #   (crawl/semantics.py "authority rank" contract). The stored
    #   frontier priority column is never overwritten.
    rank_mode: str = "bfs"
    # Authority refresh cadence: recompute at rounds where
    # (round-1) % authority_every == 0 and persist the rank table in the
    # snapshot store; other rounds rank against the committed table
    # (urls discovered since the refresh rank by seed/link boost alone).
    # Cadence is anchored to the round NUMBER and the table is
    # snapshot-committed, so resume is bit-exact at any cadence. A
    # 10^10-URL crawl cannot re-run PageRank every round; this is the
    # production knob (oracle mirrors it).
    authority_every: int = 1
    write_payload: bool = True    # join image bytes into the fetched sink
    max_rounds: int = 200
    round_seconds: float = S.ROUND_SECONDS  # virtual wall-clock per round
    # Snapshot retention (Iceberg expire_snapshots analog): every
    # `expire_every` committed rounds, retain the most recent
    # `expire_keep` manifests and vacuum the dirs/blobs only older ones
    # referenced. None = never expire (the correctness-test default:
    # time travel to ANY snapshot stays available). A continuous crawler
    # at one-snapshot-per-round MUST set this or manifest count and
    # superseded-compaction dirs grow without bound.
    expire_every: int | None = None
    expire_keep: int = 8
    # Policy feedback (SURVEY C6 upgrade): hosts on this list are
    # rejected at URL-policy time — the wiring for quality-driven
    # blocklists (operators: host_blocklist). Empty default keeps the
    # policy plan byte-identical to earlier rounds.
    blocked_hosts: tuple = ()
    # Parse the fixtures' sitemap bodies at bootstrap and append the
    # discovered URLs to the seed list (robots -> sitemap -> frontier
    # preseed; `sources/sitemaps.py`). Off by default: the baseline
    # parity corpus seeds only from the seed list.
    preseed_sitemaps: bool = False
    # url_seen storage layout for the exact anti-join (r5):
    # "snapshot": read the snapshot-store parquet (shuffles the full seen
    #   set into the anti-join every round).
    # "bucketed": additionally mirror url_seen into a catalog table
    #   bucketed by url_hash (`sources/bucketed.py`; Iceberg
    #   bucket(N, url_hash) at the swap point) and run the exact check
    #   as a co-located hash-equi join + tiny exact-url confirm — the
    #   10^10-row seen side is never re-shuffled (plan-asserted). The
    #   snapshot table remains the source of truth: a validity marker
    #   (buckets + round) forces a rebuild after any mode/bucket change
    #   or lost catalog, and reads filter round_added <= committed round
    #   so crash-leftover appends are invisible (duplicates from a
    #   resumed round are harmless set-semantics extras).
    seen_layout: str = "snapshot"
    seen_buckets: int | None = None   # default: max(16, 2 * parallelism)


class CrawlEngine:
    def __init__(self, spark: SparkSession, fixtures: dict, warehouse: str,
                 config: CrawlConfig | None = None) -> None:
        self.spark = spark
        self.cfg = config or CrawlConfig()
        self.store = SnapshotStore(spark, warehouse, schemas={
            "frontier": FRONTIER_SCHEMA, "url_seen": URL_SEEN_SCHEMA,
            "fetched": FETCHED_SCHEMA, "failures": FAILURES_SCHEMA,
            "host_state": HOST_STATE_SCHEMA, "metrics": METRICS_SCHEMA,
            "edges": EDGES_SCHEMA, "bloom_shards": "bucket int, bitmap binary",
            "cuckoo_shards": "bucket int, bitmap binary",
            "authority": "node string, r long",
        })
        self._bloom_m = BloomShards.sized_for(
            self.cfg.expected_urls, self.cfg.n_buckets).m_bits
        self._cuckoo_slots_log2 = CuckooShards.sized_for(
            self.cfg.expected_urls, self.cfg.n_buckets).n_slots_log2
        self.fixtures = fixtures
        # persist (lazy): the fetch join re-reads the web graph EVERY
        # round — caching it pays the parquet scan once, in round 1,
        # inside the timed run (narrow columns only, no page payloads)
        self.graph = spark.read.parquet(fixtures["web_graph"]).persist()
        # pages (the simulated web's payload store) is likewise scanned by
        # every round's payload join; persist so the bytes are decoded
        # once (round 1, inside the timed run) instead of once per round
        self.pages = (spark.read.parquet(fixtures["pages"]).persist()
                      if self.cfg.write_payload else None)
        # what the current round attempt persisted or broadcast: released
        # by run_round on every path
        self._round_cache: list = []

    def close(self) -> None:
        """Release the persisted web graph and pages (idempotent). The
        engine runs no further round after this."""
        self.graph.unpersist()
        if self.pages is not None:
            self.pages.unpersist()

    # ------------------------------------------------------------ helpers
    def _bucket(self, c):  # |url_hash| % n_buckets, sign-safe
        return F.pmod(F.abs(c), F.lit(self.cfg.n_buckets)).cast("int")

    def _width(self, rows: int | None) -> int:
        """round_width at the session's parallelism; an unknown row count
        keeps the full width."""
        par = self.spark.sparkContext.defaultParallelism
        return par if rows is None else round_width(rows, par)

    def _narrow(self, df: DataFrame, width: int) -> DataFrame:
        """df on `width` partitions (no shuffle); at full width the plan
        is left exactly as it was."""
        if width < self.spark.sparkContext.defaultParallelism:
            return df.coalesce(width)
        return df

    def _buckets_on(self, df: DataFrame, width: int) -> DataFrame:
        """df hash-partitioned by bucket: n_buckets partitions at full
        width, `width` partitions below it (a bucket stays whole in one
        partition either way)."""
        full = width >= self.spark.sparkContext.defaultParallelism
        return df.repartition(self.cfg.n_buckets if full else width,
                              "bucket")

    def _cache(self, df: DataFrame) -> DataFrame:
        """Persist df until the end of this round attempt."""
        self._round_cache.append(df.persist())
        return df

    def _maybe_bcast(self, df: DataFrame) -> DataFrame:
        """Broadcast-hint host-derived frames ONLY in pandas host-state
        mode (driver-held, known-small). In dataframe mode the whole point
        is that the host set never transits the driver — forcing
        F.broadcast would collect it there, so leave the strategy to
        Catalyst/AQE (which still auto-broadcasts under the threshold from
        file stats, and shuffle-joins at 10^8-host scale)."""
        if self.cfg.host_state_mode == "pandas":
            return F.broadcast(df)
        return df

    def _seen(self) -> DataFrame:
        """url_seen with the bucket RECOMPUTED from url_hash under the
        CURRENT n_buckets. Stored bucket values were written under the
        sizing of the round that appended them — trusting them after an
        n_buckets change breaks both the anti-join key and the shard
        cogroup (seen URLs would be refetched)."""
        seen = self._narrow(self.store.read("url_seen"),
                            self._width(self.store.row_count("url_seen")))
        return seen.select(self._bucket("url_hash").alias("bucket"),
                           "url_hash", "url")

    # ------------------------------------------- bucketed url_seen (r5)
    def _seen_table_name(self) -> str:
        import hashlib
        h = hashlib.md5(self.store.root.encode()).hexdigest()[:12]
        return f"crawl_url_seen_{h}"

    def _seen_buckets(self) -> int:
        if self.cfg.seen_buckets:
            return self.cfg.seen_buckets
        return max(16, 2 * self.spark.sparkContext.defaultParallelism)

    def _seen_layout_valid(self) -> bool:
        """The bucketed mirror is trustworthy only if the LAST commit
        maintained it at the current bucket count and the catalog still
        knows the table (a fresh session's in-memory catalog forgets it;
        the rebuild is always correct)."""
        raw = self.store.read_blob("seen_layout_meta")
        if raw is None:
            return False
        try:
            meta = json.loads(raw)
        except ValueError:
            return False
        snap = self.store.snapshot() or {}
        return (meta.get("buckets") == self._seen_buckets()
                and meta.get("round") == snap.get("round")
                and self.spark.catalog.tableExists(self._seen_table_name()))

    def _seen_catalog_write(self, rows: DataFrame, mode: str) -> None:
        from ..sources.bucketed import write_bucketed
        name = self._seen_table_name()
        if mode == "overwrite":
            # a fresh session's in-memory catalog forgets the table but
            # its warehouse dir survives — saveAsTable then fails with
            # LOCATION_ALREADY_EXISTS; clear both before rebuilding
            import shutil
            from urllib.parse import urlparse
            self.spark.sql(f"DROP TABLE IF EXISTS {name}")
            wdir = urlparse(
                self.spark.conf.get("spark.sql.warehouse.dir")).path
            shutil.rmtree(os.path.join(wdir, name), ignore_errors=True)
        write_bucketed(rows.select("url_hash", "url", "round_added"),
                       name, "url_hash", self._seen_buckets(), mode=mode)

    def _rebuild_seen_catalog(self) -> None:
        self._seen_catalog_write(
            self.store.read("url_seen"), "overwrite")

    def _anti_seen(self, cand: DataFrame) -> DataFrame:
        """Exact not-yet-seen filter for candidate rows.

        snapshot layout: one left-anti join on (bucket, url_hash, url) —
        correct, but the seen side shuffles every round.

        bucketed layout: v1 bucketing elides the Exchange only when the
        join keys EQUAL the bucket column (probed r5: a superset key
        re-shuffles both sides), and url_hash alone is not a correctness
        key at 10^10 URLs (64-bit collisions are expected at that
        scale). So the exact check runs in two phases:
          1. candidates ⋈ seen on url_hash ALONE (inner,
             SortMergeJoin): co-located with the table layout — ZERO
             Exchange on the seen side, one on the per-round candidate
             delta. The url-equality check must NOT be a plain filter
             on the join output: Catalyst would merge it into the join
             condition, re-keying it to (url_hash, url) and
             re-shuffling both sides (observed r5). It therefore sits
             behind a groupBy fence — aggregate max(_seen_url = url)
             per candidate url, filter on the AGGREGATED flag.
          2. the truly-seen set (true hits + rare collisions, bounded
             by the delta) anti-joins back — AQE-broadcastable.
        Reads filter round_added <= the committed round so appends from
        a crashed round never leak into a resume."""
        if self.cfg.seen_layout != "bucketed":
            return cand.join(self._seen(),
                             ["bucket", "url_hash", "url"], "left_anti")
        from ..sources.bucketed import read_bucketed
        snap_round = int((self.store.snapshot() or {}).get("round", -1))
        seen = (read_bucketed(self.spark, self._seen_table_name())
                .where(F.col("round_added") <= F.lit(snap_round))
                .select("url_hash", F.col("url").alias("_seen_url")))
        m = cand.select("url_hash", "url").join(seen, "url_hash", "inner")
        hits = (m.groupBy("url")
                .agg(F.max(F.col("_seen_url") == F.col("url"))
                     .alias("_hit"))
                .where(F.col("_hit")).select("url"))
        return cand.join(hits, "url", "left_anti")

    def _authority_rank_view(self, frontier: DataFrame, round_no: int,
                             width: int) -> DataFrame:
        """rank_mode="authority" (r5): the quality->crawl feedback loop.
        Integer PageRank (`operators/graph.py::authority_over`) over the
        DISTINCT policy-accepted edges recorded so far, nodes = url_seen,
        composed with each frontier row's STORED priority into the rank
        the politeness windows order by:

            rank = authority_r(url) + floor(priority * 1e6) * AUTH_SEED_W

        (`crawl/semantics.py` "authority rank" contract; the oracle
        crawler replays the identical integer recurrence in pure
        Python.) Returns a VIEW with `priority` replaced by the composed
        rank — the stored frontier column is never overwritten.

        Refresh cadence (`cfg.authority_every`): ranks recompute at
        rounds with (round-1) % every == 0 and the table is staged into
        the snapshot (so the cadence survives resume bit-exactly);
        other rounds rank against the committed table — urls discovered
        since the last refresh carry authority 0 until the next one.

        Scale shape: 2 shuffles per PR iteration over (url, rank) pairs
        — signatures/keys only, never page payloads; dangling self-loops
        via left-anti; node count is one scalar agg; off-refresh rounds
        pay only the rank-table join."""
        from ..operators.graph import AUTH_SEED_W, authority_over
        every = max(1, int(self.cfg.authority_every))
        if (round_no - 1) % every == 0:
            edges = (self.store.read("edges")
                     .where(F.col("reject").isNull())
                     .select(F.col("src_url").alias("src"),
                             F.col("dst_url").alias("dst"))
                     .distinct())
            nodes = self.store.read("url_seen").select(
                F.col("url").alias("node")).distinct()
            releases: list = []
            try:
                self.store.stage_write(
                    "authority",
                    self._narrow(authority_over(nodes, edges,
                                                releases=releases),
                                 width), "replace")
            finally:
                for release in releases:
                    release()
            pr = self.store.read_staged("authority")
        else:
            pr = self.store.read("authority")
        composed = (F.coalesce(F.col("r"), F.lit(0))
                    + F.floor(F.col("priority") * 1e6).cast("long")
                    * F.lit(AUTH_SEED_W)).cast("double")
        return (frontier.join(pr, frontier["url"] == pr["node"], "left")
                .withColumn("priority", composed)
                .drop("node", "r"))

    # Sidecar validity marker: the url_seen sidecar (bloom blob, bloom
    # shard rows, or cuckoo shard rows) is only trustworthy if the LAST
    # commit maintained it — rounds run in another mode, or with probing
    # disabled, append url_seen without touching the inactive
    # representations, and an out-of-date sidecar's false "definitely new"
    # verdicts would bypass the exact anti-join. The marker records which
    # representation was maintained, at which bucketing, by which round;
    # any mismatch forces a rebuild from url_seen (always correct).
    def _sidecar_valid(self, repr_key: str) -> bool:
        raw = self.store.read_blob("sidecar_meta")
        if raw is None:
            return False
        try:
            meta = json.loads(raw)
        except ValueError:
            return False
        snap = self.store.snapshot() or {}
        return (meta.get("repr") == repr_key
                and meta.get("n_buckets") == self.cfg.n_buckets
                and meta.get("round") == snap.get("round"))

    def _stage_sidecar_meta(self, repr_key: str, round_no: int) -> None:
        self.store.stage_blob("sidecar_meta", json.dumps(
            {"repr": repr_key, "n_buckets": self.cfg.n_buckets,
             "round": round_no}).encode())

    def _host_state_pdf(self):
        """host_state as driver-side pandas. The table on disk stays the
        source of truth (snapshot-versioned); the driver caches it because
        it is small relative to the frontier (one row per HOST, not URL) and
        its per-round update (fetched_count += successes) would otherwise
        cost a full Spark write job. At 10^8-host scale flip this to the
        pure-DataFrame path (join + stage_write) — the columns and
        semantics are identical."""
        if getattr(self, "_host_pdf", None) is None:
            self._host_pdf = self.store.read("host_state").toPandas()
        return self._host_pdf

    def _host_cfg(self, cols: list[str]) -> DataFrame:
        if self.cfg.host_state_mode == "dataframe":
            return self.store.read("host_state").select(*cols)
        return self.spark.createDataFrame(self._host_state_pdf()[cols])

    def _apply_url_policies(self, df: DataFrame, cfg: DataFrame) -> DataFrame:
        """Join host config and tag rows rejected by exclude patterns
        (SURVEY C6, substring containment per docs_scraper.py:171-176) or
        robots disallow path-prefixes (SURVEY C18, graft addition)."""
        out = (df.join(self._maybe_bcast(cfg), "host", "left")
               .withColumn("_path", F.regexp_replace("url", r"^https?://[^/]*", "")))
        reject = F.when(F.col("crawl_delay").isNull(),
                        F.lit("unknown_host"))
        if self.cfg.blocked_hosts:
            reject = reject.when(
                F.col("host").isin(list(self.cfg.blocked_hosts)),
                F.lit("blocked_host"))
        reject = (reject
                  .when(F.expr(
                      "exists(exclude_patterns, p -> instr(url, p) > 0)"),
                      F.lit("excluded"))
                  .when(F.expr(
                      "exists(disallow, d -> startswith(_path, d))"),
                      F.lit("robots"))
                  .otherwise(F.lit(None).cast("string")))
        return out.withColumn("reject", reject).drop("_path")

    # ------------------------------------------------------------ bootstrap
    def bootstrap(self) -> None:
        """Round 0: seed the frontier, url_seen, host_state; commit snapshot."""
        import numpy as np
        import pyarrow.dataset as ds
        import pyarrow.parquet as pq
        sp = self.spark
        # the seed list's footer row count sizes every bootstrap write
        width = self._width(ds.dataset(self.fixtures["seeds"]).count_rows())
        pol = pq.read_table(self.fixtures["politeness"]).to_pandas()
        rob = pq.read_table(self.fixtures["robots"]).to_pandas()
        if "body" in rob.columns:
            # SURVEY C18: the engine consumes the RAW robots.txt bodies (as
            # fetched) and parses them itself; pre-parsed fixture columns
            # exist only for the oracle, so crawl parity also proves the
            # parser. At fleet scale this parse runs in robots_udf over the
            # robots-fetch output; host_state is per-HOST (small), so the
            # driver-side frame here is fine.
            from ..functions.robots import parse_robots_frame
            parsed = parse_robots_frame(rob["body"])
            rob = pd.DataFrame({"host": rob["host"].to_numpy(),
                                "disallow": parsed["disallow"].to_numpy(),
                                "crawl_delay_override":
                                    parsed["crawl_delay"].to_numpy()})
        hs = pol.merge(rob, on="host", how="left")
        ovr = hs["crawl_delay_override"]
        hs["crawl_delay"] = np.where(ovr.notna() & (ovr > 0),
                                     ovr, hs["crawl_delay"])
        hs["fetched_count"] = np.int64(0)
        as_list = (lambda v: list(v)
                   if isinstance(v, (list, np.ndarray)) else [])
        hs["disallow"] = hs["disallow"].map(as_list)
        hs["exclude_patterns"] = hs["exclude_patterns"].map(as_list)
        hs = hs[["host", "crawl_delay", "max_pages", "max_depth",
                 "fetched_count", "exclude_patterns", "disallow"]]
        self._host_pdf = hs
        self.store.stage_write_arrow("host_state", hs, "replace")

        raw_seeds = sp.read.parquet(self.fixtures["seeds"])
        if self.cfg.preseed_sitemaps:
            # robots-declared sitemaps -> parse raw bodies -> seed rows
            # (SURVEY sitemap ingest; engine-internal discovery channel)
            from ..sources.sitemaps import (SITEMAP_SEED_BASE,
                                            parse_sitemaps,
                                            sitemaps_to_seeds)
            bodies = sp.read.parquet(self.fixtures["sitemaps"])
            extra = sitemaps_to_seeds(parse_sitemaps(bodies),
                                      base_seq=SITEMAP_SEED_BASE)
            raw_seeds = raw_seeds.unionByName(extra)
        seeds = (raw_seeds
                 .select(resolve_udf("url", F.lit(None).cast("string")).alias("r"),
                         "seed_seq", "priority")
                 .select(F.col("r.url").alias("url"), F.col("r.host").alias("host"),
                         F.col("r.url_hash").alias("url_hash"),
                         "seed_seq", "priority")
                 .where(F.col("url").isNotNull()))
        # host_state is staged but not yet committed here, so the policy
        # config comes from the local frame in BOTH host_state modes
        seeds = self._apply_url_policies(
            seeds, sp.createDataFrame(hs[["host", "crawl_delay",
                                          "exclude_patterns", "disallow"]]))
        ok = seeds.where(F.col("reject").isNull())
        # alias seeds (distinct raw strings, same canonical URL) collapse
        # keep-first by seed_seq — the oracle's add-before-enqueue skip
        w_seed = Window.partitionBy("url").orderBy("seed_seq")
        ok = (ok.withColumn("_rn", F.row_number().over(w_seed))
              .where(F.col("_rn") == 1).drop("_rn"))
        frontier = self._narrow(ok.select(
            "url", "url_hash", self._bucket("url_hash").alias("bucket"), "host",
            F.lit(0).alias("depth"), "priority",
            F.col("seed_seq").alias("discovery_seq"),
            F.lit(1).alias("attempt")), width).persist()
        # add-before-enqueue: seeds enter url_seen immediately (C2 semantics)
        url_seen = frontier.select("url", "url_hash", "bucket",
                                   F.lit(0).alias("round_added"))
        # the bootstrap writes are independent DAGs over the persisted
        # seed frontier — run them concurrently like the round sinks
        from concurrent.futures import ThreadPoolExecutor
        tasks = [lambda: self.store.stage_write("frontier", frontier,
                                                "replace"),
                 lambda: self.store.stage_write("url_seen", url_seen,
                                                "append")]
        if self.cfg.use_bloom:
            if self.cfg.bloom_mode == "partitioned":
                # per-bucket shard rows built AND stored executor-side; the
                # driver never holds a bitmap
                tasks.append(lambda: self.store.stage_write(
                    "bloom_shards", self._shard_partials(frontier, width),
                    "replace"))
            elif self.cfg.bloom_mode == "cuckoo":
                tasks.append(lambda: self.store.stage_write(
                    "cuckoo_shards",
                    self._narrow(self._cuckoo_shard_rows(frontier), width),
                    "replace"))
            else:
                def _blob_task():
                    bloom = BloomShards.sized_for(self.cfg.expected_urls,
                                                  self.cfg.n_buckets)
                    self._bloom_add(bloom, frontier, width)
                    self.store.stage_blob("bloom", bloom.to_bytes())
                tasks.append(_blob_task)
            self._stage_sidecar_meta(self.cfg.bloom_mode, 0)
        if self.cfg.seen_layout == "bucketed":
            tasks.append(lambda: self._seen_catalog_write(url_seen,
                                                          "overwrite"))
            self.store.stage_blob("seen_layout_meta", json.dumps(
                {"buckets": self._seen_buckets(), "round": 0}).encode())
        with ThreadPoolExecutor(max_workers=len(tasks)) as pool:
            for f in [pool.submit(t) for t in tasks]:
                f.result()
        frontier.unpersist()
        self.store.commit(round_no=0, metrics={"round": 0, "event": "bootstrap"})

    def _shard_partials(self, df: DataFrame, width: int) -> DataFrame:
        """Executor-built per-bucket partial bitmaps, one row per bucket
        (repartition-by-bucket puts each bucket wholly in one partition)."""
        return (self._buckets_on(df.select("bucket", "url_hash"), width)
                .mapInPandas(partial_bitmaps(self._bloom_m,
                                             self.cfg.n_buckets),
                             schema="bucket int, bitmap binary"))

    def _cuckoo_shard_rows(self, df: DataFrame,
                           shards_df: DataFrame | None = None) -> DataFrame:
        """Executor-built/updated per-bucket cuckoo shard rows: each
        bucket's single owner task inserts its new hashes into the
        deserialized shard (cogrouped with the existing rows when given —
        cuckoo filters don't OR-merge, single ownership replaces it)."""
        if shards_df is None:
            shards_df = self.spark.createDataFrame(
                [], "bucket int, bitmap binary")
        return (df.select("bucket", "url_hash")
                .groupBy("bucket")
                .cogroup(shards_df.groupBy("bucket"))
                .applyInPandas(
                    cuckoo_upsert_fn(self.cfg.n_buckets,
                                     self._cuckoo_slots_log2),
                    schema="bucket int, bitmap binary"))

    def _bloom_add(self, bloom: BloomShards, df: DataFrame,
                   width: int) -> None:
        """OR executor-built per-partition bitmaps into the sidecar shards.
        Constant-size data to the driver per (partition, bucket)."""
        # co-partition by bucket first: one bitmap per (partition, bucket)
        # reaches the driver, so the transfer is n_buckets * m/8 bytes per
        # round, independent of row count
        parts = (self._buckets_on(df.select("bucket", "url_hash"), width)
                 .mapInPandas(partial_bitmaps(bloom.m_bits, bloom.n_buckets),
                              schema="bucket int, bitmap binary")
                 .collect())
        import numpy as np
        for row in parts:
            bloom.merge_bitmap(int(row["bucket"]),
                               np.frombuffer(row["bitmap"], dtype=np.uint8))

    # ------------------------------------------------------------ one round
    def run_round(self, round_no: int) -> dict:
        """One crawl round, committed atomically: a failed attempt aborts
        everything it staged, so a retry — on this engine or after a
        resume — starts from the last commit."""
        try:
            return self._round(round_no)
        except BaseException:
            self.store.abort()
            self._host_pdf = None  # re-read from the committed host_state
            raise
        finally:
            for held in self._round_cache:
                held.unpersist()
            self._round_cache.clear()

    def _round(self, round_no: int) -> dict:
        import numpy as np
        t0 = time.time()
        sp = self.spark
        cfg = self.cfg
        # the round's width, from the committed frontier's row count:
        # it sizes the frontier read (and with it the rank -> fetch ->
        # resolve -> policy chain), the probe cogroup and every write
        width = self._width(self.store.row_count("frontier"))
        frontier = self._narrow(self.store.read("frontier"), width)
        if cfg.seen_layout == "bucketed" and not self._seen_layout_valid():
            # mode switch / bucket-count change / fresh session catalog:
            # rebuild the bucketed mirror from the committed url_seen
            # (always correct; the anti-join below reads it lazily)
            self._rebuild_seen_catalog()

        # -- politeness quota (SURVEY C9): two-phase salted ranking ---------
        # quota = min(max(round_seconds/crawl_delay, 1), remaining budget)
        if cfg.host_state_mode == "dataframe":
            hs = None
            quota_cfg = (self.store.read("host_state")
                         .select("host", "crawl_delay",
                                 F.least(
                                     F.greatest(
                                         F.floor(F.lit(cfg.round_seconds)
                                                 / F.col("crawl_delay")),
                                         F.lit(1)),
                                     F.col("max_pages")
                                     - F.col("fetched_count"))
                                 .cast("int").alias("quota"))
                         .where(F.col("quota") > 0))
            qs = quota_cfg.agg(F.max("quota").alias("mx"),
                               F.sum("quota").alias("sm"),
                               F.count("*").alias("n")).first()
            max_quota = int(qs["mx"] or 0)
            quota_sum = int(qs["sm"] or 0)
            n_alive = int(qs["n"])
        else:
            hs = self._host_state_pdf()
            quota = np.minimum(
                np.maximum((cfg.round_seconds / hs["crawl_delay"])
                           .astype(np.int64), 1),
                (hs["max_pages"] - hs["fetched_count"]).astype(np.int64))
            qpdf = pd.DataFrame({"host": hs["host"],
                                 "crawl_delay": hs["crawl_delay"],
                                 "quota": quota.astype(np.int32)})
            alive_pdf = qpdf[qpdf["quota"] > 0]
            max_quota = int(alive_pdf["quota"].max()) if len(alive_pdf) else 0
            quota_sum = int(alive_pdf["quota"].sum()) if len(alive_pdf) else 0
            n_alive = len(alive_pdf)
            if n_alive:
                quota_cfg = sp.createDataFrame(alive_pdf)
        if n_alive == 0:
            # every remaining host's max_pages budget is exhausted: the
            # crawl is over (oracle: quota<=0 drops the host's rows).
            # Commit an empty frontier so the driver loop terminates.
            self.store.stage_write(
                "frontier", sp.createDataFrame([], FRONTIER_SCHEMA),
                "replace")
            metrics = {"round": round_no, "scheduled": 0, "fetched_ok": 0,
                       "failed": 0, "retried": 0, "rejected": {},
                       "discovered": 0, "new_urls": 0, "frontier_size": 0,
                       "url_seen_lineage_per_bucket": {},
                       "wall_ms": (time.time() - t0) * 1000.0}
            self.store.stage_write_arrow("metrics", pd.DataFrame([{
                k: v for k, v in metrics.items()
                if k not in ("rejected", "url_seen_lineage_per_bucket")}]),
                "append")
            self.store.commit(round_no, metrics)
            return metrics
        if cfg.rank_mode == "bfs":
            order_cols = [F.col("depth").asc(), F.col("discovery_seq").asc()]
        else:
            order_cols = [F.col("priority").desc(), F.col("depth").asc(),
                          F.col("discovery_seq").asc()]
        # rank on NARROW columns (late materialization): the url string is
        # dead weight through the two window shuffles — rank moves ~32B/row,
        # then the quota-bounded survivor set joins the full row back. At
        # 10^10-frontier scale this is the difference between shuffling
        # hashes and shuffling the web's URLs.
        rank_view = (self._authority_rank_view(frontier, round_no, width)
                     if cfg.rank_mode == "authority" else frontier)
        narrow = rank_view.select("url_hash", "host", "depth", "priority",
                                  "discovery_seq")
        ranked = politeness_rank(
            narrow, quota_cfg, order_cols, cfg.n_salt, round_no,
            cfg.round_seconds, max_quota=max_quota,
            broadcast_quota=(cfg.host_state_mode == "pandas"))
        ranked_keys = ranked.select("url_hash", "discovery_seq",
                                    "crawl_delay", "fetch_slot", "fetch_ts")
        # the ranked set is quota-bounded (<= sum of host quotas rows): when
        # that bound fits the session's broadcast budget (~40 B/row for the
        # five narrow columns), the frontier joins it without a shuffle;
        # beyond it fall back to a shuffled join (at real scale: storage-
        # partitioned join on the shared url_hash bucketing). Gating on
        # estimated BYTES vs autoBroadcastJoinThreshold (not a fixed row
        # count) keeps the broadcast within executor memory on any cluster.
        bcast_limit = _parse_byte_size(
            sp.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760"))
        if bcast_limit > 0 and quota_sum * 40 <= bcast_limit:
            ranked_keys = F.broadcast(ranked_keys)
        # persisted: consumed by the fetch join AND the next-frontier
        # anti-join — persisting avoids running the two-phase ranking
        # windows twice
        scheduled = self._cache(frontier.join(
            ranked_keys, ["url_hash", "discovery_seq"]))

        # -- fetch-simulate (SURVEY S1/S2): join the web graph. URL equality
        # alone is the correctness key; bucket pruning belongs to the
        # storage layer (Iceberg SPJ) — a bucket-equality conjunct here
        # would silently break whenever cfg.n_buckets differs from the
        # fixture's on-disk bucketing.
        g = self.graph.select(F.col("url").alias("g_url"), "status",
                              "fail_attempts", "out_links", "image_id")
        fetch = (scheduled.join(
                     g, on=[scheduled["url"] == g["g_url"]],
                     how="left")
                 .drop("g_url"))
        fetch = self._cache(fetch.withColumn(
            "outcome",
            F.when(F.col("status").isNull() | (F.col("status") != 200),
                   F.lit("http_error"))
             .when(F.col("attempt") <= F.col("fail_attempts"),
                   F.when(F.col("attempt") < S.MAX_ATTEMPTS, F.lit("timeout_retry"))
                    .otherwise(F.lit("timeout_dead")))
             .otherwise(F.lit("success"))))

        success = fetch.where(F.col("outcome") == "success")
        retries = fetch.where(F.col("outcome") == "timeout_retry")
        failures = fetch.where(F.col("outcome").isin("http_error", "timeout_dead"))

        # -- expansion (SURVEY C10): explode -> resolve -> filter -> dedupe -
        parents = (success
                   .join(self._maybe_bcast(self._host_cfg(["host", "max_depth"])
                                           .withColumnRenamed("max_depth", "md")),
                         "host")
                   .where(F.col("depth") < F.col("md"))
                   .select(F.col("url").alias("parent_url"),
                           F.col("host").alias("parent_host"),
                           F.col("depth").alias("parent_depth"),
                           F.col("discovery_seq").alias("parent_seq"),
                           F.posexplode("out_links").alias("pos", "link")))
        resolved = (parents
                    .withColumn("r", resolve_udf("link", "parent_url"))
                    .select(F.col("r.url").alias("url"),
                            F.col("r.host").alias("host"),
                            F.col("r.url_hash").alias("url_hash"),
                            F.col("parent_url").alias("src_url"),
                            "parent_host", "parent_depth", "parent_seq", "pos")
                    .where(F.col("url").isNotNull()
                           & (F.col("host") == F.col("parent_host")))
                    .withColumn("depth", F.col("parent_depth") + 1)
                    .withColumn("discovery_seq",  # = S.child_seq, columnar
                                F.col("parent_seq")
                                * F.lit(1 << S.SEQ_LEVEL_BITS)
                                + F.col("pos") + 1)
                    .drop("parent_host", "parent_depth", "parent_seq", "pos"))
        policed = self._cache(self._apply_url_policies(
            resolved, self._host_cfg(["host", "crawl_delay",
                                      "exclude_patterns", "disallow"])))
        kept = policed.where(F.col("reject").isNull())
        # keep-first within the batch (SURVEY C16): min (depth, discovery_seq)
        deduped = (kept.groupBy("url_hash", "url", "host")
                   .agg(F.min(F.struct("depth", "discovery_seq")).alias("m"))
                   .select("url_hash", "url", "host",
                           F.col("m.depth").alias("depth"),
                           F.col("m.discovery_seq").alias("discovery_seq"))
                   .withColumn("bucket", self._bucket("url_hash")))

        # -- url_seen anti-join with bloom pre-filter (SURVEY C2) -----------
        # The sidecar must remain a SUPERSET of url_seen across config
        # changes: it is read and maintained whenever it exists (even with
        # probing disabled), and rebuilt from url_seen when probing is
        # enabled but no blob was carried — otherwise a stale blob's false
        # "definitely new" verdicts would bypass the exact anti-join.
        use_part_bloom = (cfg.use_bloom
                          and cfg.bloom_mode in ("partitioned", "cuckoo"))
        is_cuckoo = cfg.bloom_mode == "cuckoo"
        sidecar_tbl = "cuckoo_shards" if is_cuckoo else "bloom_shards"
        repr_key = cfg.bloom_mode if cfg.use_bloom else None
        shards_df = None
        bloom_bytes = None
        bloom = None
        if use_part_bloom:
            # executor-resident sidecar: per-bucket shard rows cogrouped
            # against the candidate buckets — each task receives only its
            # buckets' bitmaps, once, and the driver never holds the set
            snap_tables = (self.store.snapshot() or {}).get("tables", {})
            if snap_tables.get(sidecar_tbl) and self._sidecar_valid(repr_key):
                shards_df = self.store.read(sidecar_tbl)
            else:  # mode switch / stale (rounds ran in another mode or
                # with probing off) / n_buckets change / fresh enable:
                # rebuild from url_seen, still executor-side (staged with
                # this round's update)
                seen = self._seen()
                shards_df = self._cache(
                    self._cuckoo_shard_rows(seen) if is_cuckoo
                    else self._shard_partials(seen, width))
            out_cols = deduped.columns
            # fresh StructType: StructType.add MUTATES the frame's cached
            # schema, which would poison the cogroup's column resolution
            extra_fields = [T.StructField("maybe", T.BooleanType())]
            if not is_cuckoo:
                # fused probe+insert (r6): the same cogroup pass emits the
                # updated shard rows (bitmap set, candidate columns null)
                # alongside the probed candidates — the separate
                # partial_bitmaps -> or_merge update job disappears
                extra_fields.append(T.StructField("bitmap", T.BinaryType()))
            out_schema = T.StructType(
                list(deduped.schema.fields) + extra_fields)
            probe = (cuckoo_probe_fn(out_cols, cfg.n_buckets) if is_cuckoo
                     else partitioned_probe_upsert_fn(out_cols,
                                                      self._bloom_m))
            # below full width both sides are hash-partitioned by bucket
            # at the round's width, which the cogroup takes as its own
            # partitioning (no further exchange). At least 2: a one-way
            # repartition plans as a single partition, which the cogroup
            # re-shuffles at full width whenever the candidates' size
            # estimate (a product over the round's joins) is large.
            cand, shards = deduped, shards_df
            probe_width = max(width, 2)
            if probe_width < sp.sparkContext.defaultParallelism:
                cand = deduped.repartition(probe_width, "bucket")
                shards = shards_df.repartition(probe_width, "bucket")
            # persist: both the definite-new and to-confirm branches read
            # this frame — uncached, the cogrouped shard probe (the most
            # expensive per-round stage at scale) would run twice
            probed = self._cache(cand.groupBy("bucket")
                                 .cogroup(shards.groupBy("bucket"))
                                 .applyInPandas(probe, schema=out_schema))
            # shard rows carry maybe=null, so the candidate filters below
            # exclude them without an explicit bitmap-null conjunct
            drop_cols = ["maybe"] + (["bitmap"] if not is_cuckoo else [])
            definite_new = probed.where(~F.col("maybe")).drop(*drop_cols)
            to_confirm = probed.where(F.col("maybe")).drop(*drop_cols)
            confirmed = self._anti_seen(to_confirm)
            new_urls = definite_new.unionByName(confirmed)
        else:
            bloom_bytes = self.store.read_blob("bloom")
            if bloom_bytes is not None and not self._sidecar_valid("broadcast"):
                # stale (rounds ran in another mode / with probing off /
                # n_buckets changed): do not probe it AND do not keep
                # maintaining it — a maintained-but-gappy blob would look
                # fresh to a later re-enable. Rebuild (below) or drop.
                bloom_bytes = None
            if cfg.use_bloom and bloom_bytes is None:
                rebuilt = BloomShards.sized_for(cfg.expected_urls,
                                                cfg.n_buckets)
                self._bloom_add(rebuilt,
                                self._seen().select("bucket", "url_hash"),
                                width)
                bloom_bytes = rebuilt.to_bytes()
            if bloom_bytes is not None and cfg.use_bloom:
                bloom = BloomShards.from_bytes(bloom_bytes)
                maybe_seen = bloom_probe_udf(sp, bloom_bytes)
                # release this round's sidecar-blob broadcast with the
                # round — otherwise each round's version stays pinned in
                # block-manager memory
                self._round_cache.append(maybe_seen.blob_broadcast)
                probed = self._cache(self._narrow(deduped, width).withColumn(
                    "maybe", maybe_seen("bucket", "url_hash")))
                definite_new = probed.where(~F.col("maybe")).drop("maybe")
                to_confirm = probed.where(F.col("maybe")).drop("maybe")
                confirmed = self._anti_seen(to_confirm)
                new_urls = definite_new.unionByName(confirmed)
            else:
                # probing disabled — but keep maintaining an existing
                # sidecar so re-enabling use_bloom later stays safe
                bloom = (BloomShards.from_bytes(bloom_bytes)
                         if bloom_bytes is not None else None)
                new_urls = self._anti_seen(deduped)
        new_urls = self._cache(new_urls)

        # -- next frontier: unscheduled + retries + new (anti-join, no skew) -
        alive_hosts = quota_cfg.select("host")
        unscheduled = (frontier
                       .join(self._maybe_bcast(alive_hosts), "host", "left_semi")
                       .join(scheduled.select("url_hash", "url"),
                             ["url_hash", "url"], "left_anti"))
        retry_rows = retries.select("url", "url_hash", "bucket", "host", "depth",
                                    "priority",
                                    "discovery_seq",
                                    (F.col("attempt") + 1).alias("attempt"))
        # discovered-link priority (SURVEY C12 slot: in production this is
        # the post-URL heuristic score; here a deterministic hash-derived
        # score so rank_mode="priority" is exercised — the oracle computes
        # the identical function)
        new_frontier_rows = new_urls.select(
            "url", "url_hash", "bucket", "host", "depth",
            (F.pmod(F.abs("url_hash"), F.lit(1000)).cast("double") / 1000.0)
            .alias("priority"), "discovery_seq",
            F.lit(1).alias("attempt"))
        next_frontier = (unscheduled
                         .select("url", "url_hash", "bucket", "host", "depth",
                                 "priority", "discovery_seq", "attempt")
                         .unionByName(retry_rows)
                         .unionByName(new_frontier_rows))

        # -- sinks -----------------------------------------------------------
        fetched_cols = success.select(
            "url", "host", "depth", F.lit(round_no).alias("round"),
            "discovery_seq", "fetch_slot", "fetch_ts", "image_id")
        if self.pages is not None:
            pages = self.pages.select("image_id", "caption", "w", "h", "fmt",
                                      "phash", "bytes")
            # inner join for the matched payloads (fetched_cols is the
            # quota-bounded small side), then re-attach any success whose
            # image_id is NULL or absent from pages with a null payload —
            # an inner join alone would silently DROP those fetches, while
            # the oracle records every success (parity + data loss)
            matched = (pages.join(F.broadcast(fetched_cols), "image_id")
                       .select("url", "host", "depth", "round",
                               "discovery_seq", "fetch_slot", "fetch_ts",
                               "image_id", "caption", "w", "h", "fmt",
                               "phash", "bytes"))
            # a success is unmatched iff its image_id is NULL or matched no
            # page: anti-join against the ids THIS round matched — bounded
            # by the round's successes, so broadcastable at any scale,
            # unlike the whole pages.image_id column
            unmatched = (fetched_cols.join(
                F.broadcast(matched.select("image_id")), "image_id",
                "left_anti")
                .select("url", "host", "depth", "round", "discovery_seq",
                        "fetch_slot", "fetch_ts", "image_id",
                        F.lit(None).cast("string").alias("caption"),
                        F.lit(None).cast("int").alias("w"),
                        F.lit(None).cast("int").alias("h"),
                        F.lit(None).cast("string").alias("fmt"),
                        F.lit(None).cast("long").alias("phash"),
                        F.lit(None).cast("binary").alias("bytes")))
            fetched_rows = matched.unionByName(unmatched)
        else:
            fetched_rows = fetched_cols.select(
                "*", F.lit(None).cast("string").alias("caption"),
                F.lit(None).cast("int").alias("w"), F.lit(None).cast("int").alias("h"),
                F.lit(None).cast("string").alias("fmt"),
                F.lit(None).cast("long").alias("phash"),
                F.lit(None).cast("binary").alias("bytes"))
        failure_rows = failures.select(
            "url", "host", "depth", F.lit(round_no).alias("round"),
            "discovery_seq", "attempt",
            F.col("outcome").alias("reason"))

        # -- metrics: the three small aggregations (fetch outcomes per host,
        # policy-reject breakdown, per-bucket new-url lineage) are unioned
        # into ONE action so the driver pays one job-scheduling round trip;
        # the subtrees read only the persisted fetch/policed/new_urls caches.
        # Everything else comes free from parquet footers of the staged
        # writes — no redundant Spark jobs.
        ho_agg = (fetch.groupBy("host", "outcome")
                  .agg(F.count("*").alias("cnt"))
                  .select(F.lit("outcome").alias("kind"),
                          F.col("host").alias("k1"),
                          F.col("outcome").alias("k2"), "cnt"))
        pol_agg = (policed.groupBy("reject").agg(F.count("*").alias("cnt"))
                   .select(F.lit("policy").alias("kind"),
                           F.lit(None).cast("string").alias("k1"),
                           F.coalesce("reject", F.lit("ok")).alias("k2"), "cnt"))
        lin_agg = (new_urls.groupBy("bucket").agg(F.count("*").alias("cnt"))
                   .select(F.lit("lineage").alias("kind"),
                           F.lit(None).cast("string").alias("k1"),
                           F.col("bucket").cast("string").alias("k2"), "cnt"))
        stats_df = ho_agg.unionByName(pol_agg).unionByName(lin_agg)

        # -- stage + commit: the five sinks are independent DAGs over cached
        # inputs, so they run as CONCURRENT Spark jobs (threaded driver),
        # overlapped with the metrics collect on this thread — the cluster
        # pipelines all six actions instead of idling between them.
        from concurrent.futures import ThreadPoolExecutor
        # materialized web-graph edges (SURVEY §1.3): every same-host
        # candidate link this round, with its policy outcome — downstream
        # link-analysis (PageRank-style priors, dead-link audits) reads this
        edges_rows = policed.select(
            "src_url", F.col("url").alias("dst_url"),
            F.lit(round_no).alias("round"), "reject")
        sink_writes = [
            ("edges", edges_rows, "append"),
            ("frontier", next_frontier, "replace"),
            ("url_seen", new_urls.select("url", "url_hash", "bucket",
                                         F.lit(round_no).alias("round_added")),
             "append"),
            ("fetched", fetched_rows, "append"),
            ("failures", failure_rows, "append"),
        ]
        # the per-round STATE updates (bucketed-seen mirror append,
        # host_state budget update, sidecar shard update) read only the
        # persisted fetch/new_urls/probed caches, so they join the same
        # concurrent batch as the sinks instead of running sequentially
        # after it — at toy scale each serialized small job costs a full
        # scheduling round trip
        tasks = []
        if cfg.seen_layout == "bucketed":
            tasks.append(lambda: self._seen_catalog_write(
                self._narrow(new_urls.select(
                    "url_hash", "url", F.lit(round_no).alias("round_added")),
                    width),
                "append"))
        if cfg.host_state_mode == "dataframe":
            succ = (fetch.where(F.col("outcome") == "success")
                    .groupBy("host").agg(F.count("*").alias("_ok")))
            new_hs_df = (self.store.read("host_state")
                         .join(succ, "host", "left")
                         .withColumn("fetched_count",
                                     F.col("fetched_count")
                                     + F.coalesce(F.col("_ok"), F.lit(0)))
                         .drop("_ok"))
            tasks.append(lambda: self.store.stage_write(
                "host_state", self._narrow(new_hs_df, width), "replace"))
        if use_part_bloom:
            if is_cuckoo:
                merged = self._cuckoo_shard_rows(new_urls, shards_df)
            else:
                # fused path: the updated shard rows came out of the probe
                # cogroup itself — this write only filters the persisted
                # probe output, no extra shuffle
                merged = probed.where(F.col("bitmap").isNotNull()) \
                               .select("bucket", "bitmap")
            tasks.append(lambda: self.store.stage_write(
                sidecar_tbl, self._narrow(merged, width), "replace"))
        # leaving the block waits for every write, also when one fails,
        # so run_round's abort sees all that this attempt staged
        with ThreadPoolExecutor(
                max_workers=len(sink_writes) + len(tasks)) as pool:
            futs = [pool.submit(self.store.stage_write, t,
                                self._narrow(df, width), m)
                    for t, df, m in sink_writes]
            futs += [pool.submit(t) for t in tasks]
            stats = stats_df.collect()
            for f in futs:  # join the concurrent sink + state-update writes
                f.result()
        outcome_counts: dict[str, int] = {}
        host_ok: dict[str, int] = {}
        policy_counts: dict[str, int] = {}
        lineage: dict[str, int] = {}
        for r in stats:
            if r["kind"] == "outcome":
                outcome_counts[r["k2"]] = outcome_counts.get(r["k2"], 0) + r["cnt"]
                if r["k2"] == "success":
                    host_ok[r["k1"]] = r["cnt"]
            elif r["kind"] == "policy":
                policy_counts[r["k2"]] = r["cnt"]
            else:
                lineage[r["k2"]] = r["cnt"]
        reject_counts = {k: v for k, v in policy_counts.items() if k != "ok"}
        # discovered = policy-ACCEPTED candidates (oracle semantics: its
        # candidates list excludes rejected links); rejects are reported
        # separately in reject_counts / the edges table
        n_discovered = int(policy_counts.get("ok", 0))
        n_new = int(sum(lineage.values()))
        if cfg.seen_layout == "bucketed":
            # the delta was appended to the bucketed mirror BEFORE the
            # commit (in the concurrent batch above): a crash in between
            # leaves the marker at R-1 and reads filter round_added <=
            # committed round, so leftover rows are invisible until the
            # resumed round re-commits (duplicates are set-semantics
            # extras; see CrawlConfig)
            self.store.stage_blob("seen_layout_meta", json.dumps(
                {"buckets": self._seen_buckets(),
                 "round": round_no}).encode())
        if cfg.host_state_mode != "dataframe":
            new_hs = hs.copy()
            if host_ok:
                delta = (new_hs["host"].map(host_ok).fillna(0)
                         .astype(np.int64))
                new_hs["fetched_count"] = new_hs["fetched_count"] + delta
            self._host_pdf = new_hs
            self.store.stage_write_arrow("host_state", new_hs, "replace")
        if use_part_bloom:
            self._stage_sidecar_meta(repr_key, round_no)
        elif bloom is not None:
            self._bloom_add(bloom, new_urls, width)
            self.store.stage_blob("bloom", bloom.to_bytes())
            self._stage_sidecar_meta("broadcast", round_no)
        frontier_size = self.store.staged_row_count("frontier")
        wall_ms = (time.time() - t0) * 1000.0
        metrics = {
            "round": round_no,
            "scheduled": int(sum(outcome_counts.values())),
            "fetched_ok": int(outcome_counts.get("success", 0)),
            "failed": int(outcome_counts.get("http_error", 0)
                          + outcome_counts.get("timeout_dead", 0)),
            "retried": int(outcome_counts.get("timeout_retry", 0)),
            "rejected": reject_counts,
            "discovered": n_discovered,
            "new_urls": n_new,
            "frontier_size": int(frontier_size),
            "url_seen_lineage_per_bucket": lineage,
            "wall_ms": wall_ms,
        }
        self.store.stage_write_arrow("metrics", pd.DataFrame([{
            "round": round_no, "scheduled": metrics["scheduled"],
            "fetched_ok": metrics["fetched_ok"], "failed": metrics["failed"],
            "retried": metrics["retried"], "discovered": n_discovered,
            "new_urls": n_new, "frontier_size": int(frontier_size),
            "wall_ms": wall_ms}]), "append")
        self.store.commit(round_no, metrics)
        return metrics

    # ------------------------------------------------------------ driver loop
    def run(self, max_rounds: int | None = None, verbose: bool = False) -> list[dict]:
        if self.store.current_snapshot_id() is None:
            self.bootstrap()
        start_round = int(self.store.snapshot()["round"]) + 1
        out = []
        limit = max_rounds or self.cfg.max_rounds
        for r in range(start_round, start_round + limit):
            m = self.run_round(r)
            out.append(m)
            if (self.cfg.expire_every
                    and r % self.cfg.expire_every == 0):
                m["expired"] = self.store.expire_snapshots(
                    keep_last=self.cfg.expire_keep)
            if verbose:
                print(f"round {r}: {m}")
            if m["frontier_size"] == 0:
                break
        return out
