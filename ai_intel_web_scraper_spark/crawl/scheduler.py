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

import time
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import urls as U
from . import semantics as S
from .bloom import BloomShards, partial_bitmaps, partitioned_probe_upsert_fn
from .statestore import SnapshotStore

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


# The url_seen sidecar's representation, as the validity marker records
# it: per-bucket bloom shard rows in the bloom_shards table.
_SIDECAR_REPR = "partitioned"


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
                    round_no: int, round_seconds: float, max_quota: int,
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
    # broadcast_quota=False when the host table must not transit the
    # driver (the engine's host_state) — Catalyst/AQE picks the strategy
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
    # The url_seen pre-filter is one representation: per-bucket bloom
    # shard rows in the snapshot's bloom_shards table, probed and updated
    # by one bucket-cogrouped applyInPandas pass — the driver never
    # materializes the set (at the 10^10-URL sizing a single filter
    # object would be ~10+ GB). url_seen is insert-only, so a plain bloom
    # suffices: nothing needs deletes. "partitioned" is the only accepted
    # value.
    bloom_mode: str = _SIDECAR_REPR
    # host_state stays a table end to end: quota derivation, the
    # max/sum quota scalars (one small agg job) and the fetched_count
    # update (join + staged replace) are Spark jobs; the driver never
    # holds the host set. "dataframe" is the only accepted value.
    host_state_mode: str = "dataframe"
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
    round_seconds: float = S.ROUND_SECONDS  # virtual wall-clock per round
    # Snapshot retention (Iceberg expire_snapshots analog): every
    # `expire_every` committed rounds, retain the most recent
    # `expire_keep` manifests and vacuum the dirs only older ones
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

    def __post_init__(self) -> None:
        if self.bloom_mode != _SIDECAR_REPR:
            raise ValueError(f"unsupported bloom_mode {self.bloom_mode!r}: "
                             f"the only url_seen sidecar is {_SIDECAR_REPR!r}")
        if self.host_state_mode != "dataframe":
            raise ValueError(
                f"unsupported host_state_mode {self.host_state_mode!r}: "
                "host_state is always 'dataframe'")


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
            "authority": "node string, r long",
        })
        self._bloom_m = BloomShards.sized_for(
            self.cfg.expected_urls, self.cfg.n_buckets).m_bits
        # the sidecar validity marker: the shard layout every commit that
        # maintained the bloom shards records in its own manifest
        self._sidecar = {"n_buckets": self.cfg.n_buckets,
                         "m_bits": self._bloom_m}
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
        # what the current attempt (bootstrap or round) persisted:
        # released by _attempt on every path
        self._attempt_cache: list = []

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
        """Persist df until the end of this attempt."""
        self._attempt_cache.append(df.persist())
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

    def _anti_seen(self, cand: DataFrame) -> DataFrame:
        """Exact not-yet-seen filter for candidate rows: one left-anti join
        against the committed url_seen on (bucket, url_hash, url). The url
        is part of the key because url_hash alone is not a correctness key
        at 10^10 URLs (64-bit collisions are expected at that scale).

        The seen side shuffles every round. At 10^10 URLs it needs a
        storage-partitioned join (Iceberg SPJ on bucket(N, url_hash)) so
        the seen side is never re-shuffled; this parquet snapshot store
        cannot express one. The bloom pre-filter keeps the probe side to
        the "maybe seen" candidates meanwhile."""
        return cand.join(self._seen(), ["bucket", "url_hash", "url"],
                         "left_anti")

    def _shard_partials(self, df: DataFrame, width: int) -> DataFrame:
        """Executor-built per-bucket partial bitmaps, one row per bucket
        (repartition-by-bucket puts each bucket wholly in one partition)."""
        return (self._buckets_on(df.select("bucket", "url_hash"), width)
                .mapInPandas(partial_bitmaps(self._bloom_m,
                                             self.cfg.n_buckets),
                             schema="bucket int, bitmap binary"))

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

    def _apply_url_policies(self, df: DataFrame, cfg: DataFrame) -> DataFrame:
        """Join host config and tag rows rejected by exclude patterns
        (SURVEY C6, substring containment per docs_scraper.py:171-176) or
        robots disallow path-prefixes (SURVEY C18, graft addition)."""
        out = (df.join(cfg, "host", "left")
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
        """Round 0: seed host_state, admit the seeds into frontier and
        url_seen by the round's own admission plan, and commit the
        snapshot — atomically (see _attempt)."""
        self._attempt(self._bootstrap)

    def _bootstrap(self) -> None:
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
                 .select(F.col("r.url").alias("url"),
                         F.col("r.url_hash").alias("url_hash"),
                         F.col("r.host").alias("host"),
                         F.lit(0).alias("depth"),
                         F.col("seed_seq").alias("discovery_seq"),
                         "priority")
                 .where(F.col("url").isNotNull()))
        # the seeds take the round's admission: alias seeds (distinct raw
        # strings, same canonical URL) collapse keep-first by seed_seq —
        # the oracle's add-before-enqueue skip. host_state is staged, not
        # committed, so the policy config is the staged read; url_seen is
        # empty, so the committed (empty) shard read is its superset
        _, new_urls, admit_writes = self._admit(
            seeds, self.store.read_staged("host_state"),
            self.store.read("bloom_shards"), width, 0)
        self._stage([("frontier", new_urls, "replace")] + admit_writes,
                    width)
        self.store.commit(round_no=0, metrics={"round": 0, "event": "bootstrap"},
                          sidecar=self._sidecar)

    # ------------------------------------------------------------ admission
    def _admit(self, cand: DataFrame, host_state: DataFrame,
               shards: DataFrame, width: int, round_no: int):
        """The add-before-enqueue admission (SURVEY C2/C16) that the
        bootstrap's seeds and every round's discovered links take: URL
        policy -> keep-first per URL -> fused bloom probe + shard update
        -> exact url_seen confirm of the "maybe seen" rows.

        cand: (url, url_hash, host, depth, discovery_seq, priority
        [, src_url]); host_state: the policy config; shards: bloom shard
        rows that are a superset of url_seen. Returns the policed
        candidates (every row, `reject` tagged), the admitted URLs as
        frontier rows, and the url_seen and bloom_shards writes."""
        policed = self._cache(self._apply_url_policies(
            cand, host_state.select("host", "crawl_delay",
                                    "exclude_patterns", "disallow")))
        # keep-first within the batch (SURVEY C16): min (depth,
        # discovery_seq); a URL's priority rides along with its first row
        deduped = (policed.where(F.col("reject").isNull())
                   .groupBy("url_hash", "url", "host")
                   .agg(F.min(F.struct("depth", "discovery_seq", "priority"))
                        .alias("m"))
                   .select("url_hash", "url", "host",
                           F.col("m.depth").alias("depth"),
                           F.col("m.discovery_seq").alias("discovery_seq"),
                           F.col("m.priority").alias("priority"))
                   .withColumn("bucket", self._bucket("url_hash")))
        # fused probe+insert (r6): the same cogroup pass emits the
        # updated shard rows (bitmap set, candidate columns null)
        # alongside the probed candidates. The sidecar is executor-
        # resident: each task receives only its buckets' bitmaps, once,
        # and the driver never holds the set. Fresh StructType:
        # StructType.add MUTATES the frame's cached schema, which would
        # poison the cogroup's column resolution
        out_schema = T.StructType(
            list(deduped.schema.fields)
            + [T.StructField("maybe", T.BooleanType()),
               T.StructField("bitmap", T.BinaryType())])
        probe = partitioned_probe_upsert_fn(deduped.columns, self._bloom_m)
        # below full width both sides are hash-partitioned by bucket
        # at the round's width, which the cogroup takes as its own
        # partitioning (no further exchange). At least 2: a one-way
        # repartition plans as a single partition, which the cogroup
        # re-shuffles at full width whenever the candidates' size
        # estimate (a product over the round's joins) is large.
        probe_width = max(width, 2)
        if probe_width < self.spark.sparkContext.defaultParallelism:
            deduped = deduped.repartition(probe_width, "bucket")
            shards = shards.repartition(probe_width, "bucket")
        # persist: both the definite-new and to-confirm branches read
        # this frame — uncached, the cogrouped shard probe (the most
        # expensive per-round stage at scale) would run twice
        probed = self._cache(deduped.groupBy("bucket")
                             .cogroup(shards.groupBy("bucket"))
                             .applyInPandas(probe, schema=out_schema))
        # shard rows carry maybe=null, so the candidate filters below
        # exclude them without an explicit bitmap-null conjunct
        definite_new = probed.where(~F.col("maybe")).drop("maybe", "bitmap")
        to_confirm = probed.where(F.col("maybe")).drop("maybe", "bitmap")
        new_urls = self._cache(
            definite_new.unionByName(self._anti_seen(to_confirm)))
        # the updated shard rows came out of the probe cogroup itself —
        # this write only filters the persisted probe output, no extra
        # shuffle
        shard_rows = (probed.where(F.col("bitmap").isNotNull())
                      .select("bucket", "bitmap"))
        return (policed,
                new_urls.select("url", "url_hash", "bucket", "host", "depth",
                                "priority", "discovery_seq",
                                F.lit(1).alias("attempt")),
                [("url_seen", new_urls.select(
                    "url", "url_hash", "bucket",
                    F.lit(round_no).alias("round_added")), "append"),
                 ("bloom_shards", shard_rows, "replace")])

    # ------------------------------------------------------------ attempts
    def _attempt(self, body, *args):
        """Run one commit attempt (the bootstrap or a round) atomically: a
        failed attempt aborts everything it staged, so a retry — on this
        engine or after a resume — starts from the last commit. What the
        attempt persisted is released on every path."""
        try:
            return body(*args)
        except BaseException:
            self.store.abort()
            raise
        finally:
            for held in self._attempt_cache:
                held.unpersist()
            self._attempt_cache.clear()

    def _stage(self, writes: list, width: int, overlap=None):
        """Stage every (table, df, mode) write at `width` as CONCURRENT
        Spark jobs (threaded driver): the writes are independent DAGs
        over the attempt's caches, so the cluster pipelines them instead
        of idling between them. `overlap()` runs on this thread
        meanwhile and its result is returned. Leaving waits for every
        write, also when one fails, so the attempt's abort sees all
        that it staged."""
        from concurrent.futures import ThreadPoolExecutor
        with ThreadPoolExecutor(max_workers=len(writes)) as pool:
            futs = [pool.submit(self.store.stage_write, t,
                                self._narrow(df, width), m)
                    for t, df, m in writes]
            out = overlap() if overlap is not None else None
            for f in futs:
                f.result()
        return out

    # ------------------------------------------------------------ one round
    def run_round(self, round_no: int) -> dict:
        """One crawl round, committed atomically (see _attempt)."""
        return self._attempt(self._round, round_no)

    def _round(self, round_no: int) -> dict:
        t0 = time.time()
        sp = self.spark
        cfg = self.cfg
        # the round's width, from the committed frontier's row count:
        # it sizes the frontier read (and with it the rank -> fetch ->
        # resolve -> policy chain), the probe cogroup and every write
        width = self._width(self.store.row_count("frontier"))
        frontier = self._narrow(self.store.read("frontier"), width)

        # -- politeness quota (SURVEY C9): two-phase salted ranking ---------
        # quota = min(max(round_seconds/crawl_delay, 1), remaining budget)
        quota_cfg = (self.store.read("host_state")
                     .select("host", "crawl_delay",
                             F.least(
                                 F.greatest(
                                     F.floor(F.lit(cfg.round_seconds)
                                             / F.col("crawl_delay")),
                                     F.lit(1)),
                                 F.col("max_pages") - F.col("fetched_count"))
                             .cast("int").alias("quota"))
                     .where(F.col("quota") > 0))
        # a crawl whose every host budget is spent runs this same plan: it
        # schedules nothing, and the next frontier keeps only the rows of
        # hosts with quota (oracle: quota <= 0 drops the host's rows), so
        # the round commits an empty frontier and the driver loop stops
        qs = quota_cfg.agg(F.max("quota").alias("mx"),
                           F.sum("quota").alias("sm")).first()
        max_quota = int(qs["mx"] or 0)
        quota_sum = int(qs["sm"] or 0)
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
            cfg.round_seconds, max_quota=max_quota, broadcast_quota=False)
        ranked_keys = ranked.select("url_hash", "discovery_seq",
                                    "crawl_delay", "fetch_slot", "fetch_ts")
        # the ranked set is quota-bounded (<= sum of host quotas rows): when
        # that bound fits the session's broadcast budget (~40 B/row for the
        # five narrow columns), the frontier joins it without a shuffle;
        # beyond it fall back to a shuffled join (at real scale: storage-
        # partitioned join on the shared url_hash bucketing). Gating on
        # estimated BYTES vs autoBroadcastJoinThreshold (not a fixed row
        # count) keeps the broadcast within executor memory on any cluster.
        bcast_limit = (sp._jsparkSession.sessionState().conf()
                       .autoBroadcastJoinThreshold())
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
                   .join(self.store.read("host_state")
                         .select("host", F.col("max_depth").alias("md")),
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
                    .drop("parent_host", "parent_depth", "parent_seq", "pos")
                    # discovered-link priority (SURVEY C12 slot: in
                    # production this is the post-URL heuristic score;
                    # here a deterministic hash-derived score so
                    # rank_mode="priority" is exercised — the oracle
                    # computes the identical function)
                    .withColumn("priority",
                                F.pmod(F.abs("url_hash"), F.lit(1000))
                                .cast("double") / 1000.0))

        # -- admission: url_seen anti-join with bloom pre-filter (SURVEY C2)
        # The shards must remain a SUPERSET of url_seen: a round trusts them
        # only if the last commit maintained them at this engine's layout
        # (its manifest's sidecar marker) and rebuilds them from url_seen
        # otherwise — after a commit that did not maintain them (an older
        # engine's, a compact()) or an n_buckets/expected_urls change. A
        # stale sidecar's false "definitely new" verdicts would bypass the
        # exact anti-join.
        if (self.store.snapshot() or {}).get("sidecar") == self._sidecar:
            shards = self.store.read("bloom_shards")
        else:  # rebuild executor-side (staged with this round's update)
            shards = self._cache(self._shard_partials(self._seen(), width))
        policed, new_urls, admit_writes = self._admit(
            resolved, self.store.read("host_state"), shards, width, round_no)

        # -- next frontier: unscheduled + retries + new (anti-join, no skew) -
        alive_hosts = quota_cfg.select("host")
        unscheduled = (frontier
                       .join(alive_hosts, "host", "left_semi")
                       .join(scheduled.select("url_hash", "url"),
                             ["url_hash", "url"], "left_anti"))
        retry_rows = retries.select("url", "url_hash", "bucket", "host", "depth",
                                    "priority",
                                    "discovery_seq",
                                    (F.col("attempt") + 1).alias("attempt"))
        next_frontier = (unscheduled
                         .select("url", "url_hash", "bucket", "host", "depth",
                                 "priority", "discovery_seq", "attempt")
                         .unionByName(retry_rows)
                         .unionByName(new_urls))

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

        # -- metrics: the two small aggregations (fetch outcomes, policy-
        # reject breakdown) are unioned into ONE action so the driver pays
        # one job-scheduling round trip; both read only the persisted
        # fetch/policed caches. The fetched, failed, new-url and frontier
        # counts come free from the staged writes' parquet footers.
        outcome_agg = (fetch.groupBy("outcome").agg(F.count("*").alias("cnt"))
                       .select(F.lit("outcome").alias("kind"),
                               F.col("outcome").alias("key"), "cnt"))
        policy_agg = (policed.groupBy("reject").agg(F.count("*").alias("cnt"))
                      .select(F.lit("policy").alias("kind"),
                              F.coalesce("reject", F.lit("ok")).alias("key"),
                              "cnt"))
        stats_df = outcome_agg.unionByName(policy_agg)

        # -- stage + commit: the sink and state writes run as concurrent
        # Spark jobs, overlapped with the metrics collect on this thread.
        # materialized web-graph edges (SURVEY §1.3): every same-host
        # candidate link this round, with its policy outcome — downstream
        # link-analysis (PageRank-style priors, dead-link audits) reads this
        edges_rows = policed.select(
            "src_url", F.col("url").alias("dst_url"),
            F.lit(round_no).alias("round"), "reject")
        # the host_state budget update reads only the persisted fetch
        # cache, so it joins the same concurrent batch as the sinks and
        # the admission's url_seen and shard writes
        succ = (fetch.where(F.col("outcome") == "success")
                .groupBy("host").agg(F.count("*").alias("_ok")))
        new_hs = (self.store.read("host_state")
                  .join(succ, "host", "left")
                  .withColumn("fetched_count",
                              F.col("fetched_count")
                              + F.coalesce(F.col("_ok"), F.lit(0)))
                  .drop("_ok"))
        stats = self._stage([("edges", edges_rows, "append"),
                             ("frontier", next_frontier, "replace"),
                             ("fetched", fetched_rows, "append"),
                             ("failures", failure_rows, "append"),
                             ("host_state", new_hs, "replace")]
                            + admit_writes, width, stats_df.collect)
        outcome_counts: dict[str, int] = {}
        policy_counts: dict[str, int] = {}
        for r in stats:
            counts = outcome_counts if r["kind"] == "outcome" else policy_counts
            counts[r["key"]] = int(r["cnt"])
        staged = self.store.staged_row_count
        metrics = {
            "round": round_no,
            "scheduled": sum(outcome_counts.values()),
            "fetched_ok": staged("fetched"),
            "failed": staged("failures"),
            "retried": outcome_counts.get("timeout_retry", 0),
            "rejected": {k: v for k, v in policy_counts.items() if k != "ok"},
            # discovered = policy-ACCEPTED candidates (oracle semantics: its
            # candidates list excludes rejected links); rejects are reported
            # separately in `rejected` / the edges table
            "discovered": policy_counts.get("ok", 0),
            "new_urls": staged("url_seen"),
            "frontier_size": staged("frontier"),
            "wall_ms": (time.time() - t0) * 1000.0,
        }
        self.store.stage_write_arrow("metrics", pd.DataFrame([{
            k: v for k, v in metrics.items() if k != "rejected"}]), "append")
        self.store.commit(round_no, metrics, sidecar=self._sidecar)
        return metrics

    # ------------------------------------------------------------ driver loop
    def run(self, max_rounds: int = 200, verbose: bool = False) -> list[dict]:
        if self.store.current_snapshot_id() is None:
            self.bootstrap()
        start_round = int(self.store.snapshot()["round"]) + 1
        out = []
        for r in range(start_round, start_round + max_rounds):
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
