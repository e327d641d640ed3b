"""The north-rule correctness gate: the Spark engine must reproduce the
pure-Python oracle's crawl ordering, url_seen set, payload invariants, and
resume bit-identically from a snapshot."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from ai_intel_web_scraper_spark.crawl.scheduler import CrawlConfig, CrawlEngine
from ai_intel_web_scraper_spark.functions.codec import decode_image, psnr
from ai_intel_web_scraper_spark.oracle.crawler import oracle_crawl


@pytest.fixture(scope="module")
def oracle(fixtures):
    return oracle_crawl(fixtures)


@pytest.fixture(scope="module")
def engine(spark, fixtures, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("parity") / "wh")
    eng = CrawlEngine(spark, fixtures, wh,
                      CrawlConfig(expected_urls=1 << 14, write_payload=True))
    eng.run()
    return eng


def _engine_fetch_order(engine):
    return [
        (r["url"], r["round"], r["depth"], r["discovery_seq"], r["image_id"])
        for r in engine.store.read("fetched")
        .select("url", "round", "depth", "discovery_seq", "image_id")
        .orderBy("round", "depth", "discovery_seq").collect()
    ]


def test_crawl_ordering_matches_oracle(engine, oracle):
    got = _engine_fetch_order(engine)
    want = [(r["url"], r["round"], r["depth"], r["discovery_seq"], r["image_id"])
            for r in oracle.fetched]
    assert len(got) == len(want)
    assert got == want


def test_url_seen_set_matches_oracle(engine, oracle):
    got = {r["url"] for r in
           engine.store.read("url_seen").select("url").collect()}
    assert got == oracle.url_seen


def test_failures_match_oracle(engine, oracle):
    got = {(r["url"], r["round"], r["reason"]) for r in
           engine.store.read("failures").collect()}
    want = {(r["url"], r["round"], r["reason"]) for r in oracle.failures}
    assert got == want


def test_fetch_ts_politeness_floor(engine):
    """Within (host, round), consecutive virtual fetch timestamps are spaced
    by at least the host's crawl delay (reference scrapers/utils.py:29-40)."""
    rows = (engine.store.read("fetched")
            .select("host", "round", "fetch_slot", "fetch_ts")
            .orderBy("host", "round", "fetch_slot").collect())
    prev = {}
    for r in rows:
        key = (r["host"], r["round"])
        if key in prev:
            assert r["fetch_ts"] - prev[key] >= 0.3 - 1e-9
        prev[key] = r["fetch_ts"]


def test_host_fetched_count_matches_oracle(engine, oracle):
    """host_state stays a table (quota derivation, the max/sum quota
    scalars and the fetched_count update all run as Spark jobs): each
    host's fetched_count equals the oracle's fetches of that host."""
    from collections import Counter
    want = Counter(r["host"] for r in oracle.fetched)
    got = {r["host"]: r["fetched_count"]
           for r in engine.store.read("host_state").collect()}
    assert sum(want.values()) > 0
    assert got == {h: want.get(h, 0) for h in got}
    assert set(want) <= set(got)


def test_per_host_budget_respected(engine, spark, fixtures):
    pol = {r["host"]: r["max_pages"] for r in
           spark.read.parquet(fixtures["politeness"]).collect()}
    counts = (engine.store.read("fetched").groupBy("host").count().collect())
    for r in counts:
        assert r["count"] <= pol[r["host"]]


def test_payload_invariants(engine, webspec, oracle):
    """Decoded pixels of delivered bytes match freshly regenerated reference
    pixels (exact for png, PSNR>=40dB for the lossy fmt); captions equal
    exactly. Checks a deterministic sample of fetched rows."""
    rows = (engine.store.read("fetched")
            .select("image_id", "caption", "fmt", "bytes", "phash")
            .orderBy("image_id").limit(40).collect())
    assert rows
    for r in rows:
        seq = int(r["image_id"].split("-")[1])
        ref_px = webspec.image_pixels(seq)
        got_px = decode_image(bytes(r["bytes"]))
        host = [f["host"] for f in oracle.fetched if f["image_id"] == r["image_id"]][0]
        assert r["caption"] == webspec.caption(seq, host)
        if r["fmt"] == "png":
            assert (got_px == ref_px).all()
        else:
            assert psnr(ref_px, got_px) >= 40.0


def test_metrics_match_oracle_rounds(engine, oracle):
    got = {r["round"]: r for r in engine.store.read("metrics").collect()}
    for orow in oracle.rounds:
        g = got[orow["round"]]
        assert g["scheduled"] == orow["scheduled"]
        assert g["fetched_ok"] == orow["fetched_ok"]
        assert g["discovered"] == orow["discovered"]
        assert g["new_urls"] == orow["new_urls"]
        assert g["frontier_size"] == orow["frontier_size"]


def test_resume_bit_identical(spark, fixtures, engine, tmp_path):
    """Kill after round 3, resume with a NEW engine instance from the
    snapshot: final fetched/url_seen tables are identical to the
    uninterrupted run."""
    wh2 = str(tmp_path / "wh")
    cfg = CrawlConfig(expected_urls=1 << 14, write_payload=True)
    e1 = CrawlEngine(spark, fixtures, wh2, cfg)
    e1.run(max_rounds=3)
    assert e1.store.snapshot()["round"] == 3
    # simulate crash: fresh engine object resumes from CURRENT snapshot
    e2 = CrawlEngine(spark, fixtures, wh2, cfg)
    e2.run()

    def table_set(store, name, cols):
        return {tuple(r[c] for c in cols) for r in
                store.read(name).select(*cols).collect()}

    cols = ["url", "round", "depth", "discovery_seq", "image_id", "fetch_ts"]
    assert table_set(e2.store, "fetched", cols) == \
        table_set(engine.store, "fetched", cols)
    assert table_set(e2.store, "url_seen", ["url", "url_hash"]) == \
        table_set(engine.store, "url_seen", ["url", "url_hash"])


def test_no_duplicate_fetches(engine):
    fetched = engine.store.read("fetched")
    assert fetched.count() == fetched.select("url").distinct().count()


def test_excluded_and_robots_never_fetched(engine, spark, fixtures):
    fetched = engine.store.read("fetched").select("url", "host").persist()
    assert fetched.where(F.col("url").contains("/tag/")).count() == 0
    rob = spark.read.parquet(fixtures["robots"]).collect()
    fx = {(r["url"], r["host"]) for r in fetched.collect()}
    for r in rob:
        for d in (r["disallow"] or []):
            for u, h in fx:
                if h == r["host"]:
                    path = u.split(h, 1)[1]
                    assert not path.startswith(d), (u, d)


def test_priority_rank_mode_matches_oracle(spark, fixtures, oracle,
                                           tmp_path):
    """rank_mode='priority' (seed priority desc, BFS tiebreak) must match
    the oracle's priority ordering — and differ from plain BFS."""
    wh = str(tmp_path / "wh")
    eng = CrawlEngine(spark, fixtures, wh,
                      CrawlConfig(rank_mode="priority", write_payload=False))
    eng.run()
    from ai_intel_web_scraper_spark.oracle.crawler import oracle_crawl
    want_res = oracle_crawl(fixtures, rank_mode="priority")
    got = [(r["url"], r["round"], r["fetch_slot"]) for r in
           eng.store.read("fetched")
           .select("url", "round", "depth", "discovery_seq", "fetch_slot")
           .orderBy("round", "depth", "discovery_seq").collect()]
    want = [(r["url"], r["round"], r["fetch_slot"]) for r in want_res.fetched]
    assert sorted(got) == sorted(want)
    # priority ordering must actually change some fetch slots vs BFS
    bfs_slots = {(r["url"], r["round"]): r["fetch_slot"]
                 for r in oracle.fetched}
    prio_slots = {(r["url"], r["round"]): r["fetch_slot"]
                  for r in want_res.fetched}
    common = set(bfs_slots) & set(prio_slots)
    assert any(bfs_slots[k] != prio_slots[k] for k in common)


def test_authority_rank_mode_matches_oracle(spark, fixtures, oracle,
                                            tmp_path):
    """rank_mode='authority' (r5): the engine recomputes integer PageRank
    over the recorded edge table each round and ranks the frontier by the
    composed authority score; the oracle replays the identical integer
    recurrence in pure Python. Full fetch-row parity, and the order must
    actually differ from BFS (the feedback loop changes the crawl)."""
    wh = str(tmp_path / "wh")
    eng = CrawlEngine(spark, fixtures, wh,
                      CrawlConfig(rank_mode="authority",
                                  write_payload=False))
    eng.run()
    want_res = oracle_crawl(fixtures, rank_mode="authority")
    got = [(r["url"], r["round"], r["fetch_slot"]) for r in
           eng.store.read("fetched")
           .select("url", "round", "depth", "discovery_seq", "fetch_slot")
           .orderBy("round", "depth", "discovery_seq").collect()]
    want = [(r["url"], r["round"], r["fetch_slot"])
            for r in want_res.fetched]
    assert sorted(got) == sorted(want)
    # the authority loop must change some fetch slots vs plain BFS
    bfs_slots = {(r["url"], r["round"]): r["fetch_slot"]
                 for r in oracle.fetched}
    auth_slots = {(r["url"], r["round"]): r["fetch_slot"]
                  for r in want_res.fetched}
    common = set(bfs_slots) & set(auth_slots)
    assert any(bfs_slots[k] != auth_slots[k] for k in common)
    # better-targeted: among pages the two modes both fetch, the most
    # linked-to pages (in-degree hubs of the accumulated edge set) are
    # fetched no later on average under authority than under BFS
    indeg: dict[str, int] = {}
    for _s, d in want_res.edge_set:
        indeg[d] = indeg.get(d, 0) + 1
    auth_pos = {r["url"]: i for i, r in enumerate(want_res.fetched)}
    bfs_pos = {r["url"]: i for i, r in enumerate(oracle.fetched)}
    both = [u for u in auth_pos if u in bfs_pos and indeg.get(u, 0) > 0]
    hubs = sorted(both, key=lambda u: -indeg[u])[:max(len(both) // 10, 5)]
    mean_auth = sum(auth_pos[u] for u in hubs) / len(hubs)
    mean_bfs = sum(bfs_pos[u] for u in hubs) / len(hubs)
    assert mean_auth <= mean_bfs


def test_authority_cadence_matches_oracle_across_resume(spark, fixtures,
                                                        tmp_path):
    """authority_every=2 (r5): ranks refresh only at odd rounds and the
    committed rank table carries the even rounds — INCLUDING across a
    resume: the engine is killed after round 1 (a refresh round) and a
    fresh instance must rank round 2 from the committed authority table,
    reproducing the oracle's cadence bit-exactly."""
    wh = str(tmp_path / "wh")
    cfg = CrawlConfig(rank_mode="authority", authority_every=2,
                      write_payload=False)
    e1 = CrawlEngine(spark, fixtures, wh, cfg)
    e1.run(max_rounds=1)
    e2 = CrawlEngine(spark, fixtures, wh, cfg)   # resume at round 2
    e2.run()
    want_res = oracle_crawl(fixtures, rank_mode="authority",
                            authority_every=2)
    got = sorted((r["url"], r["round"], r["fetch_slot"]) for r in
                 e2.store.read("fetched")
                 .select("url", "round", "fetch_slot").collect())
    want = sorted((r["url"], r["round"], r["fetch_slot"])
                  for r in want_res.fetched)
    assert got == want


def test_snapshot_history_and_time_travel(engine, spark):
    """Iceberg-analog time travel: history() lists the commit chain and a
    read at snapshot k returns exactly the state after round k."""
    hist = engine.store.history()
    assert [h["round"] for h in hist] == list(range(len(hist)))
    assert [h["snapshot_id"] for h in hist] == \
        [h["parent_id"] for h in hist[1:]] + [hist[-1]["snapshot_id"]]
    mid = hist[2]  # after round 2
    fetched_mid = engine.store.read("fetched", snap_id=mid["snapshot_id"])
    assert fetched_mid.agg(F.max("round")).first()[0] <= 2
    full = engine.store.read("fetched")
    assert fetched_mid.count() == full.where(F.col("round") <= 2).count()


def test_pyfiles_zip_importable(tmp_path):
    """The --py-files artifact contains the whole package, importable from
    the zip alone (zipimport, as executors do)."""
    import subprocess
    import sys
    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    from tools.package_pyfiles import build
    zp = build(str(tmp_path / "pkg.zip"))
    code = (f"import sys; sys.path.insert(0, {zp!r}); "
            "import ai_intel_web_scraper_spark.crawl.scheduler as s; "
            "import ai_intel_web_scraper_spark.operators.dedup as d; "
            "print('ok')")
    out = subprocess.run([sys.executable, "-c", code], capture_output=True,
                         text=True, cwd="/")
    assert out.returncode == 0 and out.stdout.strip() == "ok", out.stderr


def test_edges_table_materializes_link_graph(engine, spark):
    """The edges sink records every same-host candidate link with its
    policy outcome; structural invariants tie it to fetched/url_seen."""
    edges = engine.store.read("edges").persist()
    fetched = engine.store.read("fetched").select("url", "depth").persist()
    # every edge source is a fetched page (links only come from fetches)
    assert (edges.select(F.col("src_url").alias("url")).distinct()
            .join(fetched, "url", "left_anti").count()) == 0
    # every fetched page at depth > 0 was discovered via some edge
    assert (fetched.where(F.col("depth") > 0)
            .join(edges.select(F.col("dst_url").alias("url")).distinct(),
                  "url", "left_anti").count()) == 0
    # policy outcomes recorded: excluded pattern edges tagged, never fetched
    excl = edges.where(F.col("dst_url").contains("/tag/"))
    if excl.count():
        assert (excl.where(F.col("reject") != "excluded").count()) == 0
    # per-round ACCEPTED edge counts == the 'discovered' metric (rejected
    # links are in the edges table with their reason but not in the metric)
    em = {r["round"]: r["n"] for r in
          edges.where(F.col("reject").isNull())
          .groupBy("round").agg(F.count("*").alias("n")).collect()}
    mm = {r["round"]: r["discovered"] for r in
          engine.store.read("metrics").collect()}
    for rnd, n in em.items():
        assert mm[rnd] == n
    edges.unpersist()
    fetched.unpersist()


def test_compaction_preserves_data_and_time_travel(spark, fixtures, tmp_path):
    """Compacting url_seen after a multi-round crawl rewrites N per-round
    dirs into one, preserves the row set exactly, and leaves earlier
    snapshots readable."""
    wh = str(tmp_path / "wh")
    eng = CrawlEngine(spark, fixtures, wh,
                      CrawlConfig(write_payload=False, expected_urls=1 << 14))
    eng.run(max_rounds=4)
    store = eng.store
    before = {r["url"] for r in store.read("url_seen").collect()}
    snap_before = store.current_snapshot_id()
    n = store.compact("url_seen")
    assert n >= 2  # one dir per committed round
    store.commit(round_no=store.snapshot()["round"],
                 metrics={"event": "compact"})
    after_dirs = store.snapshot()["tables"]["url_seen"]
    assert len(after_dirs) == 1
    assert {r["url"] for r in store.read("url_seen").collect()} == before
    # time travel to the pre-compaction snapshot still works
    assert {r["url"] for r in
            store.read("url_seen", snap_id=snap_before).collect()} == before


def test_manifest_records_per_file_lineage(engine):
    """Each snapshot manifest carries this commit's added files with byte
    sizes and footer row counts (Iceberg manifest-entry analog): summing
    added url_seen rows along the parent chain reproduces the table's
    final row count exactly, and every listed file exists on disk with
    the recorded size."""
    import os
    store = engine.store
    hist = store.history()
    added_rows = 0
    listed_files = 0
    for h in hist:
        snap = store.snapshot(h["snapshot_id"])
        added = snap.get("added_files", {})
        for d, stats in added.get("url_seen", {}).items():
            added_rows += sum(f["rows"] for f in stats)
        for table, dirs in added.items():
            for d, stats in dirs.items():
                for f in stats:
                    fp = os.path.join(store.root, "tables", table, d,
                                      f["file"])
                    assert os.path.getsize(fp) == f["bytes"]
                    listed_files += 1
    assert listed_files > 0
    assert added_rows == store.read("url_seen").count()


def test_expire_snapshots_vacuums_unreferenced_state(spark, fixtures,
                                                     tmp_path):
    """Iceberg expire_snapshots + remove_orphan_files analog: after a
    multi-round crawl + compaction, expiring to the last 2 snapshots
    deletes the older manifests and every dir only they referenced,
    while reads at retained snapshots and resume stay bit-identical and
    history() cuts cleanly at the horizon."""
    import os
    wh = str(tmp_path / "wh")
    eng = CrawlEngine(spark, fixtures, wh,
                      CrawlConfig(write_payload=False, expected_urls=1 << 14))
    eng.run(max_rounds=4)
    store = eng.store
    store.compact("url_seen")
    store.commit(round_no=store.snapshot()["round"],
                 metrics={"event": "compact"})
    cur = store.current_snapshot_id()
    keep_prev = cur - 1
    want_cur = {r["url"] for r in store.read("url_seen").collect()}
    want_prev = {r["url"] for r in
                 store.read("url_seen", snap_id=keep_prev).collect()}
    n_dirs_before = sum(len(os.listdir(os.path.join(wh, "tables", t)))
                        for t in os.listdir(os.path.join(wh, "tables")))
    removed = store.expire_snapshots(keep_last=2)
    assert removed["snapshots"] >= 2 and removed["dirs"] >= 1
    n_dirs_after = sum(len(os.listdir(os.path.join(wh, "tables", t)))
                       for t in os.listdir(os.path.join(wh, "tables")))
    assert n_dirs_after == n_dirs_before - removed["dirs"]
    # retained reads bit-identical; expired snapshot unreadable, not crashy
    assert {r["url"] for r in store.read("url_seen").collect()} == want_cur
    assert {r["url"] for r in
            store.read("url_seen", snap_id=keep_prev).collect()} == want_prev
    assert store.snapshot(cur - 3) is None
    hist = store.history()
    assert [h["snapshot_id"] for h in hist] == [keep_prev, cur]
    # a fresh store over the same warehouse resumes identically
    from ai_intel_web_scraper_spark.crawl.statestore import SnapshotStore
    store2 = SnapshotStore(spark, wh)
    assert {r["url"] for r in store2.read("url_seen").collect()} == want_cur


def test_expire_snapshots_protects_staged_uncommitted_dirs(spark, tmp_path):
    """Dirs staged for the NEXT commit are in no manifest yet; vacuum
    must not delete them or the upcoming commit would reference missing
    data."""
    from ai_intel_web_scraper_spark.crawl.statestore import SnapshotStore
    wh = str(tmp_path / "wh2")
    store = SnapshotStore(spark, wh, schemas={"t": "x long"})
    for i in range(3):
        store.stage_write("t", spark.range(i * 10, i * 10 + 10)
                          .selectExpr("id as x"), "append")
        store.commit(round_no=i)
    store.stage_write("t", spark.range(100, 110).selectExpr("id as x"),
                      "append")                     # staged, uncommitted
    removed = store.expire_snapshots(keep_last=1)
    assert removed["snapshots"] == 2 and removed["dirs"] == 0
    store.commit(round_no=3)
    got = sorted(r["x"] for r in store.read("t").collect())
    assert got == sorted(list(range(0, 30)) + list(range(100, 110)))


def test_expire_snapshots_aborts_on_unreadable_retained_manifest(
        spark, tmp_path):
    """ADVICE r5: a RETAINED manifest that cannot be read must abort the
    vacuum — silently skipping it would treat its dirs as
    unreferenced and delete live data. Nothing may be removed."""
    import glob
    import os
    import pytest as _pytest
    from ai_intel_web_scraper_spark.crawl.statestore import SnapshotStore
    wh = str(tmp_path / "wh3")
    store = SnapshotStore(spark, wh, schemas={"t": "x long"})
    for i in range(3):
        store.stage_write("t", spark.range(i * 10, i * 10 + 10)
                          .selectExpr("id as x"), "append")
        store.commit(round_no=i)
    snaps = sorted(glob.glob(os.path.join(wh, "snapshots", "snap-*.json")))
    dirs_before = {p for p in glob.glob(os.path.join(wh, "tables", "t", "*"))}
    with open(snaps[-2], "w") as f:      # corrupt a RETAINED manifest
        f.write("{not json")
    with _pytest.raises(RuntimeError, match="unreadable"):
        store.expire_snapshots(keep_last=2)
    assert {p for p in glob.glob(os.path.join(wh, "tables", "t", "*"))} \
        == dirs_before
    assert len(glob.glob(os.path.join(wh, "snapshots", "snap-*.json"))) \
        == len(snaps)


def test_crawl_with_periodic_expiry_matches_unexpired_crawl(spark, fixtures,
                                                            tmp_path):
    """Running the engine with expire_every=2/expire_keep=2 must produce
    the exact same fetched table as the default never-expire run —
    retention is pure maintenance, invisible to crawl semantics."""
    def run(wh, **kw):
        eng = CrawlEngine(spark, fixtures, wh,
                          CrawlConfig(write_payload=False,
                                      expected_urls=1 << 14, **kw))
        eng.run(max_rounds=4)
        return {(r["url"], r["round"], r["discovery_seq"])
                for r in eng.store.read("fetched").collect()}, eng.store
    base, _ = run(str(tmp_path / "wa"))
    # the bloom shard table is itself snapshot state the vacuum must not
    # pull out from under the next round
    got, store = run(str(tmp_path / "wb"), expire_every=2, expire_keep=2)
    assert got == base and len(got) > 0
    assert len(store.history()) <= 3  # horizon enforced (keep 2 + commit)
