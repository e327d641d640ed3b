"""What an engine holds and what a commit makes durable: authority
refreshes release their persists, `CrawlEngine.close()` releases the
fixtures, and `SnapshotStore.commit` syncs before it swaps `CURRENT`."""

from __future__ import annotations

import os

from ai_intel_web_scraper_spark.crawl import statestore
from ai_intel_web_scraper_spark.crawl.scheduler import (CrawlConfig,
                                                        CrawlEngine)
from ai_intel_web_scraper_spark.crawl.statestore import SnapshotStore
from ai_intel_web_scraper_spark.oracle.crawler import oracle_crawl


def test_authority_rounds_release_their_persists(spark, fixtures, tmp_path):
    """Every round refreshes the authority table (PageRank over persisted
    nodes, edges and degree-annotated edges); after each round the
    session holds no more persisted RDDs than after the first, and the
    crawl still equals the oracle's."""
    eng = CrawlEngine(spark, fixtures, str(tmp_path / "wh"),
                      CrawlConfig(rank_mode="authority", write_payload=False))
    eng.run(max_rounds=1)
    jsc = spark.sparkContext._jsc
    held = jsc.getPersistentRDDs().size()
    rounds = 1
    for _ in range(3):
        m = eng.run(max_rounds=1)
        rounds += 1
        assert jsc.getPersistentRDDs().size() <= held
        if m[-1]["frontier_size"] == 0:
            break
    assert rounds >= 4
    want = oracle_crawl(fixtures, max_rounds=rounds, rank_mode="authority")
    got = [(r["url"], r["round"], r["fetch_slot"])
           for r in eng.store.read("fetched").collect()]
    assert sorted(got) == sorted((r["url"], r["round"], r["fetch_slot"])
                                 for r in want.fetched)
    eng.close()


def test_close_releases_graph_and_pages(spark, fixtures, tmp_path):
    eng = CrawlEngine(spark, fixtures, str(tmp_path / "wh"),
                      CrawlConfig(write_payload=True))
    eng.graph.count()
    eng.pages.count()
    assert eng.graph.is_cached and eng.pages.is_cached
    eng.close()
    eng.close()
    assert not eng.graph.is_cached and not eng.pages.is_cached


def test_commit_syncs_manifest_and_pointer_before_swap(spark, tmp_path,
                                                        monkeypatch):
    """The manifest (file and dir entry) and CURRENT.tmp reach disk before
    the os.replace that publishes them, and the store root (the rename)
    right after it."""
    root = str(tmp_path / "wh")
    store = SnapshotStore(spark, root)
    events = []
    real_fsync, real_replace = os.fsync, os.replace

    def fsync(fd):
        events.append(("fsync", os.fstat(fd).st_ino))
        real_fsync(fd)

    def replace(src, dst):
        events.append(("replace", src, dst))
        real_replace(src, dst)
    monkeypatch.setattr(statestore.os, "fsync", fsync)
    monkeypatch.setattr(statestore.os, "replace", replace)
    store.commit(1)
    current = os.path.join(root, "CURRENT")
    snaps = os.path.join(root, "snapshots")
    ino = {p: os.stat(p).st_ino for p in (
        os.path.join(snaps, "snap-000001.json"), snaps, current, root)}
    assert events == [
        ("fsync", ino[os.path.join(snaps, "snap-000001.json")]),
        ("fsync", ino[snaps]),
        ("fsync", ino[current]),  # CURRENT.tmp, renamed
        ("replace", current + ".tmp", current),
        ("fsync", ino[root]),
    ]
    assert store.current_snapshot_id() == 1
