"""Round sizing and round atomicity.

A round's partitions and output files follow its committed row counts
(`round_width`), and a failed round attempt leaves nothing for the next
commit (`SnapshotStore.abort`)."""

from __future__ import annotations

import os

import pytest

from ai_intel_web_scraper_spark.crawl.scheduler import (ROWS_PER_TASK,
                                                        CrawlConfig,
                                                        CrawlEngine,
                                                        round_width)
from ai_intel_web_scraper_spark.oracle.crawler import oracle_crawl

CFG = dict(expected_urls=1 << 14, write_payload=True)


def _files_per_dir(store) -> dict[tuple[int, str, str], int]:
    """(snapshot, table, dir) -> parquet files the commit added there."""
    out = {}
    for h in store.history():
        snap = store.snapshot(h["snapshot_id"])
        for table, dirs in snap["added_files"].items():
            for d, stats in dirs.items():
                out[(h["snapshot_id"], table, d)] = len(stats)
    return out


def test_round_width_rule():
    assert round_width(0, 4) == 1
    assert round_width(1, 4) == 1
    assert round_width(ROWS_PER_TASK, 4) == 1
    assert round_width(ROWS_PER_TASK + 1, 4) == 2
    assert round_width(10 ** 12, 4) == 4
    assert round_width(10 ** 12, 1) == 1


def test_small_round_stages_one_file_per_dir(spark, fixtures, tmp_path):
    """A round over a frontier far below ROWS_PER_TASK runs at width 1:
    every staged dir holds exactly one parquet file, and the manifest's
    per-table row counts equal the committed tables."""
    eng = CrawlEngine(spark, fixtures, str(tmp_path / "wh"),
                      CrawlConfig(**CFG))
    eng.run(max_rounds=2)
    files = _files_per_dir(eng.store)
    assert {t for _, t, _ in files} >= {"frontier", "url_seen", "fetched",
                                        "failures", "edges", "host_state",
                                        "bloom_shards", "metrics"}
    assert set(files.values()) == {1}, files
    rows = eng.store.snapshot()["rows"]
    for table in ("frontier", "url_seen", "fetched", "edges", "host_state"):
        assert rows[table] == eng.store.read(table).count(), table


def test_large_frontier_keeps_full_width(spark, fixtures, tmp_path):
    """Above ROWS_PER_TASK x defaultParallelism rows the round keeps the
    full-width plan: the frontier read is not narrowed, and the writes
    stage one file per partition as before."""
    par = spark.sparkContext.defaultParallelism
    big = ROWS_PER_TASK * par + 1
    eng = CrawlEngine(spark, fixtures, str(tmp_path / "wh"),
                      CrawlConfig(**CFG))
    eng.bootstrap()
    assert eng._width(big) == par
    frontier = eng.store.read("frontier")
    assert eng._narrow(frontier, eng._width(big)) is frontier
    eng.store.row_count = lambda table, snap_id=None: big
    eng.run_round(1)
    added = eng.store.snapshot()["added_files"]
    assert max(len(stats) for dirs in added.values()
               for stats in dirs.values()) > 1


def test_manifest_rows_carry_append_and_replace(spark, tmp_path):
    """rows: replace = staged, append = parent + staged, untouched =
    parent; a table with dirs but no recorded count reads as unknown."""
    from ai_intel_web_scraper_spark.crawl.statestore import SnapshotStore
    store = SnapshotStore(spark, str(tmp_path / "wh"))
    assert store.row_count("t") is None  # no snapshot yet
    store.stage_write("a", spark.range(3), "append")
    store.stage_write("r", spark.range(5), "replace")
    store.commit(0)
    store.stage_write("a", spark.range(2), "append")
    store.commit(1)
    assert store.snapshot()["rows"] == {"a": 5, "r": 5}
    store.stage_write("r", spark.range(1), "replace")
    store.commit(2)
    assert (store.row_count("a"), store.row_count("r")) == (5, 1)
    assert store.row_count("never_written") == 0


class _Injected(RuntimeError):
    pass


@pytest.mark.parametrize("fail_round,table", [(0, "url_seen"),
                                              (2, "fetched")])
def test_failed_round_leaves_nothing_and_retry_matches_oracle(
        spark, fixtures, tmp_path, fail_round, table):
    """A failure injected right after one write of an attempt — the
    bootstrap's `url_seen` write, or round 2's `fetched` write — then the
    crawl retried on the same engine: the committed crawl equals the
    oracle's, no table holds a duplicate row, host_state is one dir, and
    the warehouse holds nothing the manifests do not reference."""
    eng = CrawlEngine(spark, fixtures, str(tmp_path / "wh"),
                      CrawlConfig(**CFG))
    if fail_round > 1:
        eng.run(max_rounds=fail_round - 1)
    store = eng.store
    write = store.stage_write

    def failing_write(table_, df, mode):
        write(table_, df, mode)
        if table_ == table:
            raise _Injected(f"injected after the {table} write")

    store.stage_write = failing_write
    with pytest.raises(_Injected):
        eng.run(max_rounds=1)
    store.stage_write = write
    committed = (store.snapshot() or {}).get("round", -1)
    assert committed == fail_round - 1
    assert eng._attempt_cache == []
    eng.run(max_rounds=3 - max(committed, 0))

    oracle = oracle_crawl(fixtures, max_rounds=3)
    key = ("url", "round", "depth", "discovery_seq", "image_id")
    got = sorted((tuple(r[k] for k in key)
                  for r in store.read("fetched").collect()),
                 key=lambda t: (t[1], t[2], t[3]))
    assert got == [tuple(r[k] for k in key) for r in oracle.fetched]
    seen = [r["url"] for r in store.read("url_seen").collect()]
    assert len(seen) == len(set(seen)) and set(seen) == oracle.url_seen
    assert ({(r["url"], r["round"], r["reason"])
             for r in store.read("failures").collect()}
            == {(r["url"], r["round"], r["reason"])
                for r in oracle.failures})
    front = [r["url"] for r in store.read("frontier").collect()]
    assert len(front) == len(set(front))
    snap = store.snapshot()
    assert snap["round"] == 3
    assert len(snap["tables"]["host_state"]) == 1
    assert snap["rows"]["fetched"] == len(got)

    referenced = {(t, d) for h in store.history()
                  for t, dirs in store.snapshot(h["snapshot_id"])
                  ["tables"].items() for d in dirs}
    on_disk = {(t, d) for t in os.listdir(os.path.join(store.root, "tables"))
               for d in os.listdir(os.path.join(store.root, "tables", t))}
    assert on_disk == referenced
    assert set(os.listdir(store.root)) == {"CURRENT", "snapshots", "tables"}
