"""Regression tests for engine edge cases found in review: budget
exhaustion, alias seeds, bucket-count independence, stale bloom sidecars
and state left behind by older engines."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from ai_intel_web_scraper_spark.crawl.scheduler import CrawlConfig, CrawlEngine
from ai_intel_web_scraper_spark.functions.urls import canonicalize_url, url_hash64
from ai_intel_web_scraper_spark.oracle.crawler import oracle_crawl


def _mini_fixtures(out: str, seeds: list[tuple[int, str, float]],
                   pages: dict[str, list[str]], max_pages: int = 1,
                   max_depth: int = 3) -> dict:
    """Hand-built one-host web: pages maps url -> out_links."""
    os.makedirs(out, exist_ok=True)
    paths = {n: os.path.join(out, f"{n}.parquet")
             for n in ("web_graph", "seeds", "politeness", "robots")}
    host = "h0.example"
    pq.write_table(pa.Table.from_pylist(
        [{"seed_seq": s, "url": u, "priority": p} for s, u, p in seeds],
        schema=pa.schema([("seed_seq", pa.int64()), ("url", pa.string()),
                          ("priority", pa.float64())])), paths["seeds"])
    graph = []
    for u, links in pages.items():
        cu = canonicalize_url(u)
        h = url_hash64(cu)
        graph.append({"url": cu, "host": host, "path": cu.split(host)[1],
                      "url_hash": h, "bucket": int(abs(h)) % 16,
                      "status": 200, "fail_attempts": 0,
                      "out_links": links, "image_id": f"img-{len(graph)}"})
    pq.write_table(pa.Table.from_pylist(graph, schema=pa.schema([
        ("url", pa.string()), ("host", pa.string()), ("path", pa.string()),
        ("url_hash", pa.int64()), ("bucket", pa.int32()),
        ("status", pa.int32()), ("fail_attempts", pa.int32()),
        ("out_links", pa.list_(pa.string())), ("image_id", pa.string())])),
        paths["web_graph"])
    pq.write_table(pa.Table.from_pylist(
        [{"host": host, "crawl_delay": 1.0, "max_pages": max_pages,
          "max_depth": max_depth, "exclude_patterns": ["/tag/"]}],
        schema=pa.schema([("host", pa.string()),
                          ("crawl_delay", pa.float64()),
                          ("max_pages", pa.int32()),
                          ("max_depth", pa.int32()),
                          ("exclude_patterns", pa.list_(pa.string()))])),
        paths["politeness"])
    pq.write_table(pa.Table.from_pylist(
        [{"host": host, "disallow": [], "crawl_delay_override": None,
          "body": "User-agent: *\nDisallow:\n"}],
        schema=pa.schema([("host", pa.string()),
                          ("disallow", pa.list_(pa.string())),
                          ("crawl_delay_override", pa.float64()),
                          ("body", pa.string())])), paths["robots"])
    return paths


BASE = "https://h0.example"


@pytest.fixture()
def mini(tmp_path):
    """Two pages linking to each other, but max_pages=1: the budget
    exhausts with a non-empty frontier."""
    return _mini_fixtures(
        str(tmp_path / "fx"),
        seeds=[(0, f"{BASE}/p/0", 0.5)],
        pages={f"{BASE}/p/0": [f"{BASE}/p/1"],
               f"{BASE}/p/1": [f"{BASE}/p/0"]},
        max_pages=1)


def test_budget_exhaustion_terminates_cleanly(spark, mini, tmp_path):
    """When every remaining host's budget is exhausted, the round must
    commit an empty frontier and stop — not crash on an empty quota table."""
    eng = CrawlEngine(spark, mini, str(tmp_path / "wh"),
                      CrawlConfig(write_payload=False, expected_urls=1024))
    rounds = eng.run()
    assert rounds[-1]["frontier_size"] == 0
    assert eng.store.read("fetched").count() == 1  # budget respected
    # the exhausted round runs the normal plan: nothing scheduled, an
    # empty frontier committed, and its metrics row says so
    last = eng.store.read("metrics").orderBy("round").collect()[-1]
    assert last["round"] == rounds[-1]["round"] == 2
    for col in ("scheduled", "fetched_ok", "discovered", "new_urls",
                "frontier_size"):
        assert last[col] == 0, col
    want = oracle_crawl(mini)
    assert len(want.fetched) == 1


def test_alias_seeds_fetch_once(spark, tmp_path):
    """Seed aliases (trailing slash/fragment variants of one URL) collapse
    to a single frontier row, like the oracle's add-before-enqueue skip."""
    fx = _mini_fixtures(
        str(tmp_path / "fx"),
        seeds=[(0, f"{BASE}/p/0", 0.9), (1, f"{BASE}/p/0/", 0.5),
               (2, f"{BASE}/p/0#frag", 0.1)],
        pages={f"{BASE}/p/0": []},
        max_pages=10)
    eng = CrawlEngine(spark, fx, str(tmp_path / "wh"),
                      CrawlConfig(write_payload=False, expected_urls=1024))
    eng.run()
    fetched = eng.store.read("fetched").collect()
    assert len(fetched) == 1
    assert fetched[0]["discovery_seq"] == 0  # keep-first by seed_seq
    want = oracle_crawl(fx)
    assert len(want.fetched) == 1


def test_engine_correct_with_non_default_bucket_count(spark, fixtures,
                                                      tmp_path, oracle_small):
    """cfg.n_buckets different from the fixture's on-disk 16-way bucketing
    must not change the crawl (URL equality is the fetch-join key)."""
    eng = CrawlEngine(spark, fixtures, str(tmp_path / "wh"),
                      CrawlConfig(write_payload=False, n_buckets=8,
                                  expected_urls=1 << 14))
    eng.run()
    got = [(r["url"], r["round"], r["discovery_seq"]) for r in
           eng.store.read("fetched")
           .select("url", "round", "depth", "discovery_seq")
           .orderBy("round", "depth", "discovery_seq").collect()]
    want = [(r["url"], r["round"], r["discovery_seq"])
            for r in oracle_small.fetched]
    assert got == want


@pytest.fixture(scope="module")
def oracle_small(fixtures):
    return oracle_crawl(fixtures)


def _chain_back_to(k: int) -> dict[str, list[str]]:
    """Seven pages p/0 -> ... -> p/6 -> p/k. Crawled one page a round, p/k
    is first seen in round k and rediscovered in round 7: the refetch
    bait for a sidecar that missed the rounds in between."""
    chain = {f"{BASE}/p/{i}": [f"{BASE}/p/{i+1}"] for i in range(6)}
    chain[f"{BASE}/p/6"] = [f"{BASE}/p/{k}"]
    return chain


@pytest.mark.parametrize("marker", ["other_layout", "none"])
def test_stale_sidecar_rebuilds_never_refetch(spark, tmp_path, marker):
    """Shards that miss url_seen rows must be rebuilt from url_seen, not
    trusted. Here the committed shards are round 1's (read by time
    travel), which lack p/3, and the commit's sidecar marker names
    another shard layout or is absent (a commit that did not maintain
    the shards: an older engine's, a compact()). Trusting the shards
    would probe p/3 'definitely new' when p/6 links back to it in round
    7, and fetch it twice."""
    fx = _mini_fixtures(str(tmp_path / "fx"),
                        seeds=[(0, f"{BASE}/p/0", 0.5)],
                        pages=_chain_back_to(3), max_pages=50, max_depth=10)
    wh = str(tmp_path / "wh")
    cfg = CrawlConfig(write_payload=False, expected_urls=1024)
    eng = CrawlEngine(spark, fx, wh, cfg)
    eng.run(max_rounds=4)
    store = eng.store
    round1 = next(h["snapshot_id"] for h in store.history()
                  if h["round"] == 1)
    store.stage_write("bloom_shards",
                      store.read("bloom_shards", snap_id=round1), "replace")
    sidecar = None
    if marker == "other_layout":
        sidecar = {"n_buckets": cfg.n_buckets * 2, "m_bits": eng._bloom_m}
    store.commit(store.snapshot()["round"], sidecar=sidecar)
    eng = CrawlEngine(spark, fx, wh, cfg)
    eng.run()
    fetched = eng.store.read("fetched")
    assert fetched.count() == fetched.select("url").distinct().count()
    assert fetched.count() == 7  # the whole chain, each exactly once


def test_legacy_blobs_leave_manifest_and_disk(spark, tmp_path):
    """An older store kept its sidecar marker as a file under `blobs/`,
    named by the manifest's `blobs` key. This engine reads no such
    marker (the round rebuilds the shards), writes no `blobs` key, and
    expire_snapshots frees the dir; the crawl is unaffected."""
    import json

    fx = _mini_fixtures(str(tmp_path / "fx"),
                        seeds=[(0, f"{BASE}/p/0", 0.5)],
                        pages=_chain_back_to(3), max_pages=50, max_depth=10)
    wh = str(tmp_path / "wh")
    eng = CrawlEngine(spark, fx, wh, CrawlConfig(
        write_payload=False, expected_urls=1024))
    eng.run(max_rounds=1)
    store = eng.store
    os.makedirs(os.path.join(wh, "blobs"))
    with open(os.path.join(wh, "blobs", "sidecar_meta-0.bin"), "w") as f:
        json.dump({"repr": "partitioned", "n_buckets": 16,
                   "m_bits": eng._bloom_m, "round": 1}, f)
    snap_path = store._snap_path(store.current_snapshot_id())
    with open(snap_path) as f:
        legacy = json.load(f)
    legacy["blobs"] = {"sidecar_meta": "sidecar_meta-0.bin"}
    del legacy["sidecar"]
    with open(snap_path, "w") as f:
        json.dump(legacy, f)
    eng.run(max_rounds=1)
    assert "blobs" not in store.snapshot()
    store.expire_snapshots(keep_last=1)
    assert not os.path.exists(os.path.join(wh, "blobs"))
    eng.run()
    _assert_matches_oracle(store, fx)


def test_legacy_tables_leave_manifest_and_disk(spark, tmp_path):
    """A table no round writes any more (an older engine's
    `cuckoo_shards`) is not carried into the next manifest, so
    expire_snapshots frees its dirs; the crawl is unaffected."""
    fx = _mini_fixtures(str(tmp_path / "fx"),
                        seeds=[(0, f"{BASE}/p/0", 0.5)],
                        pages=_chain_back_to(3), max_pages=50, max_depth=10)
    wh = str(tmp_path / "wh")
    eng = CrawlEngine(spark, fx, wh, CrawlConfig(
        write_payload=False, expected_urls=1024))
    eng.run(max_rounds=1)
    store = eng.store
    store.stage_write("cuckoo_shards", spark.range(4).selectExpr(
        "cast(id as int) as bucket"), "replace")
    store.commit(store.snapshot()["round"])
    assert store.snapshot()["tables"]["cuckoo_shards"]
    eng.run(max_rounds=1)
    store.expire_snapshots(keep_last=1)
    assert "cuckoo_shards" not in store.snapshot()["tables"]
    assert "cuckoo_shards" not in store.snapshot()["rows"]
    assert not os.listdir(os.path.join(wh, "tables", "cuckoo_shards"))
    eng.run()
    _assert_matches_oracle(store, fx)


def _assert_matches_oracle(store, fx) -> None:
    want = oracle_crawl(fx)
    got = [(r["url"], r["round"], r["depth"], r["discovery_seq"]) for r in
           store.read("fetched")
           .select("url", "round", "depth", "discovery_seq")
           .orderBy("round", "depth", "discovery_seq").collect()]
    assert got == [(r["url"], r["round"], r["depth"], r["discovery_seq"])
                   for r in want.fetched]
    assert {r["url"] for r in store.read("url_seen").collect()} \
        == want.url_seen


def test_n_buckets_resize_resume_never_refetches(spark, tmp_path):
    """Resuming the same warehouse with a DIFFERENT n_buckets must not
    refetch seen URLs: stored url_seen.bucket values and sidecar shard
    bucketing from the old sizing are invalid under the new modulus, so
    both the anti-join key (recomputed bucket) and the sidecar (marker
    mismatch -> rebuild) must adapt."""
    chain = {f"{BASE}/p/{i}": [f"{BASE}/p/{i+1}"] for i in range(6)}
    chain[f"{BASE}/p/6"] = [f"{BASE}/p/0"]
    fx = _mini_fixtures(str(tmp_path / "fx"),
                        seeds=[(0, f"{BASE}/p/0", 0.5)],
                        pages=chain, max_pages=50, max_depth=10)
    wh = str(tmp_path / "wh")
    CrawlEngine(spark, fx, wh, CrawlConfig(
        write_payload=False, expected_urls=1024,
        n_buckets=16)).run(max_rounds=2)
    eng = CrawlEngine(spark, fx, wh, CrawlConfig(
        write_payload=False, expected_urls=1024, n_buckets=64))
    eng.run()
    fetched = eng.store.read("fetched")
    assert fetched.count() == fetched.select("url").distinct().count()
    assert fetched.count() == 7


@pytest.mark.parametrize("seed,n_hosts,pages,dup", [
    (101, 7, 200, 0.0),
    (202, 3, 90, 0.3),
    (303, 12, 350, 0.1),
])
def test_randomized_webs_match_oracle(spark, tmp_path, seed, n_hosts,
                                      pages, dup):
    """Crawl parity must hold on arbitrary web shapes, not just the one
    fixture: random seeds, host counts, sizes, and image-dup rates."""
    from ai_intel_web_scraper_spark.synth.generator import (WebSpec,
                                                            generate_fixtures)
    spec = WebSpec(seed=seed, n_hosts=n_hosts, total_pages=pages,
                   dup_frac=dup)
    fx = generate_fixtures(spec, str(tmp_path / "fx"), with_bytes=False)
    eng = CrawlEngine(spark, fx, str(tmp_path / "wh"),
                      CrawlConfig(write_payload=False, expected_urls=1 << 12))
    eng.run()
    want = oracle_crawl(fx)
    got = [(r["url"], r["round"], r["depth"], r["discovery_seq"]) for r in
           eng.store.read("fetched")
           .select("url", "round", "depth", "discovery_seq")
           .orderBy("round", "depth", "discovery_seq").collect()]
    assert got == [(r["url"], r["round"], r["depth"], r["discovery_seq"])
                   for r in want.fetched]
    got_seen = {r["url"] for r in
                eng.store.read("url_seen").select("url").collect()}
    assert got_seen == want.url_seen


def test_partitioned_probe_self_describes_width_and_merges_mixed(spark):
    """The probe-only function reads its width from the shard rows
    themselves (len(bitmap)*8), so a warehouse sized by another
    expected_urls probes correctly at its own width. Rows of two widths
    in one bucket are never merged: probing a stored shard at the wrong
    width would yield false 'definitely new' verdicts that bypass the
    exact anti-join, so the probe refuses them, naming both widths."""
    import numpy as np
    import pandas as pd

    from ai_intel_web_scraper_spark.crawl.bloom import (partial_bitmaps,
                                                        partitioned_probe_fn)
    rng = np.random.default_rng(11)
    old_keys = rng.integers(-(1 << 62), 1 << 62, 500, dtype=np.int64)
    new_keys = rng.integers(-(1 << 62), 1 << 62, 500, dtype=np.int64)
    absent = rng.integers(-(1 << 62), 1 << 62, 500, dtype=np.int64)

    def shard_row(keys, m_bits):
        (rows,) = partial_bitmaps(m_bits, 1)(
            iter([pd.DataFrame({"bucket": 0, "url_hash": keys})]))
        return rows["bitmap"].iloc[0]

    probe = partitioned_probe_fn(["url_hash", "bucket"])
    for keys, m_bits in ((old_keys, 1 << 14), (new_keys, 1 << 17)):
        cand = pd.DataFrame({"url_hash": np.concatenate([keys, absent]),
                             "bucket": 0})
        maybe = probe(cand, pd.DataFrame(
            {"bucket": [0], "bitmap": [shard_row(keys, m_bits)]})
        )["maybe"].to_numpy()
        # zero false negatives at the row's own width
        assert maybe[:500].all()
        # and the filter still prunes: most absent keys read definitely-new
        assert (~maybe[500:]).sum() > 400
    mixed = pd.DataFrame({
        "bucket": [0, 0],
        "bitmap": [shard_row(old_keys, 1 << 14),   # old sizing
                   shard_row(new_keys, 1 << 17)],  # reopened, resized
    })
    cand = pd.DataFrame({"url_hash": old_keys, "bucket": 0})
    with pytest.raises(ValueError, match=f"{1 << 17}.*{1 << 14}"):
        probe(cand, mixed)


@pytest.mark.parametrize("kw", [{"bloom_mode": "broadcast"},
                                {"bloom_mode": "cuckoo"},
                                {"host_state_mode": "pandas"}])
def test_crawl_config_rejects_removed_modes(kw):
    """One sidecar and one host-state path remain: any other mode value
    is refused by name, not silently run as the default."""
    (value,) = kw.values()
    with pytest.raises(ValueError, match=repr(value)):
        CrawlConfig(**kw)


def test_connected_components_on_64bit_hash_ids(spark):
    """The convergence test must not overflow Spark 4's ANSI long sum when
    ids are 64-bit hashes (the repo's standard doc id); labels near
    +/-2^62 summed over a component would throw under the old
    sum-of-labels fixpoint check."""
    from ai_intel_web_scraper_spark.operators.dedup import (
        connected_components)
    big = 1 << 62
    # two components whose label sums each overflow int64 if summed twice
    pairs = [(big, big + 1), (big + 1, big + 2),
             (-big, -big - 1), (big + 10, big + 11)]
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    comp = {r["id"]: r["comp"] for r in connected_components(df).collect()}
    assert comp[big] == comp[big + 1] == comp[big + 2] == big
    assert comp[-big] == comp[-big - 1] == -big - 1
    assert comp[big + 10] == comp[big + 11] == big + 10


def test_partitioned_bloom_resume_with_resized_filter_never_refetches(
        spark, tmp_path):
    """The ADVICE scenario end-to-end: crawl with one expected_urls
    sizing, then RESUME the same
    warehouse with a 16x larger sizing (different shard width). The
    sidecar marker records the width, so the resized engine rebuilds the
    shards from url_seen at its own width — a wrong-width probe yields
    false 'definitely new' verdicts that bypass the exact anti-join and
    refetch seen URLs."""
    chain = {f"{BASE}/p/{i}": [f"{BASE}/p/{i+1}"] for i in range(8)}
    chain[f"{BASE}/p/8"] = [f"{BASE}/p/0"]  # cycle back: refetch bait
    fx = _mini_fixtures(str(tmp_path / "fx"),
                        seeds=[(0, f"{BASE}/p/0", 0.5)],
                        pages=chain, max_pages=50, max_depth=12)
    wh = str(tmp_path / "wh")
    first = CrawlEngine(spark, fx, wh, CrawlConfig(
        write_payload=False, expected_urls=1 << 10))
    first.run(max_rounds=3)
    eng = CrawlEngine(spark, fx, wh, CrawlConfig(
        write_payload=False, expected_urls=1 << 14))
    eng.run()
    fetched = eng.store.read("fetched")
    assert fetched.count() == fetched.select("url").distinct().count()
    assert fetched.count() == 9  # the whole chain, each exactly once
    # the resize rebuilt the shards: every row is the resized width
    assert first._bloom_m != eng._bloom_m
    widths = {len(bytes(r["bitmap"])) * 8 for r in
              eng.store.read("bloom_shards").collect()}
    assert widths == {eng._bloom_m}


def test_sitemap_preseed_crawl_parity(spark, fixtures, tmp_path):
    """Sitemap-derived seeds appended to the seeds table must flow through
    BOTH the engine and the pure-Python oracle crawler identically —
    fetched at depth 0, alias-collapsed, budget/politeness applied — and
    the full fetch order must still match exactly."""
    from pyspark.sql import functions as F

    from ai_intel_web_scraper_spark.sources.sitemaps import (
        parse_sitemaps, sitemaps_to_seeds)
    # sitemap bodies listing REAL deep pages of the parity web
    bodies = []
    for k, lo in ((0, 8), (7, 5)):
        entries = "".join(
            f"<url><loc>https://host{k}.example/p/{i}</loc>"
            f"<priority>0.{(i % 9) + 1}</priority></url>"
            for i in range(lo, lo + 5))
        bodies.append((f"host{k}.example",
                       f"<urlset>{entries}</urlset>"))
    parsed = parse_sitemaps(spark.createDataFrame(
        bodies, "host string, body string"))
    old = spark.read.parquet(fixtures["seeds"])
    base = old.agg(F.max("seed_seq")).collect()[0][0] + 1
    extra = sitemaps_to_seeds(parsed, base_seq=base)
    out = str(tmp_path / "fx")
    os.makedirs(out)
    aug = dict(fixtures)
    aug["seeds"] = os.path.join(out, "seeds.parquet")
    (old.select("seed_seq", "url", "priority").unionByName(extra)
     .toPandas().to_parquet(aug["seeds"]))
    eng = CrawlEngine(spark, aug, str(tmp_path / "wh"),
                      CrawlConfig(expected_urls=1 << 14,
                                  write_payload=False))
    eng.run()
    got = [(r["url"], r["round"], r["depth"], r["discovery_seq"])
           for r in eng.store.read("fetched")
           .select("url", "round", "depth", "discovery_seq")
           .orderBy("round", "depth", "discovery_seq").collect()]
    want = [(r["url"], r["round"], r["depth"], r["discovery_seq"])
            for r in oracle_crawl(aug).fetched]
    assert got == want
    # the preseeded deep pages are fetched, and at depth 0
    fetched_depth = {u: d for u, _r, d, _s in got}
    preseeded = [r["url"] for r in extra.collect()]
    hit = [u for u in preseeded if u in fetched_depth]
    assert len(hit) >= 5
    assert all(fetched_depth[u] == 0 for u in hit)


def test_blocked_hosts_policy_engine_oracle_parity(spark, fixtures,
                                                   tmp_path):
    """Quality-driven host blocklist wired into the crawl: engine and
    pure-Python oracle agree exactly on the fetched set with a host
    blocked, no fetched row touches the blocked host, and the blocked
    host WAS fetched in the unblocked baseline (the policy actually
    bites)."""
    def engine_run(bl):
        wh = str(tmp_path / f"wh_{int(bool(bl))}")
        eng = CrawlEngine(spark, fixtures, wh,
                          CrawlConfig(write_payload=False,
                                      expected_urls=1 << 14,
                                      blocked_hosts=tuple(sorted(bl))))
        eng.run(max_rounds=4)
        return [(r["url"], r["round"], r["discovery_seq"], r["host"])
                for r in eng.store.read("fetched")
                .orderBy("round", "depth", "discovery_seq").collect()]

    base = engine_run(set())
    # block a host the baseline actually fetched (not the most-fetched
    # one, so the crawl frontier stays alive)
    from collections import Counter
    counts = Counter(h for _, _, _, h in base)
    blocked = {counts.most_common()[1][0]}
    assert any(h in blocked for _, _, _, h in base)      # baseline fetches it
    got = engine_run(blocked)
    assert all(h not in blocked for _, _, _, h in got)   # policy bites
    orc = oracle_crawl(fixtures, max_rounds=4, blocked_hosts=blocked)
    want = [(r["url"], r["round"], r["discovery_seq"], r["host"])
            for r in orc.fetched]
    assert [(u, rd, sq) for u, rd, sq, _ in got] \
        == [(u, rd, sq) for u, rd, sq, _ in want]


def test_engine_internal_sitemap_preseed_parity(spark, fixtures, tmp_path):
    """CrawlConfig.preseed_sitemaps=True: the engine parses the fixture
    sitemap BODIES at bootstrap (robots -> sitemap -> seeds, fully
    engine-internal) and must match the oracle crawler's independent
    Python replay of the same channel exactly; the preseed must also
    actually change the crawl vs the baseline (new URLs fetched), and
    list-seed duplicates collapse keep-first by seq on both sides."""
    def engine_run(preseed):
        wh = str(tmp_path / f"wh_{int(preseed)}")
        eng = CrawlEngine(spark, fixtures, wh,
                          CrawlConfig(write_payload=False,
                                      expected_urls=1 << 14,
                                      preseed_sitemaps=preseed))
        eng.run(max_rounds=4)
        return [(r["url"], r["round"], r["discovery_seq"])
                for r in eng.store.read("fetched")
                .orderBy("round", "depth", "discovery_seq").collect()]

    got = engine_run(True)
    want = [(r["url"], r["round"], r["discovery_seq"])
            for r in oracle_crawl(fixtures, max_rounds=4,
                                  preseed_sitemaps=True).fetched]
    assert got == want and len(got) > 0
    base = set(engine_run(False))
    assert set(got) != base                 # the channel changed the crawl
    assert any(seq >= 1_000_000 for _, _, seq in got)  # preseeds fetched
