"""Operator unit tests over the driver testdata (sf0.001)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from ai_intel_web_scraper_spark.operators import chunking as C
from ai_intel_web_scraper_spark.operators import dedup as D
from ai_intel_web_scraper_spark.operators import ranking as R
from ai_intel_web_scraper_spark.operators import text as X
from ai_intel_web_scraper_spark.operators import vectors as V


def _docs(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def _emb(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))


def test_keep_first_is_stable(spark, sf_dir):
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    first = D.keep_first(ev, ["user_id"], ["ts", "event_id"])
    assert first.count() == ev.select("user_id").distinct().count()
    # the kept row per user is the true minimum (ts, event_id)
    mins = (ev.groupBy("user_id")
            .agg(F.min(F.struct("ts", "event_id")).alias("m")))
    joined = first.join(mins, "user_id")
    bad = joined.where((F.col("ts") != F.col("m.ts"))
                       | (F.col("event_id") != F.col("m.event_id"))).count()
    assert bad == 0


def test_token_window_chunks_cover_text(spark, sf_dir):
    docs = _docs(spark, sf_dir).limit(50)
    chunks = C.token_window_chunks(docs, "doc_id", "text")
    # every token index is covered by some chunk; first chunk starts at 0
    stats = (chunks.groupBy("doc_id")
             .agg(F.min("chunk_index").alias("mn"),
                  F.max("chunk_index").alias("mx"),
                  F.count("*").alias("n")))
    row = stats.agg(F.max("mn").alias("worst_min"),
                    F.min("n").alias("min_chunks")).first()
    assert row["worst_min"] == 0
    assert row["min_chunks"] >= 1
    # chunk token_count never exceeds the window
    assert chunks.where(F.col("token_count") > C.CHUNK_TOKENS).count() == 0


def test_recursive_chunks_token_budget(spark, sf_dir):
    docs = _docs(spark, sf_dir).limit(30)
    out = C.recursive_chunks(docs, "doc_id", "text")
    assert out.where(F.col("token_count") > C.CHUNK_TOKENS).count() == 0
    assert out.select("chunk_id").distinct().count() == out.count()


def test_minhash_estimates_track_exact_jaccard(spark, sf_dir):
    docs = _docs(spark, sf_dir).limit(120)
    exact = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
             D.jaccard_pairs(docs, "doc_id", "text", threshold=0.0)
             .collect()}
    est = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in
           D.minhash_neardup_pairs(docs, "doc_id", "text").collect()}
    joint = [(exact.get(k, 0.0), v) for k, v in est.items()]
    assert joint, "LSH should surface at least one candidate pair"
    # every LSH candidate's estimate is within 0.35 of the exact jaccard
    for ex, es in joint:
        assert abs(ex - es) < 0.35, (ex, es)


def test_simhash_finds_exact_duplicates(spark, sf_dir):
    docs = _docs(spark, sf_dir).limit(40)
    dup = docs.select((F.col("doc_id") + 100000).alias("doc_id"), "text",
                      "lang", "source", "n_chars")
    both = docs.unionByName(dup)
    pairs = D.simhash_neardup_pairs(both, "doc_id", "text", max_hamming=0)
    found = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    for r in docs.select("doc_id").collect():
        assert (r["doc_id"], r["doc_id"] + 100000) in found


def test_lsh_topk_finds_planted_neighbors(spark, sf_dir):
    import __spark_entry__ as E
    emb = _emb(spark, sf_dir)
    # plant the query vector (and a scaled copy) into the data: LSH must
    # recover them — identical direction -> identical bucket signature
    planted = spark.createDataFrame(
        [(900001, [float(x) for x in E.QUERY_VEC_A], 0),
         (900002, [float(x * 0.9) for x in E.QUERY_VEC_A], 0)],
        "vec_id long, embedding array<float>, label int")
    both = emb.unionByName(planted)
    approx = [r["vec_id"] for r in
              V.lsh_topk(both, E.QUERY_VEC_A, 10, n_probe_bits=2).collect()]
    assert approx[0] in (900001, 900002)
    assert {900001, 900002} <= set(approx)
    # and on uniform-random data it still returns k rows from the probed cells
    uniform = [r["vec_id"] for r in
               V.lsh_topk(emb, E.QUERY_VEC_A, 10, n_probe_bits=2).collect()]
    assert len(uniform) >= 1


def test_rrf_prefers_items_ranked_high_in_both(spark):
    a = spark.createDataFrame([(1, 0.9), (2, 0.8), (3, 0.7)], "vec_id long, score double")
    b = spark.createDataFrame([(2, 0.95), (1, 0.5), (4, 0.4)], "vec_id long, score double")
    out = R.rrf_fuse([a, b], "vec_id", k=4).collect()
    assert out[0]["vec_id"] in (1, 2)
    ids = [r["vec_id"] for r in out]
    assert set(ids) == {1, 2, 3, 4}


def test_quality_and_text_columns(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    out = docs.select(
        X.word_count_col(F.col("text")).alias("wc"),
        X.sentiment_label_col(F.col("text")).alias("sent"),
        X.lang_id_col(F.col("text")).alias("lang_pred"),
        X.quality_score_col(F.col("text")).alias("q"),
    ).collect()
    for r in out:
        assert r["wc"] > 0
        assert r["sent"] in ("positive", "negative", "mixed", "neutral")
        assert r["lang_pred"] in ("en", "es", "fr", "unknown")
        assert 0.0 <= r["q"] <= 1.0


def test_image_features_real_decode(spark, fixtures):
    from ai_intel_web_scraper_spark.operators.multimodal import image_features
    pages = spark.read.parquet(fixtures["pages"]).limit(40)
    feats = image_features(pages).collect()
    assert feats and all(r["decode_ok"] for r in feats)
    for r in feats:
        assert 0.0 <= r["mean_r"] <= 255.0


def test_video_frame_sample_decodes_every_nth_frame(spark):
    """MJPN container: solid-color frames make sampled-frame means exact;
    only every_n-th index appears; corrupt bytes degrade to one
    decode_ok=false row."""
    import numpy as np

    from ai_intel_web_scraper_spark.functions.codec import (decode_image,
                                                            mjpng_encode)
    from ai_intel_web_scraper_spark.operators.multimodal import (
        video_frame_sample)

    def clip(k):
        return mjpng_encode([
            np.full((8, 8, 3), ((k + i) % 256, (2 * i) % 256, 7),
                    dtype=np.uint8) for i in range(10)])

    df = spark.createDataFrame(
        [("v0", clip(0)), ("v1", clip(100)), ("bad", b"EBML not mjpn")],
        "video_id string, bytes binary")
    rows = video_frame_sample(df, every_n=4).collect()
    ok = [r for r in rows if r["decode_ok"]]
    assert sorted({r["frame_index"] for r in ok}) == [0, 4, 8]
    for r in ok:
        k = 0 if r["video_id"] == "v0" else 100
        assert r["mean_r"] == float((k + r["frame_index"]) % 256)
        assert r["mean_g"] == float((2 * r["frame_index"]) % 256)
        # the emitted PNG round-trips to the same frame
        px = decode_image(bytes(r["frame_png"]), "png")
        assert float(px[..., 2].mean()) == 7.0
    bad = [r for r in rows if not r["decode_ok"]]
    assert len(bad) == 1 and bad[0]["video_id"] == "bad"


def test_audio_features_decodes_real_pcm_wav(spark):
    """Square-wave PCM WAV has closed-form features: duration = n/sr,
    rms = amp/32768 EXACTLY in float (power-of-two scale); corrupt bytes
    degrade to decode_ok=false rows, not task failure."""
    import io
    import wave

    import numpy as np

    from ai_intel_web_scraper_spark.operators.multimodal import (
        audio_features)

    def make_wav(amp, sr=8000, frames=4000):
        half = np.tile(np.array([amp, -amp], dtype=np.int16), frames // 2)
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(sr)
            w.writeframes(half.tobytes())
        return buf.getvalue()

    rows = [("a", make_wav(3000)), ("b", make_wav(16384)),
            ("bad", b"not a riff header at all")]
    df = spark.createDataFrame(rows, "audio_id string, bytes binary")
    got = {r["audio_id"]: r for r in audio_features(df).collect()}
    assert got["a"]["decode_ok"] and got["b"]["decode_ok"]
    assert got["a"]["duration_s"] == 0.5
    assert got["a"]["sample_rate"] == 8000 and got["a"]["channels"] == 1
    assert got["a"]["rms"] == 3000 / 32768
    assert got["b"]["rms"] == 0.5
    assert not got["bad"]["decode_ok"] and got["bad"]["rms"] is None


def test_url_classify_routes_each_kind(spark):
    from ai_intel_web_scraper_spark.operators import urlrules as UR
    rows = [
        ("https://b.example/my-long-post-title", "post"),
        ("https://b.example/2021/launch", "post"),
        ("https://b.example/tags/python", "listing"),
        ("https://b.example/page/2", "listing"),
        ("https://b.example/logo.png", "asset"),
        ("https://b.example/about", "other"),
    ]
    df = spark.createDataFrame(rows, "url string, want string")
    got = df.select("want", UR.classify_url_col(F.col("url")).alias("got"))
    assert all(r["got"] == r["want"] for r in got.collect())


def test_extract_date_tries_reference_formats(spark):
    rows = [
        ("posted 2023-05-17 by admin", "2023-05-17"),
        ("updated 05/17/2023 midway", "2023-05-17"),
        ("released May 17, 2023 to all", "2023-05-17"),
        ("no date at all here", None),
    ]
    df = spark.createDataFrame(rows, "text string, want string")
    got = df.select("want",
                    X.extract_date_col(F.col("text")).cast("string")
                    .alias("got")).collect()
    assert all(r["got"] == r["want"] for r in got)


def test_record_id_shape_and_determinism(spark):
    df = spark.createDataFrame([("kx", "docs", "https://a/b")],
                               "origin string, st string, url string")
    rid = df.select(X.record_id_col(
        F.col("origin"), F.col("st"), F.col("url")).alias("rid")).first()["rid"]
    import hashlib
    want = "kx-docs-" + hashlib.sha256(b"https://a/b").hexdigest()[:12]
    assert rid == want


def test_mine_metrics_long_format(spark):
    df = spark.createDataFrame(
        [(1, "ingested 1200 rows/s at 3.5 ms and 88 QPS")], "id int, t string")
    got = [(r["pos"], r["metric_value"], r["unit"]) for r in
           X.mine_metrics(df, "id", "t").orderBy("pos").collect()]
    assert got == [(0, 1200.0, "rows/s"), (1, 3.5, "ms"), (2, 88.0, "QPS")]


def test_phash_neardup_finds_planted_duplicates(spark, fixtures):
    from ai_intel_web_scraper_spark.operators.multimodal import (
        phash_hamming_neardup)
    pages = spark.read.parquet(fixtures["pages"])
    pairs = phash_hamming_neardup(pages, max_hamming=6)
    assert pairs.count() > 0  # generator plants exact + near image dups
    assert pairs.where(F.col("hamming") == 0).count() > 0


def test_incremental_phash_neardup_scopes_and_matches_full(spark, fixtures):
    """Planted phashes exercising all three pair scopes: index-index
    (must be EXCLUDED — the incremental contract), index-new (vs_index
    true), new-new (vs_index false); and the kept pair set must equal
    the full self-join minus index-only pairs."""
    from ai_intel_web_scraper_spark.operators.multimodal import (
        incremental_phash_neardup, phash_hamming_neardup)
    rows = [("i1", 0x0F0F), ("i2", 0x0F0E),          # index-index, ham 1
            ("i3", 0x7777_0000_0000_0000),
            ("n1", 0x7777_0000_0000_0003),           # cross, ham 2
            ("n2", 0x1234_5678_9ABC_DEF0),
            ("n3", 0x1234_5678_9ABC_DEF1)]           # new-new, ham 1
    df = spark.createDataFrame(rows, "image_id string, phash long")
    idx = df.where(F.col("image_id").startswith("i"))
    new = df.where(F.col("image_id").startswith("n"))
    got = {(r["id_a"], r["id_b"]): (r["hamming"], r["vs_index"])
           for r in incremental_phash_neardup(new, idx, 6).collect()}
    assert got == {("i3", "n1"): (2, True), ("n2", "n3"): (1, False)}
    full = {(r["id_a"], r["id_b"]): r["hamming"]
            for r in phash_hamming_neardup(df, 6).collect()}
    assert full == {("i1", "i2"): 1, ("i3", "n1"): 2, ("n2", "n3"): 1}
    # incremental = full minus index-only pairs, hamming agreeing
    assert {p: h for p, (h, _) in got.items()} == {
        p: h for p, h in full.items()
        if not (p[0].startswith("i") and p[1].startswith("i"))}
    # production path: the PERSISTED archive block table (written once,
    # read back) must give the identical result to the recompute path
    import tempfile
    with tempfile.TemporaryDirectory() as td:
        D.hamming_block_rows(idx, "image_id", "phash", 6).write.parquet(
            td, mode="overwrite")
        got_p = {(r["id_a"], r["id_b"]): (r["hamming"], r["vs_index"])
                 for r in incremental_phash_neardup(
                     new, idx, 6,
                     index_blocks=spark.read.parquet(td)).collect()}
        assert got_p == got


def test_image_features_phash_exact_with_corrupt_row_in_batch(spark):
    """Regression: pandas promotes an int column to float64 when ANY row
    of the batch is None, silently rounding a 64-bit phash's low ~11
    bits away — one corrupt image used to corrupt every OTHER row's
    phash in its Arrow batch. The operator must pin nullable Int64."""
    import numpy as np
    from ai_intel_web_scraper_spark.functions.codec import (average_phash,
                                                            png_encode)
    from ai_intel_web_scraper_spark.operators.multimodal import (
        image_features)
    rng = np.random.default_rng(7)
    px = rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8)
    want = average_phash(px)
    assert want % 2048 != 0  # low bits nonzero, else the test is inert
    df = (spark.createDataFrame(
        [("good", "png", bytearray(png_encode(px))),
         ("bad", "png", bytearray(b"not a png"))],
        "image_id string, fmt string, bytes binary")
        .coalesce(1))  # force both rows into ONE Arrow batch
    got = {r["image_id"]: (r["phash"], r["decode_ok"])
           for r in image_features(df).collect()}
    assert got["good"] == (want, True)
    assert got["bad"] == (None, False)


def _mk_clip(frame_values):
    """MJPN clip whose frames are 8x8 grayscale from per-frame 64-int
    lists."""
    import numpy as np
    from ai_intel_web_scraper_spark.functions.codec import mjpng_encode
    frames = [np.array(v, dtype=np.uint8).reshape(8, 8, 1).repeat(3, axis=2)
              for v in frame_values]
    return bytearray(mjpng_encode(frames))


def test_video_signatures_votes_sampling_and_corrupt_batch(spark):
    """Signature semantics end-to-end: (a) the analytic frame-vote
    SimHash is reproduced bit-exactly through the codec chain even with
    a corrupt clip IN THE SAME Arrow batch (the float64 regression);
    (b) a frame that every_n skips cannot change the signature; (c)
    video_neardup pairs the planted near-dups and drops corrupt clips."""
    from ai_intel_web_scraper_spark.operators.multimodal import (
        video_neardup, video_signatures)
    base = [[(37 * f + 11 * i + 3) % 256 for i in range(64)]
            for f in range(5)]
    edit_sampled = [list(v) for v in base]
    edit_sampled[4] = [(v + 96) % 256 for v in base[4]]    # frame 4: sampled
    edit_skipped = [list(v) for v in base]
    edit_skipped[3] = [(v + 96) % 256 for v in base[3]]    # frame 3: skipped
    clips = [("a", _mk_clip(base)), ("b", _mk_clip(edit_skipped)),
             ("c", _mk_clip(edit_sampled)), ("x", bytearray(b"junk"))]
    df = spark.createDataFrame(
        clips, "video_id string, bytes binary").coalesce(1)
    sig = {r["video_id"]: (r["signature"], r["n_sampled"], r["decode_ok"])
           for r in video_signatures(df, every_n=2).collect()}
    # analytic replay (pure python, no codec)
    votes = [0] * 64
    for f in (0, 2, 4):
        px = base[f]
        mean = sum(px) / 64.0
        ph = 0
        for idx, v in enumerate(px):
            if v > mean:
                ph |= 1 << (63 - idx)
        for j in range(64):
            votes[j] += 1 if (ph >> j) & 1 else -1
    want = 0
    for j in range(64):
        if votes[j] > 0:
            want |= 1 << j
    if want >= 1 << 63:
        want -= 1 << 64
    assert sig["a"] == (want, 3, True)
    assert sig["b"] == (want, 3, True)      # skipped-frame edit invisible
    assert sig["c"][2] and sig["c"][0] != want   # sampled-frame edit seen
    assert sig["x"] == (None, None, False)  # corrupt degrades, no poison
    d_ac = bin((sig["a"][0] ^ sig["c"][0]) & ((1 << 64) - 1)).count("1")
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in video_neardup(df, max_hamming=63, every_n=2).collect()}
    assert pairs[("a", "b")] == 0 and pairs[("a", "c")] == d_ac
    assert not any("x" in p for p in pairs)


def test_politeness_rank_quota_and_order(spark):
    from ai_intel_web_scraper_spark.crawl.scheduler import politeness_rank
    rows = [(f"u{i}", i * 7 + 1, "h1" if i < 8 else "h2", i % 3, float(i), i)
            for i in range(12)]
    frontier = spark.createDataFrame(
        rows, "url string, url_hash long, host string, depth int, "
              "priority double, discovery_seq long")
    quota = spark.createDataFrame(
        [("h1", 0.5, 3), ("h2", 1.0, 2)],
        "host string, crawl_delay double, quota int")
    out = politeness_rank(
        frontier, quota, [F.col("depth").asc(), F.col("discovery_seq").asc()],
        n_salt=4, round_no=2, round_seconds=100.0, max_quota=3).collect()
    per_host = {}
    for r in out:
        per_host.setdefault(r["host"], []).append(r)
    assert len(per_host["h1"]) == 3 and len(per_host["h2"]) == 2
    for host, rs in per_host.items():
        rs.sort(key=lambda r: r["fetch_slot"])
        keys = [(r["depth"], r["discovery_seq"]) for r in rs]
        assert keys == sorted(keys)  # slot order == BFS order
        for a, b in zip(rs, rs[1:]):  # politeness floor between slots
            assert b["fetch_ts"] - a["fetch_ts"] >= 0.5 - 1e-9
        assert rs[0]["fetch_ts"] == 2 * 100.0  # virtual round clock


def test_greedy_bin_pack_matches_python_reference(spark, sf_dir):
    ev = (spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
          .select("user_id", "ts", "event_id",
                  F.pmod("event_id", F.lit(9)).cast("int").alias("w")))
    got = {(r["user_id"], r["event_id"]): r["bin_index"] for r in
           C.greedy_bin_pack(ev, ["user_id"], ["ts", "event_id"], "w",
                             budget=20).collect()}
    rows = sorted(ev.collect(), key=lambda r: (r["user_id"], r["ts"],
                                               r["event_id"]))
    want, cur, acc, prev_user = {}, 0, 0, None
    for r in rows:
        if r["user_id"] != prev_user:
            cur, acc, prev_user = 0, 0, r["user_id"]
        if acc > 0 and acc + r["w"] > 20:
            cur += 1
            acc = 0
        acc += r["w"]
        want[(r["user_id"], r["event_id"])] = cur
    assert got == want


def test_robots_udf_parses_bodies(spark):
    from ai_intel_web_scraper_spark.functions.robots import robots_udf
    df = spark.createDataFrame(
        [("h1", "User-agent: *\nDisallow: /a/\nCrawl-delay: 2"),
         ("h2", None)], "host string, body string")
    rows = {r["host"]: r for r in
            df.select("host", robots_udf()("body").alias("r"))
            .select("host", "r.disallow", "r.crawl_delay").collect()}
    assert rows["h1"]["disallow"] == ["/a/"]
    assert rows["h1"]["crawl_delay"] == 2.0
    assert rows["h2"]["disallow"] == []


def test_image_resize_roundtrip(spark, fixtures):
    from ai_intel_web_scraper_spark.functions.codec import decode_image
    from ai_intel_web_scraper_spark.operators.multimodal import image_resize
    pages = spark.read.parquet(fixtures["pages"]).limit(6)
    out = image_resize(pages, 16, 16).collect()
    assert len(out) == 6
    for r in out:
        px = decode_image(bytes(r["bytes"]))
        assert px.shape == (16, 16, 3)
        assert r["w"] == 16 and r["h"] == 16


def test_politeness_rank_equals_naive_single_window(spark):
    """The salted two-phase quota rank (the skew-safe scale path) must be
    SEMANTICALLY identical to the naive one-window-per-host rank, including
    on a hot-host-skewed frontier with per-host quotas."""
    import numpy as np
    from pyspark.sql import Window

    from ai_intel_web_scraper_spark.crawl.scheduler import politeness_rank
    rng = np.random.default_rng(17)
    n = 5000
    hosts = np.where(rng.random(n) < 0.5, 0,
                     rng.integers(0, 40, n))  # host0 holds ~50% of rows
    rows = [(f"u{i}", int(rng.integers(-2**62, 2**62)), f"h{int(h)}",
             int(rng.integers(0, 5)), float(rng.integers(0, 100)), i)
            for i, h in enumerate(hosts)]
    frontier = spark.createDataFrame(
        rows, "url string, url_hash long, host string, depth int, "
              "priority double, discovery_seq long")
    quota = spark.createDataFrame(
        [(f"h{k}", [0.3, 0.5, 1.0][k % 3], int(5 + 7 * (k % 9)))
         for k in range(40)],
        "host string, crawl_delay double, quota int")
    order = [F.col("depth").asc(), F.col("discovery_seq").asc()]
    got = politeness_rank(frontier, quota, order, n_salt=8, round_no=3,
                          round_seconds=100.0, max_quota=68)
    w = Window.partitionBy("host").orderBy(*order)
    naive = (frontier.join(F.broadcast(quota), "host")
             .withColumn("rn", F.row_number().over(w))
             .where(F.col("rn") <= F.col("quota"))
             .withColumn("fetch_slot", (F.col("rn") - 1).cast("int"))
             .withColumn("fetch_ts", F.lit(300.0)
                         + F.col("fetch_slot") * F.col("crawl_delay"))
             .drop("rn", "quota"))
    key = ["url", "host", "fetch_slot", "fetch_ts"]
    a = {tuple(r[c] for c in key) for r in got.select(*key).collect()}
    b = {tuple(r[c] for c in key) for r in naive.select(*key).collect()}
    assert a == b and len(a) > 0


def test_greedy_keep_first_dedup_drops_later_matches(spark):
    pairs = spark.createDataFrame(
        [(1, 5, 0.9), (2, 7, 0.8), (5, 9, 0.3)],
        "id_a long, id_b long, est_jaccard double")
    ids = spark.createDataFrame([(i,) for i in (1, 2, 5, 7, 9)], "doc_id long")
    kept = {r["doc_id"] for r in
            D.greedy_keep_first_dedup(pairs, ids, "doc_id",
                                      threshold=0.6).collect()}
    # 5 and 7 pair with a smaller id above threshold -> dropped;
    # 9 only pairs below threshold -> kept
    assert kept == {1, 2, 9}


def test_minhash_verified_pairs_match_exact_jaccard(spark, sf_dir):
    """The verify stage must agree with the exact jaccard_pairs operator on
    every surviving pair (the LSH estimate only prunes, never decides)."""
    docs = _docs(spark, sf_dir).limit(150)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
           D.minhash_verified_pairs(docs, "doc_id", "text",
                                    threshold=0.05).collect()}
    exact = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
             D.jaccard_pairs(docs, "doc_id", "text",
                             threshold=0.05).collect()}
    for k, v in got.items():
        assert abs(exact[k] - v) < 1e-6  # identical exact values


def _reference_tagger(text: str, topics: dict[str, list[str]],
                      max_topics: int = 3,
                      min_score: float = 0.01) -> list[str]:
    """Pure-Python port of reference processors/topic_tagger.py:75-142."""
    import re
    scores = {}
    for topic_id, kws in topics.items():
        total = 0.0
        for kw in kws:
            weight = 1.0 + kw.count(" ") * 0.5
            total += len(re.findall(r"\b" + re.escape(kw) + r"\b",
                                    text, re.IGNORECASE)) * weight
        if total > 0:
            scores[topic_id] = total / len(kws)
    ordered = sorted(scores.items(), key=lambda x: x[1], reverse=True)
    top = [t for t, s in ordered[:max_topics] if s >= min_score]
    return top or ["unclassified"]


def test_topic_scores_match_reference_greedy(spark, sf_dir):
    """The Spark tagger reproduces the reference tagger's topic SETS per
    document, including weighting, tie order, and the unclassified
    fallback (reference topic_tagger.py:62-142)."""
    docs = _docs(spark, sf_dir).limit(120)
    got: dict = {}
    for r in X.topic_scores(docs, "doc_id", "text").collect():
        got.setdefault(r["doc_id"], []).append((r["topic"], r["score"]))
    rows = docs.select("doc_id", "text").collect()
    assert len(got) == len(rows)
    for r in rows:
        want = _reference_tagger(r["text"], X.TOPICS)
        have = [t for t, _ in sorted(
            got[r["doc_id"]], key=lambda x: -x[1])]
        assert sorted(have) == sorted(want), r["doc_id"]


def test_topic_scores_unclassified_fallback(spark):
    df = spark.createDataFrame(
        [(1, "spark spark merge"), (2, "zzz yyy xxx nothing")],
        "doc_id long, text string")
    rows = {r["doc_id"]: (r["topic"], r["score"])
            for r in X.topic_scores(df, "doc_id", "text").collect()
            if r["doc_id"] == 2}
    assert rows[2] == ("unclassified", 0.0)


def test_quality_reason_reference_order(spark):
    """Reason precedence and exemptions per quality_filter.py:67-95."""
    long_words = " ".join(["table"] * 60)
    lorem = "lorem ipsum " * 60
    cases = [
        (1, "short text", "blog", "too_short"),
        (2, lorem, "blog", "no_topics"),
        (3, lorem, "benchmark", "kept"),      # exemption
        (4, "``` " + long_words + " ```", "docs", "mostly_code"),
        (5, "``` " + long_words + " ```", "blog", "kept"),  # docs-only rule
        (6, long_words + " skip to content. table of contents."
            " cookie policy.", "blog", "boilerplate"),
        (7, " ".join(["/a"] * 20 + ["table"] * 25), "blog", "boilerplate"),
        (8, long_words, "docs", "kept"),
    ]
    df = spark.createDataFrame([(i, t, s) for i, t, s, _ in cases],
                               "id long, t string, src string")
    got = {r["id"]: r["reason"] for r in df.select(
        "id", X.quality_reason_col(
            F.col("t"), F.col("src"),
            X.has_topics_col(F.col("t"))).alias("reason")).collect()}
    for i, _, _, want in cases:
        assert got[i] == want, (i, got[i], want)


def test_chunk_dispatch_strategies(spark):
    """V2 routing + V3 hierarchy semantics on hand-built records
    (reference chunker.py:171-216,296-328,392-453)."""
    long_body = " ".join(f"w{i}" for i in range(90))
    rows = [
        # docs: h2 -> h3 -> h2 again must TRIM the hierarchy back
        (1, "intro words right here\n## A\nsec a words\n### B\n"
            "sec b words\n## C\nsec c words", "Doc", "docs",
         None, None, None, None),
        (2, "post body words here", "Post", "hn",
         ["", "a comment with enough words to keep around ok"],
         None, None, None),
        (3, "question body", "Q", "discussion", None, None, "ideas",
         "the accepted answer text"),
        (4, long_body, "Big", "release", None, None, None, None),
        (5, "plain text body", "X", "mystery_type", None, None, None, None),
    ]
    df = spark.createDataFrame(
        rows, "id long, text string, title string, stype string, "
              "comments array<string>, state string, category string, "
              "answer string")
    out = C.dispatch_chunks(df, "id", "text", "title", "stype",
                            comments_col="comments", state_col="state",
                            category_col="category", answer_col="answer")
    by_id: dict = {}
    for r in out.collect():
        by_id.setdefault(r["id"], []).append(r)
    # docs hierarchy: faithful to reference chunker.py:303-312 —
    # hierarchy[:level] for a level-2 header keeps [title, prev-h2], so
    # the second h2 lands UNDER the first ('Doc > A > C'), quirk included
    texts1 = [r["chunk_text"] for r in sorted(by_id[1],
                                              key=lambda r: r["chunk_index"])]
    assert texts1[0].startswith("Doc\nintro words")
    assert texts1[1].startswith("Doc > A\n")
    assert texts1[2].startswith("Doc > A > B\n")
    assert texts1[3].startswith("Doc > A > C\n")
    # community: post chunk + one comment chunk (the 1-token one skipped)
    texts2 = [r["chunk_text"] for r in by_id[2]]
    assert len(texts2) == 2
    assert any(t.startswith("Community comment on 'Post':") for t in texts2)
    # discussion: body + accepted answer
    texts3 = [r["chunk_text"] for r in by_id[3]]
    assert texts3[0].startswith("Q (discussion, category: ideas)\n")
    assert texts3[1].startswith("Accepted answer for 'Q':")
    # single over the max -> recursive split, every chunk within budget
    assert len(by_id[4]) > 1
    assert all(r["token_count"] <= C.CHUNK_TOKENS for r in by_id[4])
    # unknown type routes to generic
    assert by_id[5][0]["strategy"] == "generic"


def _reference_greedy(ids_in_order, pairs) -> set:
    """Pure-Python port of reference deduplicator.py:119-146: iterate in
    order, drop a record iff an already-KEPT record is its LSH partner."""
    adj: dict = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    kept: set = set()
    for rid in ids_in_order:
        if not (adj.get(rid, set()) & kept):
            kept.add(rid)
    return kept


def test_greedy_chain_dedup_bridge_chain(spark):
    """Path a-b-c: b drops (a kept), c SURVIVES because its only partner b
    was dropped — the case the single-pass approximation gets wrong."""
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    ids = spark.createDataFrame([(i,) for i in (1, 2, 3)], "doc_id long")
    kept = {r["doc_id"] for r in
            D.greedy_chain_dedup(ids, pairs, "doc_id", "doc_id").collect()}
    assert kept == {1, 3}


def test_greedy_chain_dedup_matches_reference_on_random_graphs(spark):
    import random
    rng = random.Random(1234)
    for trial in range(4):
        n = 60
        ids = list(range(n))
        # clustered random graph: dense pockets produce chains + triangles
        pairs = set()
        for _ in range(50):
            a, b = rng.sample(range(n), 2)
            a, b = (a, b) if a < b else (b, a)
            pairs.add((a, b))
        pairs = sorted(pairs)
        want = _reference_greedy(ids, pairs)
        ids_df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
        pairs_df = spark.createDataFrame(pairs, "id_a long, id_b long")
        got = {r["doc_id"] for r in
               D.greedy_chain_dedup(ids_df, pairs_df,
                                    "doc_id", "doc_id").collect()}
        assert got == want, f"trial {trial}"


def test_ivf_topk_recovers_planted_and_overlaps_exact(spark, sf_dir):
    import __spark_entry__ as E
    emb = _emb(spark, sf_dir)
    planted = spark.createDataFrame(
        [(900001, [float(x) for x in E.QUERY_VEC_A], 0)],
        "vec_id long, embedding array<float>, label int")
    both = emb.unionByName(planted)
    approx = [r["vec_id"] for r in
              V.ivf_topk(both, E.QUERY_VEC_A, 10).collect()]
    # the planted exact-match vector maps to the query's own nearest
    # cluster, so the probe must surface it at rank 1
    assert approx[0] == 900001
    # and on the raw fixture, probing 2/8 lists keeps reasonable overlap
    # with the exact answer (sanity, not a recall guarantee)
    exact = [r["vec_id"] for r in
             V.brute_force_topk(emb, E.QUERY_VEC_A, 10).collect()]
    got = [r["vec_id"] for r in V.ivf_topk(emb, E.QUERY_VEC_A, 10).collect()]
    assert len(set(got) & set(exact)) >= 3


def test_sanitize_for_scalar_store_flattens_per_reference_rules(spark):
    """SURVEY V10 (reference vectorstore/store.py:367-381): arrays -> CSV,
    date/timestamp -> strings, null -> '', scalars pass through typed."""
    import datetime as dt

    from ai_intel_web_scraper_spark.operators.export import (
        sanitize_for_scalar_store)
    df = spark.createDataFrame(
        [(1, ["a", "b"], dt.date(2024, 3, 5),
          dt.datetime(2024, 3, 5, 10, 30, 0), "s", 2.5, True),
         (2, [], None, None, None, None, None),
         (3, None, dt.date(2024, 1, 1), None, "t", 0.0, False)],
        "id long, tags array<string>, d date, ts timestamp, "
        "s string, x double, b boolean")
    out = sanitize_for_scalar_store(df)
    rows = {r["id"]: r for r in out.collect()}
    types = dict(out.dtypes)
    assert types["tags"] == "string" and types["d"] == "string"
    assert types["ts"] == "string" and types["x"] == "double"
    assert types["b"] == "boolean"  # scalars keep their type
    assert rows[1]["tags"] == "a,b"
    assert rows[1]["d"] == "2024-03-05"
    assert rows[1]["ts"] == "2024-03-05 10:30:00"
    assert rows[2]["tags"] == ""      # empty array -> "" (",".join([]))
    assert rows[3]["tags"] == ""      # null array  -> ""
    assert rows[2]["d"] == "" and rows[2]["s"] == ""
    assert rows[2]["x"] is None       # numeric nulls stay typed nulls


# ----------------------------------------------------------- R5 analysis

def _reference_fence_strip(raw: str) -> str:
    """Literal port of query_engine.py:867-872 — the ground truth the
    Spark expression must reproduce character-for-character."""
    cleaned = raw.strip()
    if cleaned.startswith("```"):
        cleaned = cleaned.split("\n", 1)[1] if "\n" in cleaned else cleaned[3:]
    if cleaned.endswith("```"):
        cleaned = cleaned.rsplit("```", 1)[0]
    return cleaned.strip()


def test_strip_md_fences_matches_reference(spark):
    from ai_intel_web_scraper_spark.operators import queryanalysis as QA
    body = '{"intent":"factual","sub_queries":["a"]}'
    cases = [
        body,                                  # no fences
        f"```json\n{body}\n```",               # fenced w/ language tag
        f"```\n{body}\n```",                   # fenced, bare
        f"```{body}```",                       # single line, no newline
        f"  \n{body}\n  ",                     # whitespace padding
        "```",                                 # fence only, no payload
        "``` ```",                             # fence pair, blank payload
        f"```json\n{body}",                    # opening fence only
        f"{body}\n```",                        # closing fence only
        "",                                    # empty
    ]
    df = spark.createDataFrame([(c,) for c in cases], "raw string")
    out = df.select("raw", QA.strip_md_fences_col(F.col("raw")).alias("c"))
    for r in out.collect():
        assert r["c"] == _reference_fence_strip(r["raw"]), repr(r["raw"])


def test_parse_analysis_failure_matches_json_loads(spark):
    import json

    from ai_intel_web_scraper_spark.operators import queryanalysis as QA
    cases = [
        '{"intent":"x","reasoning":"r"}',          # clean object
        '```json\n{"intent":"y"}\n```',            # fenced object
        '{"intent":"x"',                           # truncated
        "not json at all",                         # prose
        "[1, 2]",                                  # valid JSON, not object
        "123",                                     # valid JSON scalar
    ]
    df = spark.createDataFrame([(c,) for c in cases], "raw string")
    out = df.select(
        "raw",
        QA.analysis_failed_col(
            QA.parse_analysis_col(F.col("raw"))).alias("failed"))
    for r in out.collect():
        try:
            ref_ok = isinstance(
                json.loads(_reference_fence_strip(r["raw"])), dict)
        except (json.JSONDecodeError, ValueError):
            ref_ok = False
        assert r["failed"] == (not ref_ok), repr(r["raw"])


def test_rule_analysis_intents_and_mentions(spark):
    from ai_intel_web_scraper_spark.operators import queryanalysis as QA
    cases = [
        # (query, intent, competitors_csv)
        ("how does questdb compare to clickhouse", "comparison",
         "questdb,clickhouse"),
        ("kx versus questdb ingestion", "comparison", "kx,questdb"),
        # two mentions force comparison even with no comparison word
        ("questdb clickhouse licensing", "comparison",
         "questdb,clickhouse"),
        ("customer worried about clickhouse pricing", "objection_handling",
         "clickhouse"),
        ("what is the latency of kx", "factual", "kx"),
        ("tell me about storage internals", "exploratory", ""),
        # word boundaries: 'kxes'/'foockhouse' must not match
        ("kxes and foockhouse musings", "exploratory", ""),
    ]
    df = spark.createDataFrame([(q,) for q, _, _ in cases], "q string")
    out = df.select("q", *QA.rule_analysis_cols(F.col("q")))
    got = {r["q"]: r for r in out.collect()}
    for q, intent, comps in cases:
        assert got[q]["rule_intent"] == intent, q
        assert got[q]["rule_competitors"] == comps, q


def test_rule_analysis_hints_first_match_wins(spark):
    from ai_intel_web_scraper_spark.operators import queryanalysis as QA
    cases = [
        ("show me the benchmark numbers", "benchmark"),
        ("where are the docs for the api", "official_docs"),
        ("latest release announcement", "blog"),
        # benchmark rule outranks docs rule when both match
        ("benchmark section of the docs", "benchmark"),
        ("nothing matches here", "<null>"),
    ]
    df = spark.createDataFrame([(q,) for q, _ in cases], "q string")
    got = {r["q"]: r["rule_hint"]
           for r in df.select("q", *QA.rule_analysis_cols(F.col("q")))
           .collect()}
    for q, hint in cases:
        assert got[q] == hint, q


# ------------------------------------------------------------- corpus hygiene

def test_repetition_signals_known_values(spark):
    from ai_intel_web_scraper_spark.operators import corpus as CP
    rows = [
        (1, "a a a a"),                   # <5 words: no 5-grams
        (2, "x y x y x y z"),             # loopy 2-grams, distinct 5-grams
        (3, "p q r s t p q r s t"),       # one duplicated 5-gram
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict()
           for r in CP.repetition_signals(df, "doc_id", "text").collect()}
    assert got[1]["n_words"] == 4 and got[1]["n_distinct_words"] == 1
    assert got[1]["top2_gram"] == "a a" and got[1]["top2_cnt"] == 3
    assert got[1]["top2_total"] == 3
    assert got[1]["dup5_hits"] == 0 and got[1]["dup5_total"] == 0
    assert abs(got[1]["dup_word_frac"] - 0.75) < 1e-9

    assert got[2]["top2_gram"] == "x y" and got[2]["top2_cnt"] == 3
    assert got[2]["dup5_hits"] == 0 and got[2]["dup5_total"] == 3

    # 2-gram tie at cnt=2 -> lexicographically smallest wins
    assert got[3]["top2_gram"] == "p q" and got[3]["top2_cnt"] == 2
    # "p q r s t" occurs twice among the 6 5-gram occurrences
    assert got[3]["dup5_hits"] == 2 and got[3]["dup5_total"] == 6


def test_contamination_hits_planted_overlap(spark):
    from ai_intel_web_scraper_spark.operators import corpus as CP
    bench = spark.createDataFrame(
        [("alpha beta gamma delta epsilon",)], "text string")
    docs = spark.createDataFrame([
        # two distinct benchmark 4-grams present
        (10, "zz alpha beta gamma delta epsilon yy"),
        # the same benchmark 4-gram twice -> counts ONCE (distinct grams)
        (11, "beta gamma delta epsilon mm beta gamma delta epsilon"),
        (12, "no overlap with anything here at all"),
    ], "doc_id long, text string")
    got = {r["doc_id"]: r["n_hit_grams"]
           for r in CP.contamination_hits(docs, bench, "doc_id", "text",
                                          n=4).collect()}
    assert got == {10: 2, 11: 1}


def test_pii_counts_and_redaction(spark):
    from ai_intel_web_scraper_spark.operators import corpus as CP
    txt = ("mail bob.smith+x@corp.example.org or call 415-555-0123, "
           "server at 10.20.30.40 stays")
    df = spark.createDataFrame([(txt,), ("clean text only",)], "text string")
    rows = (df.select("text", *CP.pii_counts(F.col("text")),
                      CP.pii_redact(F.col("text")).alias("red"))
            .orderBy(F.desc("n_emails")).collect())
    hit, clean = rows
    assert (hit["n_emails"], hit["n_phones"], hit["n_ips"]) == (1, 1, 1)
    assert hit["red"] == ("mail [EMAIL] or call [PHONE], "
                          "server at [IP] stays")
    assert (clean["n_emails"], clean["n_phones"], clean["n_ips"]) == (0, 0, 0)
    assert clean["red"] == "clean text only"


def test_repetition_signals_narrow_matches_exploded(spark, sf_dir):
    """The shuffle-free Arrow-UDF path and the explode+groupBy path are
    bit-identical on real corpus data (and on whitespace edge cases)."""
    from ai_intel_web_scraper_spark.operators import corpus as CP
    docs = _docs(spark, sf_dir).limit(200)
    edge = spark.createDataFrame(
        [(9001, " leading space"), (9002, "trailing "), (9003, "one"),
         (9004, "a  b   a  b"), (9005, None), (9006, "")],
        "doc_id long, text string")
    # seeded random word-soups over a tiny vocab (forces heavy gram
    # collisions) with mixed whitespace, tabs and repeats
    import numpy as np
    rng = np.random.RandomState(7)
    vocab = ["a", "b", "cc", "ddd", "a", "b c"]  # "b c" makes multi-space runs
    soups = [(10000 + i,
              rng.choice(["", " ", "\t"]).item()
              + rng.choice([" ", "  ", "\t "], size=1).item().join(
                  rng.choice(vocab, size=rng.randint(0, 30)))
              ) for i in range(30)]
    rand = spark.createDataFrame(soups, "doc_id long, text string")
    both = docs.select("doc_id", "text").unionByName(edge).unionByName(rand)
    a = CP.repetition_signals(both, "doc_id", "text")
    b = CP.repetition_signals_exploded(both, "doc_id", "text")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_lm_score_known_values(spark):
    """Closed-form check of the reference-LM scorer on a 2-char model."""
    import math

    from ai_intel_web_scraper_spark.operators import corpus as CP
    probs, q_oov = CP.char_bigram_logprobs(["abab"])
    # counts: ab=2, ba=1; vocab {a,b}; denom = 3 + 4
    assert probs == {"ab": math.floor(math.log(3 / 7) * CP.LM_QUANT),
                     "ba": math.floor(math.log(2 / 7) * CP.LM_QUANT)}
    assert q_oov == math.floor(math.log(1 / 7) * CP.LM_QUANT)
    df = spark.createDataFrame(
        [(1, "aba"), (2, "ax"), (3, "z"), (4, "")],
        "doc_id long, text string")
    got = {r["doc_id"]: (r["n_bigrams"], r["oov_bigrams"],
                         r["score_micronats"])
           for r in CP.lm_score(df, "doc_id", "text", probs, q_oov)
           .collect()}
    assert got[1] == (2, 0, probs["ab"] + probs["ba"])
    assert got[2] == (1, 1, q_oov)     # 'ax' unseen in the reference
    assert got[3] == (0, 0, 0)         # too short for a bigram
    assert got[4] == (0, 0, 0)


def test_hygiene_pipeline_stage_accounting(spark, sf_dir):
    """The composed hygiene lifecycle: stages in order, counts monotone
    non-increasing through the filters, PII flags bounded by survivors."""
    import __spark_entry__ as E
    rows = {r["stage"]: r["n"]
            for r in E.queries()["hygiene_pipeline"](spark, sf_dir)
            .collect()}
    order = ["1_raw", "2_exact_deduped", "3_decontaminated",
             "4_repetition_kept", "5_lm_kept"]
    assert set(rows) == set(order) | {"6_pii_flagged"}
    for a, b in zip(order, order[1:]):
        assert rows[b] <= rows[a], (a, b, rows)
    assert 0 <= rows["6_pii_flagged"] <= rows["5_lm_kept"]
    assert rows["1_raw"] > 0


def test_duplicate_spans_planted_runs(spark):
    from ai_intel_web_scraper_spark.operators import corpus as CP
    # 40-word vocab word soup, unique per doc except: docs 0 and 1 share
    # a verbatim 25-word run (cross-doc dup); doc 2 repeats its own
    # 15-word run twice (within-doc dup); doc 3 is clean.
    shared = " ".join(f"s{i}" for i in range(25))
    loop = " ".join(f"l{i}" for i in range(15))
    docs = spark.createDataFrame([
        (0, f"a0 a1 a2 {shared} a3 a4 a5"),
        (1, f"b0 b1 {shared} b2 b3 b4 b5 b6"),
        (2, f"c0 {loop} c1 c2 {loop} c3"),
        (3, " ".join(f"d{i}" for i in range(40))),
    ], "doc_id long, text string")
    spans = {}
    for r in CP.duplicate_spans(docs, "doc_id", "text", n=10).collect():
        spans.setdefault(r["doc_id"], []).append(
            (r["span_start"], r["span_end"]))
    assert 3 not in spans
    # cross-doc: the shared 25-word run — positional grams seed at its
    # start; the merged span covers exactly the run (start offset 3 / 2,
    # last gram start = start+15, end = start+15+10)
    assert spans[0] == [(3, 28)]
    assert spans[1] == [(2, 27)]
    # within-doc: two copies of the 15-word run, both recovered
    assert spans[2] == [(1, 16), (18, 33)]


def test_duplicate_spans_merges_overlapping_and_adjacent(spark):
    from ai_intel_web_scraper_spark.operators import corpus as CP
    # one doc contains the SAME 10-gram three times back-to-back plus a
    # separated fourth copy: consecutive starts (gap <= n) merge into one
    # maximal span; the distant copy stays its own span.
    unit = " ".join(f"u{i}" for i in range(10))
    filler = " ".join(f"f{i}" for i in range(30))
    docs = spark.createDataFrame(
        [(0, f"{unit} {unit} {unit} {filler} {unit}")],
        "doc_id long, text string")
    got = sorted((r["span_start"], r["span_end"]) for r in
                 CP.duplicate_spans(docs, "doc_id", "text", n=10).collect())
    assert got == [(0, 30), (60, 70)]


def test_strip_duplicate_spans_removes_all_copies(spark):
    from ai_intel_web_scraper_spark.operators import corpus as CP
    shared = " ".join(f"s{i}" for i in range(12))
    docs = spark.createDataFrame([
        (0, f"a0 a1 {shared} a2"),
        (1, f"b0 {shared} b1 b2"),
        (2, "plain unique words only here"),
    ], "doc_id long, text string")
    got = {r["doc_id"]: r for r in CP.strip_duplicate_spans(
        docs, "doc_id", "text", n=10).collect()}
    assert got[0]["text_clean"] == "a0 a1 a2"
    assert got[0]["n_removed_words"] == 12
    assert got[1]["text_clean"] == "b0 b1 b2"
    assert got[1]["n_removed_words"] == 12
    # untouched docs pass through verbatim with 0 removed
    assert got[2]["text_clean"] == "plain unique words only here"
    assert got[2]["n_removed_words"] == 0
    # idempotence: stripping the stripped corpus is a no-op
    stripped = spark.createDataFrame(
        [(k, v["text_clean"]) for k, v in got.items()],
        "doc_id long, text string")
    again = {r["doc_id"]: r for r in CP.strip_duplicate_spans(
        stripped, "doc_id", "text", n=10).collect()}
    assert all(r["n_removed_words"] == 0 for r in again.values())


def test_semdedup_drops_planted_copies_keeps_one(spark, sf_dir):
    """SemDeDup: plant near-identical copies (cos >= 0.995) and check the
    cluster-local predecessor rule keeps exactly one of each planted pair
    whenever both land in the same cluster (small noise can flip a
    borderline coarse assignment, in which case SemDeDup by design keeps
    both — count those separately)."""
    emb = _emb(spark, sf_dir).select("vec_id", "embedding").limit(100)
    both = emb.unionByName(V.perturbed_copies(emb, noise=0.1))
    out = {r["vec_id"]: r for r in V.semdedup(both, threshold=0.9).collect()}
    n = emb.count()
    assert len(out) == 2 * n
    same_cluster = cross_cluster = 0
    for r in emb.select("vec_id").collect():
        a, b = out[r["vec_id"]], out[r["vec_id"] + 1_000_000]
        if a["cluster"] == b["cluster"]:
            same_cluster += 1
            assert a["kept"] != b["kept"] or not (a["kept"] or b["kept"])
        else:
            cross_cluster += 1
    # the planted noise is small: nearly all copies co-cluster
    assert same_cluster >= 0.9 * n
    # dedup is effective: at most one survivor per co-clustered pair
    kept = sum(1 for r in out.values() if r["kept"])
    assert kept <= 2 * n - same_cluster


def test_semdedup_no_false_drops_on_dissimilar_data(spark, sf_dir):
    """On the raw fixture (max pairwise cosine ~0.51) a 0.9 threshold
    drops nothing: every point is kept and cluster ids cover the codebook."""
    emb = _emb(spark, sf_dir).select("vec_id", "embedding").limit(200)
    out = V.semdedup(emb, threshold=0.9).collect()
    assert all(r["kept"] for r in out)
    assert {r["cluster"] for r in out} <= set(range(V.SEMDEDUP_CENTROIDS))


def test_group_quantiles_match_python_percentile_disc(spark, sf_dir):
    """Exact per-group discrete quantiles equal a direct Python recompute
    of the ceil(q*n/100)-rank element on the sorted values."""
    import math
    from ai_intel_web_scraper_spark.operators import stats as S
    docs = _docs(spark, sf_dir)
    got = {(r["source"], r["q"]): r["value"]
           for r in S.group_quantiles(docs, ["source"], "n_chars").collect()}
    rows = docs.select("source", "n_chars").collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r["n_chars"])
    for src, vals in by_src.items():
        vals.sort()
        for q in S.QUANTILES_PCT:
            expect = vals[math.ceil(q * len(vals) / 100) - 1]
            assert got[(src, q)] == expect
    assert len(got) == 3 * len(by_src)


def test_image_text_qa_matches_python_replay(spark):
    from ai_intel_web_scraper_spark.operators.multimodal import (
        CAPTION_SPREAD_MAX, image_text_qa)
    # planted corpus: phash 100 duplicated across 3 pages (2 captions),
    # caption "generic" spread over 4 distinct images (> max), caption
    # "rare" on 1 image
    rows = [("i0", 100, "rare"), ("i1", 100, "dup cap"),
            ("i2", 100, "dup cap"), ("i3", 200, "generic"),
            ("i4", 300, "generic"), ("i5", 400, "generic"),
            ("i6", 500, "generic")]
    df = spark.createDataFrame(
        rows, "image_id string, phash long, caption string")
    got = {r["image_id"]: (r["phash_dups"], r["caption_spread"], r["keep"])
           for r in image_text_qa(df).collect()}
    ph_n = {}
    cap_ph = {}
    for _, ph, cap in rows:
        ph_n[ph] = ph_n.get(ph, 0) + 1
        cap_ph.setdefault(cap, set()).add(ph)
    first = {}
    want = {}
    for iid, ph, cap in sorted(rows):
        is_first = first.setdefault((ph, cap), iid) == iid
        want[iid] = (ph_n[ph], len(cap_ph[cap]),
                     is_first and len(cap_ph[cap]) <= CAPTION_SPREAD_MAX)
    assert got == want
    # the generic caption's pages all drop; the dup image keeps one per
    # caption; the rare-caption page survives
    assert not any(got[i][2] for i in ("i3", "i4", "i5", "i6"))
    assert got["i0"][2] and got["i1"][2] and not got["i2"][2]


def test_image_text_qa_on_fixture_pages(spark, fixtures):
    from ai_intel_web_scraper_spark.operators.multimodal import image_text_qa
    pages = spark.read.parquet(fixtures["pages"])
    out = image_text_qa(pages).collect()
    assert len(out) == pages.count()
    kept = [r for r in out if r["keep"]]
    assert 0 < len(kept) < len(out)  # fixture has dups + caption reuse
    # keep-first is unique per (phash, caption) group
    ids = {r["image_id"] for r in out}
    assert len(ids) == len(out)


def test_webdataset_shards_roundtrip_and_determinism(spark, fixtures):
    import hashlib
    import io
    import tarfile

    from ai_intel_web_scraper_spark.operators.export import (
        WDS_SAMPLES_PER_SHARD, webdataset_shards)
    pages = spark.read.parquet(fixtures["pages"])
    out = webdataset_shards(pages).collect()
    src = {r["image_id"]: (bytes(r["bytes"]), r["fmt"], r["caption"])
           for r in pages.select("image_id", "bytes", "fmt",
                                 "caption").collect()}
    seen = set()
    for r in out:
        assert r["size_bytes"] == len(r["tar_bytes"])
        assert r["tar_md5"] == hashlib.md5(bytes(r["tar_bytes"])).hexdigest()
        with tarfile.open(fileobj=io.BytesIO(bytes(r["tar_bytes"]))) as tar:
            names = tar.getnames()
            # members arrive in image_id order, (payload, txt) interleaved
            assert names == sorted(names, key=lambda n: (n[:12],
                                                         n.endswith(".txt")))
            for m in tar.getmembers():
                iid = m.name.split(".")[0]
                data = tar.extractfile(m).read()
                payload, fmt, cap = src[iid]
                if m.name.endswith(".txt"):
                    assert data == cap.encode("utf-8")
                    seen.add(iid)
                else:
                    assert m.name == f"{iid}.{fmt}" and data == payload
                assert int(iid[4:12]) // WDS_SAMPLES_PER_SHARD == \
                    r["shard_id"]
    assert seen == set(src)  # every pair shipped exactly once
    # deterministic bytes under repartitioning
    again = {r["shard_id"]: r["tar_md5"]
             for r in webdataset_shards(pages.repartition(7),
                                        with_bytes=False).collect()}
    assert again == {r["shard_id"]: r["tar_md5"] for r in out}


def test_webdataset_byte_budget_pack(spark, fixtures):
    """Byte-budget shards: every sample lands in the shard its running
    START offset selects (python replay of the exact footprint model);
    shard tars never exceed budget + one sample + the tar trailer; all
    samples ship exactly once; bytes deterministic under repartition."""
    import io
    import tarfile

    from ai_intel_web_scraper_spark.operators.export import (
        webdataset_shards_by_bytes)
    budget = 65536
    pages = spark.read.parquet(fixtures["pages"])
    out = webdataset_shards_by_bytes(pages, budget).collect()
    rows = sorted((r["image_id"], bytes(r["bytes"]), r["caption"])
                  for r in pages.select("image_id", "bytes",
                                        "caption").collect())

    def fp(n):
        return 512 + ((n + 511) // 512) * 512

    want_shard, start, weights = {}, 0, {}
    for iid, data, cap in rows:
        w = fp(len(data)) + fp(len(cap.encode("utf-8")))
        want_shard[iid] = start // budget
        weights[iid] = w
        start += w
    got_samples = set()
    for r in out:
        with tarfile.open(fileobj=io.BytesIO(bytes(r["tar_bytes"]))) as tar:
            members = [m for m in tar.getmembers()
                       if not m.name.endswith(".txt")]
        ids = [m.name.split(".")[0] for m in members]
        assert all(want_shard[i] == r["shard_id"] for i in ids)
        got_samples.update(ids)
        # start-offset rule's overflow bound (trailer = archive padding)
        body = sum(weights[i] for i in ids)
        assert r["size_bytes"] <= budget + max(weights.values()) + 10240
        assert r["size_bytes"] >= body  # padding only ever adds
    assert got_samples == set(want_shard)
    again = {r["shard_id"]: r["tar_md5"]
             for r in webdataset_shards_by_bytes(
                 pages.repartition(7), budget, with_bytes=False).collect()}
    assert again == {r["shard_id"]: r["tar_md5"] for r in out}


def test_audio_fingerprint_semantics(spark):
    """Energy-difference fingerprint invariants: (a) bits replay the
    analytic amplitude comparisons exactly through the WAV chain even
    with a corrupt clip in the same Arrow batch; (b) perturbing one
    window flips at most its two adjacent bits; (c) a clip shorter than
    n_windows degrades to decode_ok=false, not a crash."""
    import io
    import wave as wave_mod

    import numpy as np
    from ai_intel_web_scraper_spark.operators.multimodal import (
        AUDIO_FP_WINDOWS, audio_fingerprints, audio_hamming_neardup)

    def clip(amps, L=8):
        samples = []
        for a in amps:
            samples.extend([a, -a] * (L // 2))
        buf = io.BytesIO()
        with wave_mod.open(buf, "wb") as wf:
            wf.setnchannels(1)
            wf.setsampwidth(2)
            wf.setframerate(8000)
            wf.writeframes(np.array(samples, dtype=np.int16).tobytes())
        return bytearray(buf.getvalue())

    base = [20 + ((w * 37) % 23) for w in range(AUDIO_FP_WINDOWS)]
    edited = list(base)
    edited[30] += 40                       # flips at most bits 29 and 30
    rows = [("a", clip(base)), ("b", clip(edited)),
            ("short", clip(base[:3])), ("bad", bytearray(b"nope"))]
    df = spark.createDataFrame(
        rows, "audio_id string, bytes binary").coalesce(1)
    got = {r["audio_id"]: (r["fingerprint"], r["decode_ok"])
           for r in audio_fingerprints(df).collect()}
    want = 0
    for w in range(AUDIO_FP_WINDOWS - 1):
        if base[w + 1] > base[w]:
            want |= 1 << w
    if want >= 1 << 63:
        want -= 1 << 64
    assert got["a"] == (want, True)
    assert got["short"] == (None, False) and got["bad"] == (None, False)
    d = bin((got["a"][0] ^ got["b"][0]) & ((1 << 64) - 1)).count("1")
    assert 1 <= d <= 2
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in audio_hamming_neardup(df, max_hamming=6).collect()}
    assert pairs == {("a", "b"): d}  # corrupt/short never reach the join


def test_crossmodal_topk_matches_alignment_udf(spark, fixtures):
    """The constant-bitmask scoring path must agree bit-for-bit with the
    Arrow alignment UDF when the query text stands in as every image's
    caption; ranks are dense 1..k per query with the (score desc,
    image_id) tiebreak."""
    from ai_intel_web_scraper_spark.operators.multimodal import (
        crossmodal_text_topk, pair_alignment)
    pages = spark.read.parquet(fixtures["pages"])
    text = "warm glacier on host1.example"
    n = pages.count()
    got = {r["image_id"]: r["score"] for r in
           crossmodal_text_topk(pages, [("q", text)], k=n).collect()}
    want = {r["image_id"]: r["align_score"] for r in
            pair_alignment(pages.withColumn(
                "caption", F.lit(text))).collect()}
    assert got == want
    top = crossmodal_text_topk(pages, [("q", text)], k=5).collect()
    assert [r["rank"] for r in sorted(top, key=lambda r: r["rank"])] == \
        [1, 2, 3, 4, 5]
    ordered = sorted(top, key=lambda r: (-r["score"], r["image_id"]))
    assert [r["rank"] for r in ordered] == [1, 2, 3, 4, 5]


def test_pair_alignment_properties(spark):
    """Independent invariants of the CLIP-stand-in alignment score (the
    DuckDB oracle is the full value check; these pin the algebra):
    empty caption -> closed form 2*popcount(low60(phash)) - 60; flipping
    all 60 phash bits negates the score; token order/extra whitespace
    don't change it; range is [-60, 60]."""
    from ai_intel_web_scraper_spark.operators import multimodal as MM
    mask = (1 << MM.ALIGN_DIM) - 1
    ph = 0x0123456789ABCDEF
    rows = [("empty", "", ph),
            ("a", "wet stone harbor", ph),
            ("a_flip", "wet stone harbor", ph ^ mask),
            ("a_shuffled", "harbor   wet stone", ph)]
    df = spark.createDataFrame(rows, "image_id string, caption string, "
                                     "phash long")
    got = {r["image_id"]: r["align_score"]
           for r in MM.pair_alignment(df).collect()}
    assert got["empty"] == 2 * bin(ph & mask).count("1") - MM.ALIGN_DIM
    assert got["a_flip"] == -got["a"]
    assert got["a_shuffled"] == got["a"]
    assert all(-MM.ALIGN_DIM <= v <= MM.ALIGN_DIM for v in got.values())


def test_pair_filters_stage_accounting(spark):
    """Each gate can be the first-failing stage, in the fixed order
    dims -> aspect -> caption -> alignment; keep only when all pass."""
    from ai_intel_web_scraper_spark.operators import multimodal as MM
    cap = "a bright harbor on shore"
    rows = [("small", 10, 96, cap, 0),          # fails dims (and aspect)
            ("stretched", 120, 48, cap, 0),     # fails aspect only (250%)
            ("nocap", 64, 64, "", 0),           # fails caption window
            ("longcap", 64, 64, " ".join(["w"] * 100), 0),
            ("ok_or_align", 64, 64, cap, 0)]    # depends on score sign
    df = spark.createDataFrame(
        [(i, w, h, c, p) for i, w, h, c, p in rows],
        "image_id string, w int, h int, caption string, phash long")
    got = {r["image_id"]: (r["dropped_at"], r["keep"])
           for r in MM.pair_filters(df).collect()}
    assert got["small"] == ("dims", False)
    assert got["stretched"] == ("aspect", False)
    assert got["nocap"] == ("caption", False)
    assert got["longcap"] == ("caption", False)
    assert got["ok_or_align"][0] in ("kept", "alignment")
    assert got["ok_or_align"][1] == (got["ok_or_align"][0] == "kept")


def test_incremental_dedup_covers_full_rebuild_boundary_pairs(spark, fixtures):
    """Probing the delta against the index must find exactly the
    full-rebuild pairs that touch the delta (and none that don't):
    incremental = minhash_verified_pairs(all) restricted to pairs with
    >= 1 new-side member."""
    from ai_intel_web_scraper_spark.operators import dedup as D
    import os
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    docs = spark.read.parquet(os.path.join(sf, "documents.parquet"))
    new = docs.where(F.col("doc_id") % 5 == 0)
    idx = docs.where(F.col("doc_id") % 5 != 0)
    inc = {(r["id_a"], r["id_b"], r["jaccard"], r["vs_index"]) for r in
           D.incremental_minhash_verified(new, idx, "doc_id", "text",
                                          threshold=0.5).collect()}
    full = {(r["id_a"], r["id_b"], r["jaccard"]) for r in
            D.minhash_verified_pairs(docs, "doc_id", "text",
                                     threshold=0.5).collect()}
    want = {(a, b, j, (a % 5 == 0) != (b % 5 == 0))
            for a, b, j in full if a % 5 == 0 or b % 5 == 0}
    assert inc == want and len(inc) > 0
    # index-vs-index pairs exist in the full rebuild but must be absent
    assert any(a % 5 != 0 and b % 5 != 0 for a, b, _ in full)


def test_webdataset_roundtrip_reader(spark, fixtures):
    """read_webdataset(webdataset_shards(pages)) reproduces every
    (image_id, fmt, caption, bytes) sample exactly; corrupt shard bytes
    degrade to zero rows, never a task failure."""
    from ai_intel_web_scraper_spark.operators.export import (
        read_webdataset, webdataset_shards)
    pages = spark.read.parquet(fixtures["pages"])
    shards = webdataset_shards(pages)
    got = {(r["image_id"], r["fmt"], r["caption"], bytes(r["bytes"]))
           for r in read_webdataset(shards).collect()}
    want = {(r["image_id"], r["fmt"], r["caption"], bytes(r["bytes"]))
            for r in pages.select("image_id", "fmt", "caption",
                                  "bytes").collect()}
    assert got == want and len(got) > 100
    corrupt = spark.createDataFrame(
        [(99, b"not a tar at all")], "shard_id int, tar_bytes binary")
    assert read_webdataset(corrupt).count() == 0


def test_webdataset_reader_skips_non_regular_members(spark):
    """ADVICE r5: tar.extractfile() returns None for non-regular members
    (a corrupt typeflag can turn a file into a directory); the reader
    must skip them — degrade, never AttributeError the task."""
    import io
    import tarfile
    from ai_intel_web_scraper_spark.operators.export import read_webdataset
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as tar:
        d = tarfile.TarInfo("0001.dir")        # directory member
        d.type = tarfile.DIRTYPE
        tar.addfile(d)
        ti = tarfile.TarInfo("0002.png")
        ti.size = 3
        tar.addfile(ti, io.BytesIO(b"abc"))
        tx = tarfile.TarInfo("0002.txt")
        tx.size = 3
        tar.addfile(tx, io.BytesIO(b"cap"))
        ln = tarfile.TarInfo("0003.png")       # symlink member
        ln.type = tarfile.SYMTYPE
        ln.linkname = "0002.png"
        tar.addfile(ln)
    shards = spark.createDataFrame([(1, buf.getvalue())],
                                   "shard_id int, tar_bytes binary")
    rows = read_webdataset(shards).collect()
    assert [(r["image_id"], r["fmt"], r["caption"], bytes(r["bytes"]))
            for r in rows] == [("0002", "png", "cap", b"abc")]


def test_aqe_splits_planted_skew_join(spark):
    """The brief's skew lever, evidenced: a join where one key holds ~90%
    of the rows gets its oversized partition split by AQE's skew-join
    rule (skew=true in the final adaptive plan) instead of serializing
    on one task. Thresholds are lowered so the toy fixture trips the
    same machinery a hot-host frontier would at scale."""
    conf = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "16KB",
    }
    prev = {k: spark.conf.get(k) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        big = spark.range(0, 200_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(0)).otherwise(F.col("id"))
            .alias("k"),
            F.col("id").alias("v"))
        right = spark.range(0, 1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w"))
        j = big.join(right, "k")
        # collect() executes THIS DataFrame's QueryExecution, so the
        # adaptive plan we inspect afterwards is the final one (count()
        # would execute a different plan instance)
        rows = j.collect()
        assert len(rows) == 180_000 + 100   # k=0 matches + identity keys
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
