"""Unit tests: codec, URL canonicalization, bloom filter FPR."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from ai_intel_web_scraper_spark.crawl.bloom import (
    BloomShards, partial_bitmaps, partitioned_probe_fn,
    partitioned_probe_upsert_fn)
from ai_intel_web_scraper_spark.functions.codec import (
    average_phash, decode_image, encode_image, png_decode, png_encode, psnr)
from ai_intel_web_scraper_spark.functions.urls import (
    canonicalize_series, canonicalize_url, hash64_series, url_hash64)


def test_png_roundtrip_bit_exact():
    rng = np.random.default_rng(7)
    for shape in [(32, 32, 3), (96, 64, 3), (33, 17, 3)]:
        px = rng.integers(0, 256, shape, dtype=np.uint8)
        assert (png_decode(png_encode(px)) == px).all()


def test_lossy_psnr_gate():
    rng = np.random.default_rng(8)
    px = rng.integers(0, 256, (64, 64, 3), dtype=np.uint8)
    dec = decode_image(encode_image(px, "jpeg"))
    p = psnr(px, dec)
    assert 40.0 <= p < 60.0  # genuinely lossy, above the gate
    assert not (dec == px).all()


def test_phash_stability_and_sensitivity():
    rng = np.random.default_rng(9)
    px = rng.integers(0, 256, (64, 64, 3), dtype=np.uint8)
    assert average_phash(px) == average_phash(px.copy())
    other = rng.integers(0, 256, (64, 64, 3), dtype=np.uint8)
    assert average_phash(px) != average_phash(other)


@pytest.mark.parametrize("raw,base,expected", [
    ("HTTPS://A.B/p/1/?x=1#f", None, "https://a.b/p/1"),
    ("/p/2", "https://a.b/p/1", "https://a.b/p/2"),
    ("p/2", "https://a.b/d/x", "https://a.b/d/p/2"),
    ("https://a.b", None, "https://a.b"),
    ("https://a.b/", None, "https://a.b"),
    ("mailto:x@y.z", None, None),
    ("", None, None),
])
def test_canonicalize(raw, base, expected):
    assert canonicalize_url(raw, base) == expected


def test_vectorized_matches_scalar():
    urls = pd.Series(["https://a.b/x/", "y", None, "ftp://n.o/p"])
    bases = pd.Series(["https://a.b", "https://a.b/z/w", "https://a.b", "https://a.b"])
    out = canonicalize_series(urls, bases)
    assert list(out) == ["https://a.b/x", "https://a.b/z/y", None, None]
    hashes = hash64_series(pd.Series(["https://a.b/x"]))
    assert hashes.iloc[0] == url_hash64("https://a.b/x")


def test_bloom_no_false_negatives_and_low_fpr():
    """Shards built by the rebuild kernel (`partial_bitmaps`), probed per
    bucket by the engine's fused probe and by the probe-only function:
    both give the same verdicts, no stored key reads 'definitely new',
    and few fresh keys read 'maybe'."""
    rng = np.random.default_rng(11)
    n, n_buckets = 20000, 16
    m_bits = BloomShards.sized_for(n, n_buckets).m_bits
    keys = rng.integers(-(2**62), 2**62, n).astype(np.int64)
    fresh = rng.integers(-(2**62), 2**62, n).astype(np.int64)

    def bucket(h):
        return (np.abs(h) % n_buckets).astype(np.int32)

    (shards,) = partial_bitmaps(m_bits, n_buckets)(iter([pd.DataFrame(
        {"bucket": bucket(keys), "url_hash": keys})]))
    cols = ["url_hash", "bucket"]
    maybe = {"stored": [], "fresh": []}
    for b in range(n_buckets):
        shard = shards[shards["bucket"] == b]
        for kind, h in (("stored", keys), ("fresh", fresh)):
            cand = pd.DataFrame({"url_hash": h[bucket(h) == b],
                                 "bucket": np.int32(b)})
            got = partitioned_probe_fn(cols)(cand, shard)["maybe"]
            fused = partitioned_probe_upsert_fn(cols, m_bits)(cand, shard)
            assert list(fused["maybe"].iloc[:len(cand)]) == list(got)
            maybe[kind].append(got.to_numpy(dtype=bool))
    # zero false negatives
    assert np.concatenate(maybe["stored"]).all()
    # low false-positive rate on fresh keys
    fpr = np.concatenate(maybe["fresh"]).mean()
    assert fpr < 0.03, fpr


def test_parse_robots_groups_and_fallback():
    from ai_intel_web_scraper_spark.functions.robots import parse_robots
    body = """
# comment
User-agent: googlebot
Disallow: /private/
Crawl-delay: 2

User-agent: spark-frontier
Disallow: /tmp/
Disallow: /draft/
Crawl-delay: 0.5

User-agent: *
Disallow: /admin/
"""
    dis, delay = parse_robots(body, agent="spark-frontier")
    assert dis == ["/tmp/", "/draft/"] and delay == 0.5
    dis, delay = parse_robots(body, agent="otherbot")
    assert dis == ["/admin/"] and delay is None
    assert parse_robots(None) == ([], None)
    assert parse_robots("User-agent: *\nDisallow:") == ([], None)


def test_parse_robots_multiple_agents_one_group():
    from ai_intel_web_scraper_spark.functions.robots import parse_robots
    body = ("User-agent: a\nUser-agent: b\nDisallow: /x/\n"
            "User-agent: *\nCrawl-delay: 1\n")
    assert parse_robots(body, agent="b") == (["/x/"], None)
    assert parse_robots(body, agent="zzz") == ([], 1.0)


def test_parse_robots_prefix_matching_not_substring():
    from ai_intel_web_scraper_spark.functions.robots import parse_robots
    body = ("User-agent: r\nDisallow: /secret\n"
            "User-agent: *\nDisallow: /public\n")
    # 'r' is a substring of 'spark-frontier' but NOT a prefix: * group wins
    assert parse_robots(body, agent="spark-frontier") == (["/public"], None)
    # prefix groups DO match, longest prefix wins
    body2 = ("User-agent: spark\nDisallow: /a\n"
             "User-agent: spark-frontier\nDisallow: /b\n")
    assert parse_robots(body2, agent="spark-frontier-2.0") == (["/b"], None)
    # a LONGER token than the agent is not a prefix of it: no hijack
    body3 = ("User-agent: spark-frontier-extended\nDisallow: /x\n"
             "User-agent: *\nDisallow: /y\n")
    assert parse_robots(body3, agent="spark-frontier") == (["/y"], None)


def test_parse_robots_nonpositive_crawl_delay_ignored():
    from ai_intel_web_scraper_spark.functions.robots import parse_robots
    assert parse_robots("User-agent: *\nCrawl-delay: 0\n") == ([], None)
    assert parse_robots("User-agent: *\nCrawl-delay: -2\n") == ([], None)
    assert parse_robots("User-agent: *\nCrawl-delay: 1.5\n") == ([], 1.5)


def test_canonicalize_control_chars_match_scalar():
    from ai_intel_web_scraper_spark.functions.urls import (canonicalize_series,
                                                           canonicalize_url)
    cases = ["http://host/a\tb", "https://ho\nst/x", "http://h/p\r/q/",
             "https://ok.example/clean"]
    got = canonicalize_series(pd.Series(cases, dtype=object))
    for c, g in zip(cases, got):
        assert g == canonicalize_url(c), (c, g)


def test_canonicalize_fast_path_property_based():
    """Property test: the vectorized canonicalizer equals the urlsplit-based
    scalar on arbitrary URL-ish strings (the fast path must be
    byte-identical or defer)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from ai_intel_web_scraper_spark.functions.urls import (canonicalize_series,
                                                           canonicalize_url)

    piece = st.text(
        alphabet="abcXYZ019-._~:/?#[]@!$&'()*+,;= \t\n%\\",
        max_size=24)
    url_ish = st.one_of(
        st.builds(lambda h, p: f"https://{h}/{p}", piece, piece),
        st.builds(lambda h, p: f"HTTP://{h}{p}", piece, piece),
        piece,
    )

    @settings(max_examples=300, deadline=None)
    @given(st.lists(url_ish, min_size=1, max_size=8),
           st.one_of(st.none(), st.just("https://base.example/dir/page")))
    def check(urls, base):
        bases = (None if base is None
                 else pd.Series([base] * len(urls), dtype=object))
        got = canonicalize_series(pd.Series(urls, dtype=object), bases)
        for u, g in zip(urls, got):
            try:
                want = canonicalize_url(u, base)
            except Exception:
                want = None
            assert g == want, (u, base, g, want)

    check()


def test_canonicalize_idempotent_and_hash_variant_invariant():
    """Properties the url_seen set depends on: canonicalization is
    IDEMPOTENT (a canonical URL re-canonicalizes to itself — otherwise
    re-discovered URLs could hash differently and refetch), and
    url_hash64 of the canonical form is invariant under the href variants
    a crawler actually sees (fragment, query, trailing slash, scheme/host
    case)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from ai_intel_web_scraper_spark.functions.urls import (canonicalize_url,
                                                           url_hash64)

    host = st.from_regex(r"[a-z][a-z0-9-]{0,10}(\.[a-z]{2,5}){1,2}",
                         fullmatch=True)
    path = st.from_regex(r"(/[a-zA-Z0-9._~-]{0,8}){0,4}", fullmatch=True)

    @settings(max_examples=300, deadline=None)
    @given(host, path,
           st.sampled_from(["", "/", "#frag", "?q=1", "/#x", "/?a=b&c=d"]),
           st.sampled_from(["http", "https", "HTTP", "HttpS"]))
    def check(h, p, suffix, scheme):
        base = f"{scheme}://{h}{p}"
        canon = canonicalize_url(base + suffix)
        assert canon is not None
        # idempotent
        assert canonicalize_url(canon) == canon
        # variant-invariant: every suffix/case variant lands on ONE hash
        ref = canonicalize_url(f"{scheme.lower()}://{h.lower()}{p}")
        assert canon == ref
        assert url_hash64(canon) == url_hash64(ref)

    check()


# ------------------------------------------------------------------ BPE

def _bpe_corpus():
    return ["the spark table scans the table fast",
            "query the table, scan the spark query!",
            "spark spark spark 12345 rows/sec", "l'examen crénelé — naïve"]


def test_bpe_roundtrip_is_lossless():
    """BPE must be a bijection: concatenated tokens == utf-8 bytes, for
    ascii, unicode, contractions, digits and whitespace runs."""
    from ai_intel_web_scraper_spark.functions import bpe
    merges = bpe.train_bpe(_bpe_corpus(), 64)
    ranks = bpe.build_ranks(merges)
    for t in _bpe_corpus() + ["", "   ", "a", "it's\n\tdone — 1234567",
                              "naïve café ☃ snow", "x" * 300]:
        assert b"".join(bpe.encode(t, ranks)) == t.encode("utf-8"), repr(t)


def test_bpe_training_is_deterministic_and_compresses():
    from ai_intel_web_scraper_spark.functions import bpe
    m1 = bpe.train_bpe(_bpe_corpus(), 128)
    m2 = bpe.train_bpe(list(_bpe_corpus()), 128)
    assert m1 == m2
    ranks = bpe.build_ranks(m1)
    # the dominant word fuses into ONE token; counts beat byte counts
    assert bpe.encode_word(b"spark", ranks) == [b"spark"]
    text = " ".join(_bpe_corpus())
    assert len(bpe.encode(text, ranks)) < len(text.encode()) / 2


def test_bpe_greedy_merge_order_matches_rank_table():
    """With a hand-built merges table the encoder must apply merges in
    rank order — the tiktoken plug-in contract (build_ranks accepts any
    published merges list)."""
    from ai_intel_web_scraper_spark.functions import bpe
    ranks = bpe.build_ranks([(b"h", b"e"), (b"l", b"l"), (b"he", b"ll")])
    assert bpe.encode_word(b"hello", ranks) == [b"hell", b"o"]
    # rank order matters: (l,l) before (e,l) would change the outcome
    ranks2 = bpe.build_ranks([(b"e", b"l"), (b"l", b"l"), (b"h", b"e")])
    assert bpe.encode_word(b"hello", ranks2) == [b"h", b"el", b"l", b"o"]


def test_bpe_fast_encoder_matches_naive_reference():
    """The incremental/cached encoder vs a from-scratch naive one-merge-
    at-a-time loop on randomized word soup."""
    import random

    from ai_intel_web_scraper_spark.functions import bpe
    rng = random.Random(7)
    vocab = ["spark", "table", "scan", "query", "fast", "row", "12",
             "3456", "—", "it's"]
    texts = [" ".join(rng.choices(vocab, k=rng.randint(1, 30)))
             for _ in range(40)]
    merges = bpe.train_bpe(texts, 200)
    ranks = bpe.build_ranks(merges)

    def naive(t: str) -> list[bytes]:
        out = []
        for w in bpe.pretokenize(t):
            s = [bytes([c]) for c in w]
            while True:
                cand = [(ranks[p], i) for i, p in enumerate(zip(s, s[1:]))
                        if p in ranks]
                if not cand:
                    break
                _, i = min(cand)
                s[i:i + 2] = [s[i] + s[i + 1]]
            out.extend(s)
        return out

    cache: dict = {}
    for t in texts + ["unseen zebra text 999"]:
        assert bpe.encode(t, ranks, cache) == naive(t), t


def test_bpe_chunk_windows_reference_stride_semantics():
    """The chunker must reproduce the reference stride loop: single
    window when it fits, short last window, overlap carried between
    consecutive windows."""
    from ai_intel_web_scraper_spark.functions.bpe import chunk_token_windows
    t = [bytes([i]) for i in range(10)]
    # fits exactly -> one window
    assert chunk_token_windows(t, 10, 2) == [t]
    assert chunk_token_windows(t[:3], 8, 2) == [t[:3]]
    # stride = 6, so windows start at 0 and 6; last is short
    w = chunk_token_windows(t, 8, 2)
    assert w == [t[0:8], t[6:10]]
    # stride 3; the loop stops once a window reaches the end, so the
    # final start is 6 (window [6:10]), not 9
    w = chunk_token_windows(t, 4, 1)
    assert [x[0] for x in w] == [t[0], t[3], t[6]]
    # every consecutive pair shares exactly `overlap` tokens
    for a, b in zip(w, w[1:]):
        assert a[-1:] == b[:1]
    # empty input -> one empty window (degenerate, never crashes)
    assert chunk_token_windows([], 4, 1) == [[]]
