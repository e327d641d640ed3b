"""Focused tests for the r6 fused bloom probe+insert
(`bloom.partitioned_probe_upsert_fn`): the single cogroup pass must
reproduce BOTH halves of the old two-pass round — the probe verdicts of
`partitioned_probe_fn` and the shard bytes of a separate insert of the
new hashes OR-ed into the stored rows — bit for bit, and must not
float-poison 64-bit columns when shard rows carry None; and it refuses
a shard row of another width."""

import numpy as np
import pandas as pd
import pytest

from ai_intel_web_scraper_spark.crawl.bloom import (
    BloomShards, _positions, partitioned_probe_fn,
    partitioned_probe_upsert_fn)

OUT_COLS = ["url", "url_hash", "bucket", "host", "depth", "discovery_seq"]


def _mk_cand(hashes, bucket):
    n = len(hashes)
    return pd.DataFrame({
        "url": [f"https://h.example/p/{i}" for i in range(n)],
        "url_hash": np.array(hashes, dtype=np.int64),
        "bucket": np.full(n, bucket, dtype=np.int32),
        "host": ["h.example"] * n,
        "depth": np.arange(n, dtype=np.int32),
        "discovery_seq": np.arange(n, dtype=np.int64),
    })


def _insert(bitmap, hashes, m_bits):
    out = bitmap.copy()
    pos = _positions(np.asarray(hashes, dtype=np.int64), m_bits).ravel()
    np.bitwise_or.at(out, pos >> 3, np.uint8(1) << (pos & 7).astype(np.uint8))
    return out


def test_fused_matches_two_pass_update_and_probe():
    m_bits = 1 << 12
    rng = np.random.default_rng(7)
    seen = rng.integers(-(1 << 62), 1 << 62, 40, dtype=np.int64)
    shard = _insert(np.zeros(m_bits // 8, dtype=np.uint8), seen, m_bits)
    shards = pd.DataFrame({"bucket": [3], "bitmap": [shard.tobytes()]})
    # candidates: half re-probe seen hashes (maybe=True), half fresh
    fresh = rng.integers(-(1 << 62), 1 << 62, 25, dtype=np.int64)
    cand = _mk_cand(list(seen[:25]) + list(fresh), 3)

    out = partitioned_probe_upsert_fn(OUT_COLS, m_bits)(cand, shards)
    probed = out[out["bitmap"].isnull()]
    shard_rows = out[out["bitmap"].notnull()]

    # probe verdicts == the old probe-only fn
    ref = partitioned_probe_fn(OUT_COLS)(cand, shards)
    assert list(probed["maybe"]) == list(ref["maybe"])
    assert all(probed["maybe"][:25])  # true members always maybe

    # shard bytes == old two-pass update (insert only the NOT-maybe rows,
    # which is what the old path's new_urls reduces to bit-wise: maybe
    # rows have all K bits set already, so inserting them is a no-op)
    new_hashes = cand["url_hash"].to_numpy()[~ref["maybe"].to_numpy()]
    expect = _insert(shard, new_hashes, m_bits)
    assert len(shard_rows) == 1
    got = np.frombuffer(shard_rows["bitmap"].iloc[0], dtype=np.uint8)
    assert bytes(got) == bytes(expect)
    # ALSO equal to inserting every candidate (the no-op property itself)
    assert bytes(_insert(shard, cand["url_hash"].to_numpy(), m_bits)) \
        == bytes(expect)


def test_fused_no_float_poisoning_on_64bit_hashes():
    # hashes whose low bits exceed float64's 53-bit mantissa: any
    # int64->float64 promotion in the shard-row concat would corrupt them
    m_bits = 1 << 10
    tricky = [(1 << 62) + 1, -(1 << 62) - 3, (1 << 55) + 7]
    cand = _mk_cand(tricky, 0)
    out = partitioned_probe_upsert_fn(OUT_COLS, m_bits)(
        cand, pd.DataFrame({"bucket": pd.Series([], dtype="int32"),
                            "bitmap": pd.Series([], dtype=object)}))
    probed = out[out["bitmap"].isnull()]
    assert [int(x) for x in probed["url_hash"]] == tricky
    # empty shard: nothing seen, all definitely-new, one fresh shard row
    assert not probed["maybe"].any()
    shard_rows = out[out["bitmap"].notnull()]
    assert len(shard_rows) == 1 and int(shard_rows["bucket"].iloc[0]) == 0


def test_fused_empty_candidates_pass_shards_through():
    m_bits = 1 << 10
    shard = np.zeros(m_bits // 8, dtype=np.uint8)
    shard[5] = 0xAB
    shards = pd.DataFrame({"bucket": [9], "bitmap": [shard.tobytes()]})
    cand = _mk_cand([], 9).iloc[:0]
    out = partitioned_probe_upsert_fn(OUT_COLS, m_bits)(cand, shards)
    assert len(out) == 1
    assert np.frombuffer(out["bitmap"].iloc[0], dtype=np.uint8)[5] == 0xAB


def test_fused_mixed_width_keeps_old_width_rows():
    """One shard width per warehouse: a resize rebuilds the sidecar, so a
    shard row of another width reaching the fused probe means a stale
    sidecar. The fused function neither probes that row at the engine's
    width (false 'definitely new' verdicts) nor rewrites it: it refuses
    the bucket, naming both widths, so the old-width row is never
    silently replaced by an engine-width one."""
    m_engine, m_old = 1 << 12, 1 << 10
    rng = np.random.default_rng(11)
    old_keys = rng.integers(-(1 << 62), 1 << 62, 10, dtype=np.int64)
    old_shard = _insert(np.zeros(m_old // 8, dtype=np.uint8),
                        old_keys, m_old)
    shards = pd.DataFrame({"bucket": [1, 1],
                           "bitmap": [old_shard.tobytes(),
                                      np.zeros(m_engine // 8,
                                               dtype=np.uint8).tobytes()]})
    cand = _mk_cand(list(old_keys[:4]), 1)  # all maybe via the OLD width
    with pytest.raises(ValueError, match=f"{m_old}.*{m_engine}"):
        partitioned_probe_upsert_fn(OUT_COLS, m_engine)(cand, shards)
