"""Per-bucket bloom filters for url_seen membership (the fast path of
SURVEY C2).

The reference keeps ``visited: set[str]`` in driver memory
(reference scrapers/docs_scraper.py:117,124) — impossible at 10^10 URLs. The
engine's ground truth is the insert-only ``url_seen`` table (exact anti-join);
this module provides the probabilistic *pre-filter* that keeps the exact
join's probe side small: candidates whose bloom probe says "definitely not
seen" skip the join entirely; only "maybe seen" rows are confirmed exactly.
An insert-only set never deletes, so a plain bloom is sufficient (no
counting variant, 8x smaller); the sharding story is what matters at scale.

Sharding: one filter per url_hash bucket (the same ``bucket = |url_hash| %
N_BUCKETS`` that partitions ``url_seen`` on disk), stored as one
``(bucket, bitmap)`` row per bucket in the snapshot's ``bloom_shards``
table. A round cogroups its candidates with those rows by bucket, so each
task receives only its buckets' bitmaps and the driver never holds a
filter: ``partitioned_probe_upsert_fn`` probes and inserts in that one
pass, and ``partial_bitmaps`` (inside ``mapInPandas``) builds the rows from
scratch when the sidecar is rebuilt from url_seen. Double hashing
(Kirsch-Mitzenmacher) derives K probe positions from the single 64-bit
url_hash.

One shard width per warehouse: every shard row is ``m_bits`` wide, and the
engine's sidecar marker records that width. A resize (another
``expected_urls``) makes the marker stale, so the engine rebuilds the
shards from url_seen at the new width instead of probing rows of two
widths. A probe meeting a row of another width raises ``ValueError``:
probing at the wrong width yields false "definitely new" verdicts.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

DEFAULT_BITS_PER_KEY = 10  # ~1% FPR at K=7
K_HASHES = 7


def _positions(hashes: np.ndarray, m: int) -> np.ndarray:
    """(n, K) probe positions from signed int64 hashes via double hashing."""
    u = hashes.astype(np.uint64)
    h1 = (u >> np.uint64(32)).astype(np.uint64)
    h2 = ((u & np.uint64(0xFFFFFFFF)) | np.uint64(1)).astype(np.uint64)
    ks = np.arange(K_HASHES, dtype=np.uint64)
    return ((h1[:, None] + ks[None, :] * h2[:, None]) % np.uint64(m)).astype(np.int64)


class BloomShards:
    """The sidecar's sizing: `n_buckets` shards, each `m_bits` wide."""

    def __init__(self, n_buckets: int, m_bits: int) -> None:
        self.n_buckets = n_buckets
        self.m_bits = m_bits

    @classmethod
    def sized_for(cls, expected_keys: int, n_buckets: int,
                  bits_per_key: int = DEFAULT_BITS_PER_KEY) -> "BloomShards":
        per_bucket = max(1024, (expected_keys * bits_per_key) // max(1, n_buckets))
        m = 1 << int(np.ceil(np.log2(per_bucket)))
        return cls(n_buckets, m)


def _bucket_bitmap(shards: pd.DataFrame, m_bits: int | None) -> np.ndarray | None:
    """One bucket's bitmap (a writable copy) from its shard rows, or None
    when the bucket has none. Every row must be `m_bits` wide (None: the
    first row's width); a row of another width raises ValueError."""
    bitmap = None
    for raw in shards["bitmap"]:
        arr = np.frombuffer(raw, dtype=np.uint8)
        m_bits = m_bits or arr.size * 8
        if arr.size * 8 != m_bits:
            raise ValueError(
                f"bloom shard row is {arr.size * 8} bits wide, the sidecar "
                f"is {m_bits} bits: a resized sidecar must be rebuilt from "
                "url_seen, never probed at two widths")
        bitmap = arr.copy() if bitmap is None else bitmap | arr
    return bitmap


def _probe(bitmap: np.ndarray, hashes: np.ndarray) -> np.ndarray:
    """True = maybe seen, False = definitely new."""
    pos = _positions(hashes, bitmap.size * 8)
    return ((bitmap[pos >> 3] >> (pos & 7).astype(np.uint8)) & 1).all(axis=1)


def partitioned_probe_fn(out_columns: list[str]):
    """Cogrouped probe: (candidate rows of one bucket) x (that bucket's
    shard rows) -> candidates + `maybe` flag. Each task receives ONLY its
    bucket's bitmap (once per bucket, not per row) — the executor-resident
    alternative to broadcasting the whole sidecar; at 10^10 URLs the
    sidecar never exists as one object anywhere. The probe width is the
    shard rows' own width (all rows share it)."""
    def fn(cand: pd.DataFrame, shards: pd.DataFrame) -> pd.DataFrame:
        out = cand[out_columns].copy()
        if len(cand) == 0:
            out["maybe"] = pd.Series([], dtype=bool)
            return out
        bitmap = _bucket_bitmap(shards, None)
        # no shard: nothing seen in this bucket
        out["maybe"] = (False if bitmap is None
                        else _probe(bitmap, cand["url_hash"].to_numpy()))
        return out
    return fn


def partitioned_probe_upsert_fn(out_columns: list[str], m_bits: int):
    """Fused cogrouped probe + shard update (r6): one pass per bucket
    emits BOTH the probed candidate rows (`maybe` flag, `bitmap` null)
    and the bucket's one updated shard row (`bitmap` set, candidate
    columns null). This replaces a separate per-round update job (partial
    bitmaps of the new urls, OR-merged per bucket into the stored rows):
    the probe task already holds the bucket's bitmap and its candidate
    hashes, so inserting is free.

    Correctness of inserting ALL candidates (not just the post-anti-join
    new urls): a candidate probing `maybe` has, by definition of the
    probe, all K of its bit positions already set — OR-ing them in is a
    bit-level no-op — while every `not maybe` candidate is definitely
    new and would have been inserted anyway. So the updated bitmap is
    bit-identical to the old two-pass update. Every shard row must be
    `m_bits` wide."""
    _NULLABLE = {"int8": "Int8", "int16": "Int16", "int32": "Int32",
                 "int64": "Int64", "uint8": "UInt8", "uint16": "UInt16",
                 "uint32": "UInt32", "uint64": "UInt64", "bool": "boolean"}

    def fn(cand: pd.DataFrame, shards: pd.DataFrame) -> pd.DataFrame:
        bitmap = _bucket_bitmap(shards, m_bits)
        out = cand[out_columns].copy()
        if len(cand):
            hashes = cand["url_hash"].to_numpy()
            if bitmap is None:
                out["maybe"] = np.zeros(len(cand), dtype=bool)
                bitmap = np.zeros(m_bits // 8, dtype=np.uint8)
            else:
                out["maybe"] = _probe(bitmap, hashes)
            # insert all candidate hashes into the bucket's shard
            pos = _positions(hashes, m_bits).ravel()
            np.bitwise_or.at(bitmap, pos >> 3,
                             np.uint8(1) << (pos & 7).astype(np.uint8))
        else:
            out["maybe"] = pd.Series([], dtype="boolean")
        # nullable dtypes throughout: the shard row carries None in the
        # candidate columns, and a plain int64 column holding None gets
        # silently promoted to float64 (53-bit mantissa — corrupts 64-bit
        # url_hash values; the pinned pandas None-poisoning trap)
        for c in out.columns:
            nl = _NULLABLE.get(str(out[c].dtype))
            if nl is not None:
                out[c] = out[c].astype(nl)
        bitmaps = [] if bitmap is None else [bitmap.tobytes()]
        shard_rows = pd.DataFrame(
            {c: pd.array([None] * len(bitmaps), dtype=out[c].dtype)
             for c in out.columns})
        b = int((cand if len(cand) else shards)["bucket"].iloc[0])
        shard_rows["bucket"] = pd.array([b] * len(bitmaps),
                                        dtype=out["bucket"].dtype)
        shard_rows["bitmap"] = pd.Series(bitmaps, dtype=object)
        out["bitmap"] = pd.Series([None] * len(out), dtype=object)
        return pd.concat([out, shard_rows], ignore_index=True)
    return fn


def partial_bitmaps(m_bits: int, n_buckets: int):
    """mapInPandas function: (bucket int, url_hash long) rows ->
    (bucket int, bitmap binary) one row per bucket present in the partition."""
    def fn(iterator):
        acc: dict[int, np.ndarray] = {}
        for pdf in iterator:
            buckets = pdf["bucket"].to_numpy()
            hashes = pdf["url_hash"].to_numpy()
            for b in np.unique(buckets):
                pos = _positions(hashes[buckets == b], m_bits).ravel()
                shard = acc.setdefault(int(b), np.zeros(m_bits // 8, dtype=np.uint8))
                np.bitwise_or.at(shard, pos >> 3, np.uint8(1) << (pos & 7).astype(np.uint8))
        if acc:
            yield pd.DataFrame({
                "bucket": list(acc.keys()),
                "bitmap": [v.tobytes() for v in acc.values()],
            })
    return fn
