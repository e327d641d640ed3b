"""Per-bucket bloom filters for url_seen membership (the fast path of
SURVEY C2).

The reference keeps ``visited: set[str]`` in driver memory
(reference scrapers/docs_scraper.py:117,124) — impossible at 10^10 URLs. The
engine's ground truth is the bucketed ``url_seen`` table (exact anti-join);
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
    """Dict of bucket -> packed uint8 bitmap, all shards the same size."""

    def __init__(self, n_buckets: int, m_bits: int,
                 shards: dict[int, np.ndarray] | None = None) -> None:
        self.n_buckets = n_buckets
        self.m_bits = m_bits
        self.shards = shards if shards is not None else {}

    @classmethod
    def sized_for(cls, expected_keys: int, n_buckets: int,
                  bits_per_key: int = DEFAULT_BITS_PER_KEY) -> "BloomShards":
        per_bucket = max(1024, (expected_keys * bits_per_key) // max(1, n_buckets))
        m = 1 << int(np.ceil(np.log2(per_bucket)))
        return cls(n_buckets, m)

    def _shard(self, bucket: int) -> np.ndarray:
        s = self.shards.get(bucket)
        if s is None:
            s = np.zeros(self.m_bits // 8, dtype=np.uint8)
            self.shards[bucket] = s
        return s

    def add_many(self, buckets: np.ndarray, hashes: np.ndarray) -> None:
        for b in np.unique(buckets):
            pos = _positions(hashes[buckets == b], self.m_bits).ravel()
            np.bitwise_or.at(self._shard(int(b)), pos >> 3,
                             np.uint8(1) << (pos & 7).astype(np.uint8))

    def maybe_contains(self, buckets: np.ndarray, hashes: np.ndarray) -> np.ndarray:
        """Vectorized probe; True = maybe seen, False = definitely new."""
        out = np.zeros(len(hashes), dtype=bool)
        for b in np.unique(buckets):
            mask = buckets == b
            shard = self.shards.get(int(b))
            if shard is None:
                continue  # empty shard: nothing seen in this bucket
            pos = _positions(hashes[mask], self.m_bits)
            bits = (shard[pos >> 3] >> (pos & 7).astype(np.uint8)) & 1
            out[mask] = bits.all(axis=1)
        return out


def partitioned_probe_fn(out_columns: list[str]):
    """Cogrouped probe: (candidate rows of one bucket) x (that bucket's
    shard rows) -> candidates + `maybe` flag. Each task receives ONLY its
    bucket's bitmap (once per bucket, not per row) — the executor-resident
    alternative to broadcasting the whole sidecar; at 10^10 URLs the
    sidecar never exists as one object anywhere.

    Probe width is SELF-DESCRIBED by each shard row (len(bitmap)*8), never
    taken from engine config: a warehouse reopened with a different
    expected_urls/n_buckets sizing must still probe the stored shards at
    the width they were built with (a wrong-width probe yields false
    'definitely new' verdicts that bypass the exact anti-join). Mixed
    widths merge per-width and OR the verdicts, so old and new sizings
    coexist correctly until the next rebuild/compaction."""
    def fn(cand: pd.DataFrame, shards: pd.DataFrame) -> pd.DataFrame:
        out = cand[out_columns].copy()
        if len(cand) == 0:
            out["maybe"] = pd.Series([], dtype=bool)
            return out
        if len(shards) == 0:
            out["maybe"] = False  # no shard: nothing seen in this bucket
            return out
        by_width: dict[int, np.ndarray] = {}
        for raw in shards["bitmap"]:
            arr = np.frombuffer(raw, dtype=np.uint8)
            w = arr.size * 8
            by_width[w] = (arr.copy() if w not in by_width
                           else np.bitwise_or(by_width[w], arr))
        hashes = cand["url_hash"].to_numpy()
        maybe = np.zeros(len(cand), dtype=bool)
        for w, bitmap in by_width.items():
            pos = _positions(hashes, w)
            bits = (bitmap[pos >> 3] >> (pos & 7).astype(np.uint8)) & 1
            maybe |= bits.all(axis=1)
        out["maybe"] = maybe
        return out
    return fn


def partitioned_probe_upsert_fn(out_columns: list[str], m_bits: int):
    """Fused cogrouped probe + shard update (r6): one pass per bucket
    emits BOTH the probed candidate rows (`maybe` flag, `bitmap` null)
    and the bucket's updated shard rows (`bitmap` set, candidate columns
    null). This replaces a separate per-round update job (partial bitmaps
    of the new urls, OR-merged per bucket into the stored rows): the
    probe task already holds the bucket's bitmap and its candidate
    hashes, so inserting is free.

    Correctness of inserting ALL candidates (not just the post-anti-join
    new urls): a candidate probing `maybe` has, by definition of the
    probe, all K of its bit positions already set — OR-ing them in is a
    bit-level no-op — while every `not maybe` candidate is definitely
    new and would have been inserted anyway. So on a single-width shard
    the updated bitmap is bit-identical to the old two-pass update. On
    a mixed-width warehouse (expected_urls resize) the engine-width
    shard may gain bits for rows whose `maybe` came from an old-width
    row; the sidecar stays a superset of url_seen (the only invariant
    probing correctness needs — extra bits can only add false
    positives, which the exact anti-join resolves).

    New bits always land in the ENGINE-width (`m_bits`) row, created on
    demand; rows of other widths pass through untouched."""
    _NULLABLE = {"int8": "Int8", "int16": "Int16", "int32": "Int32",
                 "int64": "Int64", "uint8": "UInt8", "uint16": "UInt16",
                 "uint32": "UInt32", "uint64": "UInt64", "bool": "boolean"}

    def fn(cand: pd.DataFrame, shards: pd.DataFrame) -> pd.DataFrame:
        by_width: dict[int, np.ndarray] = {}
        for raw in shards["bitmap"] if len(shards) else []:
            arr = np.frombuffer(raw, dtype=np.uint8)
            w = arr.size * 8
            by_width[w] = (arr.copy() if w not in by_width
                           else np.bitwise_or(by_width[w], arr))
        out = cand[out_columns].copy()
        if len(cand):
            hashes = cand["url_hash"].to_numpy()
            maybe = np.zeros(len(cand), dtype=bool)
            for w, bitmap in by_width.items():
                pos = _positions(hashes, w)
                bits = (bitmap[pos >> 3] >> (pos & 7).astype(np.uint8)) & 1
                maybe |= bits.all(axis=1)
            out["maybe"] = maybe
            # insert all candidate hashes into the engine-width shard
            shard = by_width.setdefault(
                m_bits, np.zeros(m_bits // 8, dtype=np.uint8))
            pos = _positions(hashes, m_bits).ravel()
            np.bitwise_or.at(shard, pos >> 3,
                             np.uint8(1) << (pos & 7).astype(np.uint8))
        else:
            out["maybe"] = pd.Series([], dtype="boolean")
        # nullable dtypes throughout: the shard rows carry None in the
        # candidate columns, and a plain int64 column holding None gets
        # silently promoted to float64 (53-bit mantissa — corrupts 64-bit
        # url_hash values; the pinned pandas None-poisoning trap)
        for c in out.columns:
            nl = _NULLABLE.get(str(out[c].dtype))
            if nl is not None:
                out[c] = out[c].astype(nl)
        n_sh = len(by_width)
        shard_rows = pd.DataFrame(
            {c: pd.array([None] * n_sh, dtype=out[c].dtype)
             for c in out.columns})
        b = int((cand if len(cand) else shards)["bucket"].iloc[0])
        shard_rows["bucket"] = pd.array([b] * n_sh,
                                        dtype=out["bucket"].dtype)
        shard_rows["bitmap"] = pd.Series(
            [v.tobytes() for v in by_width.values()], dtype=object)
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
