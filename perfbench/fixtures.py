"""Seeded benchmark inputs, generated before the Spark session starts.

Every input is a pure function of (workload scale, seed, FX_VERSION) and is
cached under the benchmark's work dir by that key, so a repeated seed pays
generation once and generation never falls inside a timer or `setup_s`.

The package is used here only to derive columns the engine itself would
derive (url_hash through `hash64_series`, bucket from it), so the stored
hashes agree with what the timed pipeline computes. Expected outputs are
never produced here: the checks recompute them independently.
"""

from __future__ import annotations

import multiprocessing
import os
import shutil
import time
from concurrent.futures import ProcessPoolExecutor

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# bump when the content of any generated table changes
BENCH_FX_VERSION = 1
CRAWL_TABLES = ("pages", "web_graph", "seeds", "politeness", "robots",
                "sitemaps")


def _cache_dir(work: str, kind: str, tag: str) -> str:
    from ai_intel_web_scraper_spark.synth.generator import FX_VERSION
    return os.path.join(work, "fixtures",
                        f"{kind}_{tag}_fx{FX_VERSION}_b{BENCH_FX_VERSION}")


def _cached(out: str, build) -> float:
    """Run build(tmp_dir) once per key; returns the seconds it took (0.0 on
    a cache hit). The dir is renamed into place only when complete."""
    if os.path.isdir(out):
        return 0.0
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.perf_counter()
    build(tmp)
    os.rename(tmp, out)
    return time.perf_counter() - t0


# ---------------------------------------------------------------- crawl web
def _crawl_slice(spec_kw: dict, out: str, part: int, n_parts: int) -> None:
    from ai_intel_web_scraper_spark.synth.generator import (
        _GRAPH_SCHEMA, _PAGES_SCHEMA, WebSpec, page_rows)
    spec = WebSpec(**spec_kw)
    pages, graph = [], []
    # hosts dealt round-robin: the Zipf head would load one slice otherwise
    for k in range(part, spec.n_hosts, n_parts):
        for prow, grow in page_rows(spec, k, k + 1, with_bytes=True):
            pages.append(prow)
            graph.append(grow)
    for name, rows, schema in (("pages", pages, _PAGES_SCHEMA),
                               ("web_graph", graph, _GRAPH_SCHEMA)):
        d = os.path.join(out, f"{name}.parquet")
        os.makedirs(d, exist_ok=True)
        pq.write_table(pa.Table.from_pylist(rows, schema=schema),
                       os.path.join(d, f"part-{part:03d}.parquet"))


def crawl_fixtures(work: str, seed: int, n_hosts: int, total_pages: int,
                   workers: int) -> tuple[dict, float]:
    """Synthetic web (pages with image+caption payload, link graph, seeds,
    politeness, robots, sitemaps). Returns (paths, generation seconds)."""
    from ai_intel_web_scraper_spark.synth.generator import (
        WebSpec, write_config_tables)
    spec_kw = dict(seed=seed, n_hosts=n_hosts, total_pages=total_pages,
                   max_pages_per_host=400)
    out = _cache_dir(work, "crawl", f"s{seed}_h{n_hosts}_p{total_pages}")
    paths = {n: os.path.join(out, f"{n}.parquet") for n in CRAWL_TABLES}

    def build(tmp: str) -> None:
        # one slice per core: 3.2 s against 11.7 s serially for the
        # 1200-host web on a 4-core machine, paid by every run of a new
        # seed. Forked, not spawned, and before the Spark session starts:
        # no helper process (spawn's resource tracker) outlives the pool.
        with ProcessPoolExecutor(
                max_workers=workers,
                mp_context=multiprocessing.get_context("fork")) as pool:
            for f in [pool.submit(_crawl_slice, spec_kw, tmp, p, workers)
                      for p in range(workers)]:
                f.result()
        write_config_tables(WebSpec(**spec_kw), {
            n: os.path.join(tmp, f"{n}.parquet") for n in CRAWL_TABLES})
    return paths, _cached(out, build)


# ------------------------------------------------------------ sched frontier
SCHED_VARIANTS = ("", "/", "#frag", "?utm=x")  # href noise resolve strips


def _hash(urls: list[str]) -> np.ndarray:
    from ai_intel_web_scraper_spark.functions.urls import hash64_series
    return hash64_series(pd.Series(urls, dtype=object)).to_numpy()


def sched_fixtures(work: str, seed: int, n_urls: int, n_hosts: int,
                   seen_frac: float, seen_mult: int, n_buckets: int,
                   workers: int) -> tuple[dict, float]:
    """One scheduling round's inputs: a Zipf-skewed frontier of raw hrefs,
    url_seen covering ~seen_frac of it plus (seen_mult-1)*n_urls rows of
    older URLs the frontier never re-links, and the per-host crawl delays.

    frontier.parquet: raw_url, url (canonical, as generated), host,
      url_hash, depth, priority, discovery_seq, attempt
    url_seen.parquet: url, url_hash, bucket
    hosts.parquet:    host, crawl_delay
    bloom_shards.parquet: bucket, bitmap — url_seen's per-bucket bloom
      shards, built by the package's `partial_bitmaps` kernel
    """
    tag = (f"s{seed}_u{n_urls}_h{n_hosts}_f{seen_frac}_m{seen_mult}"
           f"_b{n_buckets}")
    out = _cache_dir(work, "sched", tag)
    paths = {n: os.path.join(out, f"{n}.parquet")
             for n in ("frontier", "url_seen", "hosts", "bloom_shards")}

    def build(tmp: str) -> None:
        rng = np.random.default_rng([seed, n_urls, seen_mult])
        w = 1.0 / np.arange(1, n_hosts + 1) ** 1.1
        host_id = rng.choice(n_hosts, size=n_urls, p=w / w.sum())
        hosts = np.array([f"h{k}-s{seed}.example" for k in range(n_hosts)],
                         dtype=object)
        ids = rng.permutation(n_urls)  # path ids: seed-dependent strings
        url = [f"https://{hosts[h]}/p/{i}" for h, i in zip(host_id, ids)]
        variant = rng.integers(0, len(SCHED_VARIANTS), size=n_urls)
        raw = [u + SCHED_VARIANTS[v] for u, v in zip(url, variant)]
        n_pad = (seen_mult - 1) * n_urls
        pad_host = rng.choice(n_hosts, size=n_pad, p=w / w.sum())
        pad = [f"https://{hosts[h]}/old/{i}" for i, h in enumerate(pad_host)]
        url_hash = _hash(url)
        pad_hash = _hash(pad) if n_pad else np.empty(0, dtype=np.int64)
        frontier = pd.DataFrame({
            "raw_url": raw, "url": url, "host": hosts[host_id],
            "url_hash": url_hash,
            "depth": rng.integers(0, 6, size=n_urls).astype(np.int32),
            "priority": rng.integers(0, 1000, size=n_urls) / 1000.0,
            "discovery_seq": np.arange(n_urls, dtype=np.int64),
            "attempt": np.ones(n_urls, dtype=np.int32)})
        seen_mask = rng.random(n_urls) < seen_frac
        seen = pd.DataFrame({
            "url": [u for u, s in zip(url, seen_mask) if s] + pad,
            "url_hash": np.concatenate([url_hash[seen_mask], pad_hash])})
        seen["bucket"] = (np.abs(seen["url_hash"].to_numpy())
                          % n_buckets).astype(np.int32)
        pq.write_table(pa.Table.from_pandas(frontier, preserve_index=False),
                       os.path.join(tmp, "frontier.parquet"),
                       row_group_size=max(n_urls // (2 * workers), 1))
        pq.write_table(pa.Table.from_pandas(seen, preserve_index=False),
                       os.path.join(tmp, "url_seen.parquet"),
                       row_group_size=max(len(seen) // (2 * workers), 1))
        pq.write_table(pa.Table.from_pandas(pd.DataFrame({
            "host": hosts,
            "crawl_delay": rng.choice([0.3, 0.5, 1.0], size=n_hosts)}),
            preserve_index=False), os.path.join(tmp, "hosts.parquet"))
        pq.write_table(pa.Table.from_pandas(
            bloom_shards(seen, n_buckets), preserve_index=False),
            os.path.join(tmp, "bloom_shards.parquet"))
    return paths, _cached(out, build)


def bloom_shards(seen: pd.DataFrame, n_buckets: int) -> pd.DataFrame:
    """(bucket, bitmap) rows over seen (bucket, url_hash), sized like the
    engine sizes its sidecar for that many keys."""
    from ai_intel_web_scraper_spark.crawl.bloom import (BloomShards,
                                                        partial_bitmaps)
    m_bits = BloomShards.sized_for(max(len(seen), 1024), n_buckets).m_bits
    parts = list(partial_bitmaps(m_bits, n_buckets)(
        iter([seen[["bucket", "url_hash"]]])))
    out = (pd.concat(parts, ignore_index=True) if parts else
           pd.DataFrame({"bucket": [], "bitmap": pd.Series([], dtype=object)}))
    return out.astype({"bucket": np.int32})
