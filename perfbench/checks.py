"""Output checks, run outside every timer.

crawl: the engine's committed tables against the package's pure-Python
  oracle (`oracle_crawl`) on the same fixture, round by round.
sched/steady: the scheduled set against an independent DuckDB recompute
  (exact anti-join on the generator's canonical URLs, then the per-host
  (depth, discovery_seq) quota rank).

Each check returns the list of mismatch descriptions per unit (round), so
the caller counts every failing unit into `failed`.
"""

from __future__ import annotations

import duckdb
import pyarrow.dataset as ds


# ------------------------------------------------------------------ crawl
def crawl_mismatches(engine_tables: dict, oracle, rounds: int
                     ) -> dict[int, list[str]]:
    """engine_tables: lists of row dicts for `fetched`, `failures`,
    `url_seen` (url) and `metrics`, read from the engine's store.
    Returns {round: [problem, ...]} for rounds 1..rounds."""
    bad: dict[int, list[str]] = {r: [] for r in range(1, rounds + 1)}
    key = ("url", "round", "depth", "discovery_seq", "image_id")

    def by_round(rows, fields):
        out: dict[int, list] = {}
        for r in rows:
            out.setdefault(r["round"], []).append(tuple(r[f] for f in fields))
        return out

    got_f = by_round(sorted(engine_tables["fetched"],
                            key=lambda r: (r["round"], r["depth"],
                                           r["discovery_seq"])), key)
    want_f = by_round(oracle.fetched, key)
    ffields = ("url", "round", "reason")
    got_x = {r: set(v) for r, v in
             by_round(engine_tables["failures"], ffields).items()}
    want_x = {r: set(v) for r, v in by_round(oracle.failures, ffields).items()}
    got_m = {m["round"]: m for m in engine_tables["metrics"]}
    want_m = {m["round"]: m for m in oracle.rounds}
    for r in bad:
        if got_f.get(r, []) != want_f.get(r, []):
            bad[r].append(f"fetched rows/order differ in round {r}")
        if got_x.get(r, set()) != want_x.get(r, set()):
            bad[r].append(f"failures differ in round {r}")
        g, w = got_m.get(r), want_m.get(r)
        if w is not None and (g is None or any(
                g[k] != w[k] for k in ("scheduled", "fetched_ok",
                                       "discovered", "new_urls",
                                       "frontier_size"))):
            bad[r].append(f"round metrics differ in round {r}")
    if {r["url"] for r in engine_tables["url_seen"]} != oracle.url_seen:
        bad[rounds].append("url_seen set differs")
    return bad


# ------------------------------------------------------------------ sched
def expected_schedule(fx: dict, round_no: int, round_seconds: float):
    """DuckDB recompute of one scheduling round over the fixture parquet:
    rows (url, fetch_slot, fetch_ts) sorted by url."""
    con = duckdb.connect()
    try:
        return con.execute(f"""
            WITH fresh AS (
              SELECT f.url, f.host, f.depth, f.discovery_seq
              FROM read_parquet('{fx["frontier"]}') f
              ANTI JOIN read_parquet('{fx["url_seen"]}') s ON f.url = s.url),
            hosts AS (
              SELECT host, crawl_delay,
                     CAST(floor({round_seconds} / crawl_delay) AS BIGINT)
                       AS quota
              FROM read_parquet('{fx["hosts"]}')),
            ranked AS (
              SELECT url, host, row_number() OVER (
                PARTITION BY host ORDER BY depth, discovery_seq) AS rn
              FROM fresh)
            SELECT r.url, CAST(r.rn - 1 AS INTEGER) AS fetch_slot,
                   {float(round_no) * round_seconds}
                     + (r.rn - 1) * h.crawl_delay AS fetch_ts
            FROM ranked r JOIN hosts h USING (host)
            WHERE r.rn <= h.quota
            ORDER BY r.url""").fetchall()
    finally:
        con.close()


def read_schedule(sink: str):
    tbl = ds.dataset(sink, format="parquet").to_table(
        columns=["url", "fetch_slot", "fetch_ts"])
    return sorted(zip(*(tbl.column(c).to_pylist()
                        for c in ("url", "fetch_slot", "fetch_ts"))))


def schedule_mismatches(got: list, want: list) -> list[str]:
    """Compare (url, fetch_slot, fetch_ts) rows; fetch_ts to 1e-6 s."""
    if len(got) != len(want):
        return [f"scheduled {len(got)} rows, expected {len(want)}"]
    for g, w in zip(got, want):
        if g[0] != w[0] or g[1] != w[1] or abs(g[2] - w[2]) > 1e-6:
            return [f"first differing row: got {g}, expected {w}"]
    return []
