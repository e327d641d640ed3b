"""Driver contract for the spark-graft builder (PySpark target).

`queries()` exposes one entry per implemented operator family from
SURVEY.md §2; `oracle_sql()` gives the DuckDB-equivalent SQL for every
SQL-expressible one. The keyword/threshold constants and the SQL strings
derive from the SAME Python constants (ai_intel_web_scraper_spark.operators
.text), so the two sides cannot drift.

Column-name and rounding discipline: every computed column is aliased
identically on both sides and floats are rounded (4-6 dp) inside BOTH
queries so the driver's order-insensitive value-hash matches.
"""

from __future__ import annotations

import os
from collections.abc import Callable

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ai_intel_web_scraper_spark.operators import chunking as C
from ai_intel_web_scraper_spark.operators import clustering as KM
from ai_intel_web_scraper_spark.operators import corpus as CP
from ai_intel_web_scraper_spark.operators import dedup as D
from ai_intel_web_scraper_spark.operators import export as EXP
from ai_intel_web_scraper_spark.operators import graph as G
from ai_intel_web_scraper_spark.operators import multimodal as MM
from ai_intel_web_scraper_spark.sources.sitemaps import (
    PRIORITY_RE as SITEMAP_PRIORITY_RE,
    SITEMAP_DEFAULT_PRIORITY_PPM as SITEMAP_DEFAULT_PPM)
from ai_intel_web_scraper_spark.operators import packing as PK
from ai_intel_web_scraper_spark.operators import pq as PQ
from ai_intel_web_scraper_spark.operators import queryanalysis as QA
from ai_intel_web_scraper_spark.operators import ranking as R
from ai_intel_web_scraper_spark.operators import sketches as SK
from ai_intel_web_scraper_spark.operators import stats as S
from ai_intel_web_scraper_spark.streaming import events as SE
from ai_intel_web_scraper_spark.functions import robots as RB
from ai_intel_web_scraper_spark.operators import temporal as TM
from ai_intel_web_scraper_spark.operators import text as X
from ai_intel_web_scraper_spark.operators import urlrules as _UR
from ai_intel_web_scraper_spark.operators import vectors as V
from ai_intel_web_scraper_spark.operators.spread import spread_scan as _sp

# ---------------------------------------------------------------- constants

REL_KEYWORDS = ["spark", "query", "data", "fast", "join"]
BUDGET_LINEITEM = 30000.0
BUDGET_EVENTS = 800.0
EMB_DIM = 64
_rngq = np.random.default_rng(99)
QUERY_VEC_A = [round(float(x), 3) for x in _rngq.standard_normal(EMB_DIM)]
QUERY_VEC_B = [round(float(x), 3) for x in _rngq.standard_normal(EMB_DIM)]
TOPK = 25


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# ------------------------------------------------------- SQL gen helpers

def _sql_contains_count(expr: str, words: list[str]) -> str:
    return "(" + " + ".join(
        "(CASE WHEN contains({}, '{}') THEN 1 ELSE 0 END)"
        .format(expr, w.lower().replace("'", "''"))
        for w in words) + ")"


def _sql_topic_score(expr: str, kws: list[str]) -> str:
    """Reference-fidelity topic score: weighted \\b-bounded match counts
    normalized by keyword count (mirrors X.topic_score_col)."""
    return ("(" + " + ".join(
        f"len(regexp_extract_all({expr}, '\\b{kw}\\b')) "
        f"* {X.topic_weight(kw)!r}" for kw in kws)
        + f") / {float(len(kws))!r}")


def _sql_vec_lit(vec: list[float]) -> str:
    return "[" + ", ".join(f"{x}::DOUBLE" for x in vec) + "]"


def _sql_words(col: str = "text") -> str:
    return f"regexp_split_to_array(trim({col}), '\\s+')"


def _sql_grams(n: int, arr: str = "w") -> str:
    """DuckDB word-n-gram list over a word-array column (1-based inclusive
    slices), generated from the operator-module constant so the oracle
    can never desynchronize from the engine's n."""
    return (f"list_transform(range(1, len({arr}) - {n - 2}), "
            f"i -> array_to_string({arr}[i:i+{n - 1}], ' '))")


# ---------------------------------------------------------------- queries

def q_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (li.where(F.col("l_shipdate") <= "1998-09-02")
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
                 F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
                 F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 4)
                 .alias("sum_disc_price"),
                 F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
                 F.count("*").alias("n_items")))


def q_docs_keep_first(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").withColumn(
        "content_key", F.md5(F.lower(F.trim(F.col("text")))))
    return (D.keep_first(docs, ["content_key"], ["doc_id"])
            .select("doc_id", "content_key"))


def q_events_keep_first(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (D.keep_first(ev, ["user_id"], ["ts", "event_id"])
            .select("user_id", "event_id", "event_type"))


def q_topic_tags(spark, sf_dir):
    """SURVEY P5 at reference fidelity: weighted \\b-bounded match counts,
    top-3 >= 0.01 with insertion-order tie-break, unclassified fallback."""
    return X.topic_scores(_sp(_t(spark, sf_dir, "documents")),
                          "doc_id", "text")


def q_quality_filter(spark, sf_dir):
    """SURVEY P6 at reference fidelity (quality_filter.py:67-138): the
    corpus is branch-synthesized so EVERY removal reason fires — word
    floor, no-topics (with the benchmark exemption kept), code-ratio on
    docs, boilerplate via both the phrase and the link-density rule."""
    docs = _sp(_t(spark, sf_dir, "documents"))
    words = F.split(F.trim("text"), r"\s+")
    branch = F.pmod(F.col("doc_id"), F.lit(7))
    lorem = F.repeat(F.lit("lorem ipsum "), 45)
    text2 = (F.when(branch == 1, F.concat_ws(" ", F.slice(words, 1, 10)))
             .when(branch == 2,
                   F.concat(F.lit("``` "), F.col("text"), F.lit(" ```")))
             .when(branch == 3,
                   F.concat(F.col("text"),
                            F.lit(" skip to content. table of contents. "
                                  "cookie policy.")))
             .when((branch == 4) | (branch == 5), lorem)
             .when(branch == 6,
                   F.concat(F.repeat(F.lit("/nav "), 20),
                            F.concat_ws(" ", F.slice(words, 1, 25))))
             .otherwise(F.col("text")))
    src = (F.when(branch == 4, "benchmark")
           .when((branch == 0) | (branch == 2), "docs")
           .otherwise("blog"))
    synth = docs.select("doc_id", text2.alias("t"), src.alias("src"))
    return synth.select(
        "doc_id", "src",
        X.quality_reason_col(F.col("t"), F.col("src"),
                             X.has_topics_col(F.col("t"))).alias("reason"))


def q_word_count(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id",
                       X.word_count_col(F.col("text")).cast("long").alias("wc"))


def q_relevance(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.round(X.relevance_score_col(F.col("text"), REL_KEYWORDS), 6)
        .alias("rel_score"))


def q_sentiment_counts(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return (docs.select(X.sentiment_label_col(F.col("text")).alias("label"))
            .groupBy("label").agg(F.count("*").alias("n")))


def q_budget_prefix(spark, sf_dir):
    # integer-cents accumulation: running FP sums differ in the last ulp
    # between engines (DuckDB windows use segment trees), so the budget
    # comparison is defined on exact integers
    li = _t(spark, sf_dir, "lineitem")
    cents = F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long")
    # (l_orderkey, l_linenumber) is not unique in this dataset; adding the
    # amount as tie-break makes the order total (equal amounts commute in
    # the running sum, so the kept multiset is well-defined)
    return (R.budget_prefix_filter(li.withColumn("_cents", cents),
                                   ["l_orderkey"],
                                   [F.col("l_linenumber").asc(),
                                    F.col("_cents").asc()],
                                   F.col("_cents"), BUDGET_LINEITEM * 100)
            .select("l_orderkey", "l_linenumber"))


def q_history_compaction(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + 0.5).cast("long")
    return (R.history_compaction(
        ev.withColumn("_ord", F.struct("ts", "event_id")),
        ["user_id"], "_ord", cents, BUDGET_EVENTS * 100)
        .select("user_id", "event_id"))


def q_rrf_fusion(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    sets = [emb.select("vec_id", R.dot_col("embedding", q).alias("score"))
            for q in (QUERY_VEC_A, QUERY_VEC_B)]
    return R.rrf_fuse(sets, "vec_id", k=20)


def q_topk_cosine(spark, sf_dir):
    return V.brute_force_topk(_t(spark, sf_dir, "embeddings"),
                              QUERY_VEC_A, TOPK)


def q_group_stats(spark, sf_dir):
    return S.group_stats(_t(spark, sf_dir, "orders"),
                         _t(spark, sf_dir, "customer"))


def q_cube_stats(spark, sf_dir):
    return S.cube_stats(_t(spark, sf_dir, "orders"))


def q_prefix_dup_groups(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        F.md5(F.concat_ws(" ", F.slice(F.split(F.trim("text"), r"\s+"),
                                       1, 3))).alias("content_key"))
    return (keyed.groupBy("content_key")
            .agg(F.count("*").alias("n_dups"), F.min("doc_id").alias("keep_id"))
            .where(F.col("n_dups") > 1))


def q_jaccard_top_pairs(spark, sf_dir):
    """Exact set-similarity top pairs at a REAL threshold via prefix
    filtering (guaranteed recall, ~quarter the join fanout of the
    all-shingles join at t=0.5 — the scale-safe call shape; the
    threshold=0 exactness baseline lives in D.jaccard_pairs + pytest)."""
    docs = _t(spark, sf_dir, "documents")
    pairs = D.jaccard_pairs_prefix(docs, "doc_id", "text", n=3,
                                   threshold=MINHASH_THRESHOLD)
    return (pairs.orderBy(F.desc("jaccard"), F.asc("id_a"), F.asc("id_b"))
            .limit(20))


def q_lang_id(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return (docs.select("lang", X.lang_id_col(F.col("text")).alias("predicted"))
            .groupBy("lang", "predicted").agg(F.count("*").alias("n")))


def q_token_count(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id",
                       X.token_count_col(F.col("text")).cast("long")
                       .alias("n_tokens"))


def q_fingerprint_stats(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct(X.fingerprint_col(F.col("text"))).alias("n_distinct"))


def q_quality_score(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id",
                       X.quality_score_col(F.col("text")).alias("qscore"))


def q_text_metrics(spark, sf_dir):
    """Consolidated per-document text metrics — one driver slot exercising
    six operators (SURVEY P3 word count, C14 relevance, V1 token count,
    quality score, language ID, fingerprint) that each also keep their own
    standalone queries()/oracle entries past the driver's 50-query window."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        X.word_count_col(F.col("text")).cast("long").alias("wc"),
        F.round(X.relevance_score_col(F.col("text"), REL_KEYWORDS), 6)
        .alias("rel_score"),
        X.token_count_col(F.col("text")).cast("long").alias("n_tokens"),
        X.quality_score_col(F.col("text")).alias("qscore"),
        X.lang_id_col(F.col("text")).alias("predicted"),
        X.fingerprint_col(F.col("text")).alias("fp"))


def q_metadata_sanitize(spark, sf_dir):
    """SURVEY V10 at its declared export boundary (reference
    vectorstore/store.py:335-381): build a chunk-metadata-shaped frame
    (ordered topic_ids array, primary_topic with 'unclassified' fallback,
    nullable date + string columns), then flatten it for a scalar-only
    store — arrays -> CSV, dates -> yyyy-MM-dd, nulls -> ''."""
    docs = _t(spark, sf_dir, "documents")
    tags = (X.topic_scores(docs, "doc_id", "text")
            .where(F.col("topic") != "unclassified"))
    # deterministic list order on BOTH sides: score desc, topic asc
    lists = (tags.groupBy("doc_id")
             .agg(F.array_sort(F.collect_list(F.struct(
                 (-F.col("score")).alias("neg"), F.col("topic")))).alias("s"))
             .select("doc_id",
                     F.transform("s", lambda x: x["topic"])
                     .alias("topic_ids")))
    meta = (docs.join(lists, "doc_id", "left")
            .select(
                "doc_id",
                "topic_ids",
                F.coalesce(F.element_at("topic_ids", 1),
                           F.lit("unclassified")).alias("primary_topic"),
                # synthesized nullable date/string exercise None -> ''
                F.when(F.pmod("doc_id", F.lit(7)) == 0,
                       F.lit(None).cast("date"))
                 .otherwise(F.date_add(F.lit("2024-01-01").cast("date"),
                                       F.pmod("doc_id", F.lit(365))
                                       .cast("int")))
                 .alias("content_date"),
                F.when(F.pmod("doc_id", F.lit(5)) == 0,
                       F.lit(None).cast("string"))
                 .otherwise(F.col("source")).alias("source_type"),
                "n_chars"))
    return EXP.sanitize_for_scalar_store(meta)


# R5 synthetic "LLM response" body — ONE template shared by the Spark
# query (format_string) and the DuckDB oracle (printf) so they cannot
# drift; args: intent, doc_id, doc_id, hyde-json-fragment, doc_id.
QA_JSON_TEMPLATE = (
    '{"intent":"%s","competitors_mentioned":["kx","questdb"],'
    '"topics":[],"sub_queries":["sub %d a","sub %d b"],'
    '"hyde_passage":%s,"reasoning":"ok %d"}')


def q_query_analysis(spark, sf_dir):
    """SURVEY R5 — query analysis, the deterministic layers (reference
    webapp/rag/query_engine.py:858-884 + prompts.py:11-35). Synthesizes
    per document a user query (4 intent-shaped templates over the doc's
    first word) and a raw 'LLM response' exercising every repair path
    (plain / fenced / single-line fence / padded / truncated-malformed /
    non-JSON prose), then applies the reference fence-strip + JSON parse
    with the documented fallback (layer 1) and the rule-based analyzer
    (layer 2). Pure scalar projections — no UDF, no shuffle."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    did = F.col("doc_id")
    w1 = F.lower(F.element_at(F.split(F.trim(F.col("text")), r"\s+"), 1))
    q = (F.when(did % 4 == 0, F.format_string(
            "how does questdb compare to clickhouse for %s workloads", w1))
         .when(did % 4 == 1, F.format_string(
            "what is the ingest throughput benchmark of kx on %s", w1))
         .when(did % 4 == 2, F.format_string(
            "prospect worried about clickhouse licensing and %s", w1))
         .otherwise(F.format_string("tell me about %s internals", w1)))
    intent_lit = (F.when(did % 2 == 0, F.lit("factual"))
                  .otherwise(F.lit("comparison")))
    hyde = (F.when(did % 2 == 0, F.lit("null"))
            .otherwise(F.format_string('"h%d"', did)))
    body = F.format_string(QA_JSON_TEMPLATE, intent_lit, did, did, hyde, did)
    v = did % 6
    raw = (F.when(v == 0, body)
           .when(v == 1, F.concat(F.lit("```json\n"), body, F.lit("\n```")))
           .when(v == 2, F.substring(body, 1, 40))
           .when(v == 3, F.concat(F.lit("```"), body, F.lit("```")))
           .when(v == 4, F.concat(F.lit("  \n"), body, F.lit("\n  ")))
           .otherwise(F.lit("LLM said: the answer is not JSON")))
    base = docs.select("doc_id", q.alias("user_query"), raw.alias("raw"))
    return base.select(
        "doc_id", "user_query",
        *QA.repaired_analysis_cols(F.col("raw"), F.col("user_query")),
        *QA.rule_analysis_cols(F.col("user_query")))


def q_paginated_preseed(spark, sf_dir):
    return (spark.range(2, 100)
            .select(F.col("id").cast("long").alias("page"),
                    F.concat(F.lit("https://blog.example/posts?paged="),
                             F.col("id").cast("string")).alias("url")))


def q_user_quota(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (R.quota_window(ev, ["user_id", "event_type"],
                           [F.col("ts").asc(), F.col("event_id").asc()], 3)
            .select("user_id", "event_type", "event_id"))


def q_json_extract(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.select("event_id",
                     F.get_json_object("props", "$.k").alias("k_val"))


def q_source_status(spark, sf_dir):
    return S.source_status(_t(spark, sf_dir, "documents"))


def q_token_window_chunks(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return C.token_window_chunks(docs, "doc_id", "text")


def q_record_ids(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        X.record_id_col(F.col("source"), F.lit("doc"), F.col("text"))
        .alias("rid"))


def q_date_extraction(spark, sf_dir):
    """SURVEY P4 over synthesized prose: orders dates are rendered into text
    in one of the three reference formats, then mined back out."""
    o = _t(spark, sf_dir, "orders")
    branch = F.pmod(F.col("o_orderkey"), F.lit(3))
    txt = (F.when(branch == 0,
                  F.concat(F.lit("posted "),
                           F.date_format("o_orderdate", "yyyy-MM-dd"),
                           F.lit(" by admin")))
           .when(branch == 1,
                 F.concat(F.lit("updated "),
                          F.date_format("o_orderdate", "MM/dd/yyyy"),
                          F.lit(" midway")))
           .otherwise(F.concat(F.lit("released "),
                               F.date_format("o_orderdate", "MMM dd, yyyy"),
                               F.lit(" to all"))))
    return o.select("o_orderkey",
                    X.extract_date_col(txt).alias("content_date"))


def q_url_classify(spark, sf_dir):
    """SURVEY C5/C12/C13: URL router over deterministic URLs derived from
    document texts (slug = first three words)."""
    from ai_intel_web_scraper_spark.operators import urlrules as UR
    docs = _t(spark, sf_dir, "documents")
    words = F.split(F.trim("text"), r"\s+")
    slug = F.array_join(F.slice(words, 1, 3), "-")
    word1 = F.element_at(words, 1)
    base = "https://blog.example/"
    branch = F.pmod(F.col("doc_id"), F.lit(4))
    url = (F.when(branch == 0, F.concat(F.lit(base + "tags/"), slug))
           .when(branch == 1, F.concat(F.lit(base), slug))
           .when(branch == 2, F.concat(F.lit(base + "2021/"), word1))
           .otherwise(F.concat(F.lit(base + "img-"),
                               F.col("doc_id").cast("string"),
                               F.lit(".png"))))
    return docs.select("doc_id", url.alias("url"),
                       UR.classify_url_col(url).alias("kind"))


def q_html_extract(spark, sf_dir):
    """SURVEY P1 (the reference's most-executed operator,
    scrapers/utils.py:120-246): HTML pages are synthesized from document
    texts across four structural branches — article+chrome strip,
    main-fallback with heading+list, code-fence+table preservation, and
    body-fallback with script strip — then run through the real stdlib-DOM
    extractor; the oracle predicts (title, text) exactly."""
    from ai_intel_web_scraper_spark.operators.html import html_extract
    docs = _sp(_t(spark, sf_dir, "documents"))
    words = F.split(F.trim("text"), r"\s+")
    w1, w2, w3 = (F.element_at(words, i) for i in (1, 2, 3))
    b = F.pmod(F.col("doc_id"), F.lit(4))
    did = F.col("doc_id").cast("string")
    page = (F.when(b == 0, F.concat(
                F.lit('<html><head><title>Doc '), did,
                F.lit('</title></head><body><nav>HOME | ABOUT</nav>'
                      '<article><h2>Section '), w1,
                F.lit('</h2><p>'), F.col("text"),
                F.lit('</p><div class="cookie-banner">Accept cookies</div>'
                      '</article><footer>foot</footer></body></html>')))
            .when(b == 1, F.concat(
                F.lit('<html><head><title></title></head><body><main>'
                      '<h1>'), w1,
                F.lit('</h1><ul><li>'), w2, F.lit('</li><li>'), w3,
                F.lit('</li></ul><p>'), F.col("text"),
                F.lit('</p></main></body></html>')))
            .when(b == 2, F.concat(
                F.lit('<body><article><pre class="language-sql">SELECT '),
                w1,
                F.lit('</pre><table><tr><th>k</th><th>v</th></tr><tr><td>'),
                w1, F.lit('</td><td>'), w2,
                F.lit('</td></tr></table></article></body>')))
            .otherwise(F.concat(
                F.lit('<html><body><script>var x=1;</script><div><p>'),
                F.col("text"),
                F.lit('</p></div><aside>side</aside></body></html>'))))
    pages = docs.select("doc_id", page.alias("page_html"))
    out = html_extract(pages, "page_html")
    return out.select("doc_id", "title", F.col("text").alias("extracted"))


def q_reddit_source(spark, sf_dir):
    """SURVEY S5 (community_scraper.py:64-176): Reddit search-wave
    ingestion — two waves over the same posts (global then subreddit
    re-search, the second carrying a visible score delta) so the
    order-sensitive keep-first URL dedup is value-checked, then the full
    record build: '# title\\n\\nselftext', the 10-word floor, the
    margin-rule sentiment, utc->date."""
    from ai_intel_web_scraper_spark.sources.community import reddit_records
    docs = _t(spark, sf_dir, "documents")
    w = F.split(F.trim("text"), r"\s+")

    def wave(seq_off, score_off):
        return docs.select(
            F.concat(F.lit("/r/sub"),
                     F.pmod("doc_id", F.lit(5)).cast("string"),
                     F.lit("/comments/"),
                     F.col("doc_id").cast("string")).alias("permalink"),
            F.concat_ws(" ", F.slice(w, 1, 4)).alias("title"),
            F.when(F.pmod("doc_id", F.lit(3)) != 0, F.col("text"))
            .otherwise(F.lit("")).alias("selftext"),
            F.concat(F.lit("sub"),
                     F.pmod("doc_id", F.lit(5)).cast("string"))
            .alias("subreddit"),
            (F.pmod("n_chars", F.lit(500)) + score_off).cast("int")
            .alias("score"),
            F.pmod("doc_id", F.lit(50)).cast("int").alias("num_comments"),
            F.concat(F.lit("u"), F.pmod("doc_id", F.lit(97)).cast("string"))
            .alias("author"),
            (F.lit(1600000000.0) + F.col("doc_id") * 1000).alias("created_utc"),
            (F.col("doc_id") + seq_off).alias("query_seq"))

    posts = wave(0, 0).unionByName(wave(1_000_000, 1000))
    return (reddit_records(posts, "acme")
            .select("id", "url", "title", "content_date", "sentiment",
                    "word_count", "subreddit", "score"))


def q_hn_source(spark, sf_dir):
    """SURVEY S6 (community_scraper.py:178-292): HN hits + items ->
    records. The comment child-fetch is a points>5 CONDITIONAL join; two
    hit waves exercise the seen-id keep-first; HTML-strip, '**author**:'
    formatting, top-5 '---' assembly, and the sentiment-over-comments all
    value-checked."""
    from ai_intel_web_scraper_spark.sources.community import hn_records
    docs = _t(spark, sf_dir, "documents")
    w = F.split(F.trim("text"), r"\s+")

    def mkcom(k):
        return F.struct(
            F.lit(k).alias("comment_seq"), F.lit(f"c{k}").alias("author"),
            F.concat(F.lit("<p>"),
                     F.concat_ws(" ", F.slice(w, 7 + 3 * k, 3)),
                     F.lit("</p>")).alias("text"))

    comments = (docs.where(F.pmod("doc_id", F.lit(2)) == 0)
                .select(F.col("doc_id").cast("string").alias("story_id"),
                        F.explode(F.array(mkcom(0), mkcom(1), mkcom(2)))
                        .alias("c"))
                .select("story_id", "c.comment_seq", "c.author", "c.text"))

    def wave(seq_off, pts_off):
        return docs.select(
            F.col("doc_id").cast("string").alias("objectID"),
            F.concat_ws(" ", F.slice(w, 1, 5)).alias("title"),
            F.when(F.pmod("doc_id", F.lit(4)) == 0, F.lit(""))
            .otherwise(F.concat(F.lit("https://orig.example/p/"),
                                F.col("doc_id").cast("string"))).alias("url"),
            (F.pmod("doc_id", F.lit(20)) + pts_off).cast("int")
            .alias("points"),
            F.pmod("doc_id", F.lit(30)).cast("int").alias("num_comments"),
            F.concat(F.lit("a"), F.pmod("doc_id", F.lit(7)).cast("string"))
            .alias("author"),
            (F.col("doc_id") + seq_off).alias("query_seq"))

    hits = wave(0, 0).unionByName(wave(1_000_000, 1000))
    return (hn_records(hits, comments, "acme")
            .select("id", "url", "title", "text", "sentiment", "word_count",
                    "points", "n_top_comments"))


def q_bench_numbers(spark, sf_dir):
    """SURVEY P14: regex-mine (value, unit) perf figures from prose built
    over events rows."""
    ev = _t(spark, sf_dir, "events")
    txt = F.concat(F.lit("ingest ran at "),
                   F.col("value").cast("decimal(10,2)").cast("string"),
                   F.lit(" ms sustained "),
                   F.col("user_id").cast("string"), F.lit(" QPS"))
    mined = X.mine_metrics(ev.select("event_id", txt.alias("t")),
                           "event_id", "t")
    return mined.select("event_id", "pos",
                        F.round("metric_value", 2).alias("metric_value"),
                        "unit")


def _ship_top10(spark, sf_dir):
    """TPC-H Q3 shape: 3-table join (broadcast dim -> fact), filtered on
    both sides of the join, grouped revenue, global top-10 (heap top-k).
    Shared by the r4 isolation experiment below — the key formerly named
    `shipping_priority` was driver-hash-red three consecutive rounds
    under three distinct value formulations while passing the repo's
    DuckDB gate at both scales, with rows/schema always matching. r4
    changes the EXPERIMENT, not the arithmetic: the query is re-keyed
    (rules out name-keyed driver handling) and split so each output
    column is hash-checked in isolation."""
    cust = (_t(spark, sf_dir, "customer")
            .where(F.col("c_mktsegment") == "BUILDING")
            .select("c_custkey"))
    orders = (_t(spark, sf_dir, "orders")
              .where(F.col("o_orderdate") < "1998-01-01")
              .select("o_orderkey", "o_custkey", "o_orderdate"))
    li = (_t(spark, sf_dir, "lineitem")
          .where(F.col("l_shipdate") > "1996-01-01")
          .select("l_orderkey", "l_extendedprice", "l_discount"))
    # Exact hundredth-cent units, round()-free (r5): floor(x*100 + 0.5)
    # uses only IEEE-exact ops (multiply, add, floor) so it is HALF_UP
    # by construction on every engine AND every engine version. The r4
    # probes pinned the historical red to this column; r5 sweeps showed
    # the container's DuckDB 1.0.0 round() actually AGREES with Spark on
    # 16k adversarial doubles — the divergence is version-dependent:
    # newer DuckDB rounds DOUBLE half-even, disagreeing with Spark's
    # HALF_UP exactly at .5 ties (tests/test_quantize.py pins this).
    cents = (F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long")
             * (100 - F.floor(F.col("l_discount") * 100 + 0.5).cast("long")))
    return (orders.join(F.broadcast(cust),
                        orders["o_custkey"] == cust["c_custkey"])
            .join(li, orders["o_orderkey"] == li["l_orderkey"])
            .groupBy("o_orderkey", "o_orderdate")
            .agg(F.sum(cents).alias("revenue_cents"))
            .orderBy(F.desc("revenue_cents"), F.asc("o_orderkey"))
            .limit(10))


def q_top_revenue_orders(spark, sf_dir):
    """The re-keyed main query: all-integer output. The one column
    unchanged across all three failed `shipping_priority` attempts was
    the yyyy-MM-dd date STRING rendered from a TIMESTAMP_NTZ parquet
    column — here it becomes `cast(date_format(.., 'yyyyMMdd') as int)`
    so no string/timestamp canonicalization can enter the value hash."""
    return _ship_top10(spark, sf_dir).select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyyMMdd").cast("int")
        .alias("odate_int"),
        "revenue_cents")


def q_ship_probe_date(spark, sf_dir):
    """Diagnostic probe A: ONLY the historical date-string column (the
    exact rendering all three red rounds shared), keyed by o_orderkey.
    If `top_revenue_orders` goes green while this stays red, the
    divergent column is pinned in writing."""
    return _ship_top10(spark, sf_dir).select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"))


def q_ship_probe_revenue(spark, sf_dir):
    """Diagnostic probe B: ONLY the integer revenue column."""
    return _ship_top10(spark, sf_dir).select("o_orderkey", "revenue_cents")


# Shared DuckDB CTE for the isolation queries above. r5: quantization is
# round()-free on BOTH engines (see _ship_top10) — floor/+/* are
# IEEE-exact, so the cents value is engine-independent for any input.
_SHIP_TOP10_SQL = """
    SELECT o_orderkey, o_orderdate,
           sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
               * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)))
               AS revenue_cents
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01'
      AND l_shipdate > TIMESTAMP '1996-01-01'
    GROUP BY o_orderkey, o_orderdate
    ORDER BY revenue_cents DESC, o_orderkey LIMIT 10"""


def q_nation_coverage(spark, sf_dir):
    """Set-difference (EXCEPT) + broadcast dim join: nations that have
    customers but no high-balance supplier."""
    cust = (_t(spark, sf_dir, "customer")
            .select(F.col("c_nationkey").alias("nationkey")).distinct())
    supp = (_t(spark, sf_dir, "supplier")
            .where(F.col("s_acctbal") > 9000)
            .select(F.col("s_nationkey").alias("nationkey")).distinct())
    nation = _t(spark, sf_dir, "nation")
    return (cust.subtract(supp)
            .join(F.broadcast(nation),
                  F.col("nationkey") == F.col("n_nationkey"))
            .select("nationkey", "n_name"))


def q_global_budget(spark, sf_dir):
    """SURVEY P12: credibility-sort + char-budget analog — biggest docs
    first, keep while the running char total stays under budget. Global
    (unpartitioned) window; at cluster scale this becomes a two-phase
    per-partition prefix + offset join, same semantics."""
    docs = _t(spark, sf_dir, "documents")
    return (R.budget_prefix_filter(
        docs, [], [F.col("n_chars").desc(), F.col("doc_id").asc()],
        F.col("n_chars"), 50000.0)
        .select("doc_id", "n_chars"))


def q_boilerplate_clean(spark, sf_dir):
    """SURVEY P2 over synthesized boilerplate: cookie/newsletter/social/©
    chrome is injected around each document, then stripped natively."""
    docs = _t(spark, sf_dir, "documents")
    dirty = F.concat(F.lit("Accept all cookies to continue. "),
                     F.col("text"),
                     F.lit(" Subscribe to our newsletter for updates! "
                           "Follow us on twitter © 2024 Example Corp"))
    return docs.select(
        "doc_id", X.clean_boilerplate_col(dirty).alias("cleaned"))


def q_topic_fanout(spark, sf_dir):
    """SURVEY P11: invert doc->topics into topic->ordered doc list."""
    docs = _t(spark, sf_dir, "documents")
    tags = X.topic_scores(docs, "doc_id", "text")
    return (tags.groupBy("topic")
            .agg(F.count("*").alias("n_docs"),
                 F.array_join(
                     F.transform(F.sort_array(F.collect_list("doc_id")),
                                 lambda x: x.cast("string")), ",")
                 .alias("doc_ids")))


def q_chunk_dispatch(spark, sf_dir):
    """SURVEY V2/V3 (reference chunker.py:171-216,296-328): source-type
    routing over a branch-synthesized corpus — docs (hierarchy path), blog
    (header re-carry), release (single), issue (comment packing), unknown
    (generic fallback). All synthesized sections stay under the chunk
    budget so the oracle predicts each chunk string exactly."""
    docs = _t(spark, sf_dir, "documents")
    w = F.split(F.trim("text"), r"\s+")

    def j(c):
        return F.concat_ws(" ", c)

    f8, f12 = j(F.slice(w, 1, 8)), j(F.slice(w, 1, 12))
    f12b, f10 = j(F.slice(w, 5, 12)), j(F.slice(w, 1, 10))
    f20, f30 = j(F.slice(w, 1, 20)), j(F.slice(w, 1, 30))
    b = F.pmod(F.col("doc_id"), F.lit(5))
    title = F.concat(F.lit("T"), F.col("doc_id").cast("string"))
    sec_text = F.concat(f8, F.lit("\n## Alpha\n"), f12,
                        F.lit("\n### Beta\n"), f12b)
    text2 = (F.when((b == 0) | (b == 1), sec_text)
             .when(b == 2, f30).when(b == 3, f10).otherwise(f20))
    stype = (F.when(b == 0, "docs").when(b == 1, "blog")
             .when(b == 2, "release").when(b == 3, "issue")
             .otherwise("note"))
    comments = (F.when(b == 3, F.array(j(F.slice(w, 1, 6)),
                                       j(F.slice(w, 4, 6)),
                                       j(F.slice(w, 7, 6))))
                .otherwise(F.array().cast("array<string>")))
    synth = docs.select("doc_id", text2.alias("text"), title.alias("title"),
                        stype.alias("stype"), comments.alias("comments"),
                        F.lit("open").alias("state"))
    return C.dispatch_chunks(synth, "doc_id", "text", "title", "stype",
                             comments_col="comments", state_col="state")


def q_bin_pack(spark, sf_dir):
    """SURVEY V6: greedy token-budget bin packing of each user's events in
    time order (applyInPandas per group). The running reset is linear-
    recursive, so the oracle walks it with a DuckDB recursive CTE."""
    ev = _t(spark, sf_dir, "events")
    weighted = ev.select("user_id", "ts", "event_id",
                         F.pmod(F.col("event_id"), F.lit(9)).cast("int")
                         .alias("w"))
    return (C.greedy_bin_pack(weighted, ["user_id"], ["ts", "event_id"],
                              "w", budget=20)
            .select("user_id", "event_id", "bin_index"))


def _events_cents(s):
    return s.withColumn(
        "value", F.floor(F.col("value") * 100 + 0.5).cast("long").cast("double"))


def q_stream_windowed_counts(spark, sf_dir):
    """Structured Streaming tumbling-window counts driven to completion over
    a file source; oracle = epoch-aligned date_trunc buckets (Spark's
    F.window aligns to the epoch). Values in exact cents so the hash
    comparison is FP-safe."""
    from ai_intel_web_scraper_spark.streaming.events import (run_stream_once,
                                                             windowed_counts)
    rows = run_stream_once(
        spark, os.path.join(sf_dir, "events.parquet"),
        lambda s: windowed_counts(_events_cents(s)))
    return spark.createDataFrame(rows)


def q_stream_enrich(spark, sf_dir):
    """Stream-static broadcast enrichment (r4): the canonical Structured
    Streaming join shape — event stream joined to a constant-size
    category dim broadcast into every micro-batch, then watermarked
    tumbling-window counts/cent-sums per category
    (`streaming/events.py::enriched_windowed_counts`). Oracle = the
    identical batch SQL with the mapping inlined as a literal relation
    (stream must equal batch)."""
    from ai_intel_web_scraper_spark.streaming.events import (
        enriched_windowed_counts, run_stream_once)
    rows = run_stream_once(
        spark, os.path.join(sf_dir, "events.parquet"),
        lambda s: enriched_windowed_counts(_events_cents(s), spark))
    return spark.createDataFrame(
        rows, "win_start timestamp, win_end timestamp, category string, "
              "n long, total_value double")


def q_stream_hll(spark, sf_dir):
    """Streaming HLL registers: per-hour distinct-user sketch state under
    a watermark, driven to completion over a file source. Oracle = the
    identical register math over epoch-aligned date_trunc buckets — the
    streaming incremental update must land on exactly the batch sketch
    (registers merge by max across micro-batches)."""
    from ai_intel_web_scraper_spark.streaming.events import (
        run_stream_once, windowed_hll_registers)
    rows = run_stream_once(spark, os.path.join(sf_dir, "events.parquet"),
                           windowed_hll_registers)
    return spark.createDataFrame(
        rows, "win_start timestamp, win_end timestamp, "
              "bucket int, max_rho int")


def q_stream_sessions(spark, sf_dir):
    """Structured Streaming gap-based session windows (session_window);
    oracle = SQL islands (lag >= gap starts a new island, cumulative-sum
    session ids). Session end = last event + gap, matching Spark."""
    from ai_intel_web_scraper_spark.streaming.events import (run_stream_once,
                                                             session_rollup)
    rows = run_stream_once(
        spark, os.path.join(sf_dir, "events.parquet"),
        lambda s: session_rollup(_events_cents(s), gap="30 minutes"))
    return spark.createDataFrame(rows)


def q_stream_dedup(spark, sf_dir):
    """Structured Streaming dedup: dropDuplicates over watermark-bounded
    state (the streaming url_seen analog). Emits the distinct key pairs —
    oracle = batch DISTINCT."""
    from ai_intel_web_scraper_spark.streaming.events import (
        run_stream_once, stream_distinct_keys)
    rows = run_stream_once(
        spark, os.path.join(sf_dir, "events.parquet"),
        stream_distinct_keys, output_mode="append")
    return spark.createDataFrame(rows)


def q_length_quantiles(spark, sf_dir):
    """Exact interpolated percentiles per group (corpus length profiling —
    the training-data analog of the reference's status accounting)."""
    docs = _t(spark, sf_dir, "documents")
    return (docs.groupBy("source")
            .agg(F.count("*").alias("n_docs"),
                 F.round(F.expr("percentile(n_chars, 0.5)"), 4).alias("p50"),
                 F.round(F.expr("percentile(n_chars, 0.9)"), 4).alias("p90")))


def q_sql_top_events(spark, sf_dir):
    """The engine's SQL surface: the same catalog the DataFrame API uses,
    driven through spark.sql text (windowed top-1 per user). Identical SQL
    runs on DuckDB as the oracle."""
    _t(spark, sf_dir, "events").createOrReplaceTempView("events_v")
    return spark.sql("""
        SELECT user_id, event_id, event_type, cents FROM (
          SELECT user_id, event_id, event_type,
                 CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY value DESC, event_id) AS rn
          FROM events_v) WHERE rn = 1""")


def q_process_pipeline(spark, sf_dir):
    """SURVEY §3.2 lifecycle composite (reference pipeline.py:161-223):
    clean -> quality-filter -> exact dedup, with per-stage record accounting
    (P10). One DAG; counts emitted as (stage, n) rows."""
    docs = _t(spark, sf_dir, "documents")
    cleaned = docs.select(
        "doc_id", X.clean_boilerplate_col(F.col("text")).alias("text"))
    kept = (X.quality_filter(cleaned, "text")
            .where(F.col("reason") == "kept").drop("reason"))
    deduped = D.keep_first(
        kept.withColumn("fp", X.fingerprint_col(F.col("text"))),
        ["fp"], ["doc_id"])
    stages = [("1_raw", docs), ("2_quality_kept", kept),
              ("3_deduped", deduped)]
    out = None
    for name, df in stages:
        c = df.agg(F.count("*").alias("n")).select(
            F.lit(name).alias("stage"), "n")
        out = c if out is None else out.unionByName(c)
    return out


def q_stream_budget_state(spark, sf_dir):
    """Custom stateful streaming operator (applyInPandasWithState): per-user
    running totals in the state store; single trigger here so the final
    emission per user equals the batch aggregate (multi-batch accumulation
    is covered by tests/test_streaming.py). Values in exact cents."""
    from ai_intel_web_scraper_spark.streaming.events import (
        run_stream_once, running_budget_state)
    rows = run_stream_once(
        spark, os.path.join(sf_dir, "events.parquet"),
        lambda s: running_budget_state(_events_cents(s), budget=80000.0),
        output_mode="update")
    return spark.createDataFrame(rows)


def q_new_docs_anti(spark, sf_dir):
    """SURVEY C2 shape: exact anti-join of candidate fingerprints against a
    seen-set (the url_seen membership pattern on the documents table)."""
    docs = _t(spark, sf_dir, "documents")
    fp = X.fingerprint_col(F.col("text"))
    seen = (docs.where(F.col("doc_id") < 50)
            .select(fp.alias("fp")).distinct())
    return (docs.select("doc_id", fp.alias("fp"))
            .join(seen, "fp", "left_anti")
            .select("doc_id"))


# ------------------------------------------------------- rows-only queries

MINHASH_THRESHOLD = 0.5  # fixture near-dups sit at j>=0.98, next at 0.067:
# LSH recall at j>=0.98 is 1-(1-0.98^4)^16 ~ 1-2e-18, so the thresholded
# candidate set equals the exact-Jaccard pair set and is SQL-checkable.
SIMHASH_MAX_HAMMING = 6  # 7 blocks x ~8.6 bits over the 60-bit signature;
# wider blocks = fewer candidates (the guaranteed-recall cost knob)


def q_minhash_pairs(spark, sf_dir):
    """MinHash-LSH near-dup pair ids at est_jaccard >= threshold. The
    estimate itself is UDF-random-family-bound, so the checked projection
    is the pair set (deterministic at this margin); est values are covered
    by tests/test_operators.py."""
    docs = _t(spark, sf_dir, "documents")
    cand = D.minhash_neardup_pairs(docs, "doc_id", "text")
    return (cand.where(F.col("est_jaccard") >= MINHASH_THRESHOLD)
            .select("id_a", "id_b"))


def q_minhash_verified(spark, sf_dir):
    """LSH candidates -> exact-Jaccard verify (estimate prunes, exact
    decides). The exact jaccard column reproduces in DuckDB."""
    docs = _t(spark, sf_dir, "documents")
    return (D.minhash_verified_pairs(docs, "doc_id", "text",
                                     threshold=MINHASH_THRESHOLD)
            .select("id_a", "id_b", "jaccard"))


def q_incremental_dedup(spark, sf_dir):
    """Incremental (delta-vs-index) near-dup detection (r4): documents
    split deterministically into an indexed corpus (doc_id % 5 != 0) and
    this round's new batch (% 5 == 0); only the NEW batch is shingled
    and probed against the index's band rows
    (`dedup.incremental_minhash_verified` — the continuous-crawl shape
    whose per-round cost scales with the delta). Output = exact-verified
    pairs spanning new-vs-index or new-vs-new, never index-vs-index;
    the oracle recomputes exact Jaccard over all pairs in SQL and
    applies the same boundary restriction."""
    docs = _t(spark, sf_dir, "documents")
    new = docs.where(F.col("doc_id") % 5 == 0)
    idx = docs.where(F.col("doc_id") % 5 != 0)
    return D.incremental_minhash_verified(new, idx, "doc_id", "text",
                                          threshold=MINHASH_THRESHOLD)


def q_minhash_greedy(spark, sf_dir):
    """SURVEY P9 end-to-end (reference deduplicator.py:105-158): MinHash-LSH
    candidates -> EXACT insert-order greedy keep (connected components +
    per-component sequential resolution). Oracle note: on this fixture the
    only multi-edge component is a triangle, where greedy == drop-every-
    id_b (verified); bridge-chain divergence is covered by
    tests/test_operators.py parity on randomized graphs."""
    docs = _t(spark, sf_dir, "documents")
    cand = (D.minhash_neardup_pairs(docs, "doc_id", "text")
            .where(F.col("est_jaccard") >= MINHASH_THRESHOLD))
    return (D.greedy_chain_dedup(docs.select("doc_id"), cand,
                                 "doc_id", "doc_id")
            .orderBy("doc_id"))


def q_simhash_pairs(spark, sf_dir):
    """SimHash near-dup with guaranteed-recall block LSH; the md5-based
    60-bit signature recomputes in pure SQL, so the oracle brute-forces
    all pairs and must agree exactly (pigeonhole recall is not
    probabilistic)."""
    docs = _t(spark, sf_dir, "documents")
    return (D.simhash_neardup_pairs(docs, "doc_id", "text",
                                    max_hamming=SIMHASH_MAX_HAMMING)
            .select("id_a", "id_b", F.col("hamming").cast("int")
                    .alias("hamming")))


def q_ann_lsh_topk(spark, sf_dir):
    return V.lsh_topk(_t(spark, sf_dir, "embeddings"), QUERY_VEC_A, TOPK)


def q_ann_ivf_topk(spark, sf_dir):
    """IVF-family ANN (coarse quantizer -> probe n_probe inverted lists ->
    exact re-rank), completing the ANN trio next to brute-force and
    multi-probe LSH. Assignment argmax and the probe ranking reproduce in
    SQL from the same deterministic codebook."""
    return V.ivf_topk(_t(spark, sf_dir, "embeddings"), QUERY_VEC_A, TOPK)


def q_pq_topk(spark, sf_dir):
    """Product-quantization ANN: per-subspace integer k-means codebooks
    (4 x 16-dim, 8 centroids -> 4-byte codes, 64x compression), one
    narrow encode map, and asymmetric-distance top-k computed from the
    CODES ALONE via an inlined integer distance table — the FAISS IVF-PQ
    building block, with every emitted value an exact 64-bit integer so
    the DuckDB oracle (4 Lloyd chains + independent dt recompute)
    hash-matches the full train->encode->score chain."""
    return PQ.pq_topk(_t(spark, sf_dir, "embeddings"), QUERY_VEC_A, TOPK)


def q_ivf_pq_topk(spark, sf_dir):
    """IVF-PQ — the full production ANN: k-means coarse quantizer
    partitions the corpus into inverted lists (cluster id = partition key
    at scale), the query probes the n_probe nearest lists by integer
    distance, and ranking inside them is ADC over the 4-byte PQ codes.
    Integer-exact end to end; the oracle replays coarse Lloyd + probe +
    4 subspace chains + an independent distance table."""
    return PQ.ivf_pq_topk(_t(spark, sf_dir, "embeddings"),
                          QUERY_VEC_A, TOPK)


def q_ann_ivf_trained(spark, sf_dir):
    """IVF with a TRAINED coarse quantizer — the production FAISS shape
    (train k-means, then index): `clustering.kmeans_fit` learns the
    integer codebook, `dequantize` lifts it to exact dyadic doubles, and
    the standard IVF probe + exact re-rank runs against it. The oracle
    replays the whole chain — Lloyd CTEs, dequantize, round-9 argmax,
    probe, round-6 re-rank — in SQL."""
    emb = _t(spark, sf_dir, "embeddings")
    cents = KM.dequantize(KM.kmeans_fit_sampled(emb))
    return V.ivf_topk(emb, QUERY_VEC_A, TOPK, cents=cents)


def q_embedding_neardup(spark, sf_dir):
    """Near-dup vectors: the fixture has no true high-cosine pairs (max
    observed 0.51), so deterministic perturbed copies are planted;
    multi-table LSH banding must recover them. noise=0.1 puts planted
    cosines >= 0.995 (LSH miss probability ~5e-8/pair), so the recovered
    pair-id set is deterministic and the oracle is the planted mapping."""
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    both = emb.unionByName(V.perturbed_copies(emb, noise=0.1))
    return (V.embedding_neardup_pairs(both, threshold=0.9)
            .select("id_a", "id_b"))


def q_cc_hosts(spark, sf_dir):
    """Connected components of a deterministic blocked link graph — the
    host-dedup / mirror-detection primitive (and the engine machinery
    under minhash_greedy) surfaced as a driver query. The engine runs
    min-label propagation TO CONVERGENCE; the oracle is an independent
    ALGORITHM (DuckDB recursive-CTE reachability closure, comp = min
    reachable id), so the full (node, comp) hash check validates an
    iterative fixpoint against a closed-form formulation."""
    edges = G.cc_graph(spark)
    pairs = edges.select(F.col("a").alias("id_a"), F.col("b").alias("id_b"))
    return (D.connected_components(pairs)
            .select(F.col("id").alias("node"), "comp"))


def q_stratified_sample(spark, sf_dir):
    """Deterministic k-per-source document sample: seeded md5 hash as a
    fixed permutation, WindowGroupLimit as the distributed reservoir.
    Engine-exact sampled id set (rand()-based sampling can never be
    cross-engine checked; this can, verbatim)."""
    docs = _t(spark, sf_dir, "documents")
    return (PK.stratified_sample(docs, ["source"], k=5, id_col="doc_id")
            .select("source", "doc_id", "sample_rank"))


ADAPTIVE_QUALITY_PCT = 25


def q_adaptive_quality(spark, sf_dir):
    """Per-SOURCE adaptive quality gating (r4): instead of one global
    cutoff, each source keeps documents at or above its own 25th
    quality percentile — the stratified-threshold technique real
    curation pipelines use so a clean source's median isn't judged by a
    noisy source's floor. Composes quality_score (permille-quantized —
    integers only reach the hash) with the percentile_disc rank device
    of group_quantiles; the cutoff frame is tiny and broadcast."""
    docs = _t(spark, sf_dir, "documents")
    qm = docs.select(
        "doc_id", "source",
        F.floor(X.quality_score_col(F.col("text")) * 1000)
        .cast("long").alias("qmill"))
    cut = (S.group_quantiles(qm, ["source"], "qmill",
                             qs=(ADAPTIVE_QUALITY_PCT,))
           .select("source", F.col("value").alias("cutoff")))
    return (qm.join(F.broadcast(cut), "source")
            .select("doc_id", "qmill", "cutoff",
                    (F.col("qmill") >= F.col("cutoff")).alias("keep")))


def q_group_quantiles(spark, sf_dir):
    """Exact per-source doc-length percentiles (P50/P90/P99) via
    percentile_disc rank arithmetic — integer-exact, no interpolation."""
    docs = _t(spark, sf_dir, "documents")
    return S.group_quantiles(docs, ["source"], "n_chars")


def _doc_grams(spark, sf_dir, n: int = 3):
    """Exploded word n-gram keys of the documents table (the shared input
    for the sketch queries — shingles are the natural high-cardinality
    key domain a crawl pipeline sketches over)."""
    docs = _sp(_t(spark, sf_dir, "documents"))
    return docs.select(
        F.explode(CP.word_grams(CP.words_col(F.col("text")), n))
        .alias("gram"))


def q_hll_registers(spark, sf_dir):
    """HyperLogLog register table over document 3-gram shingles: the
    constant-size (<=256 row) sketch state itself, checked register by
    register — the md5-60bit hash, bucket split, and leading-zero rank
    all replay verbatim in DuckDB."""
    return SK.hll_registers(_doc_grams(spark, sf_dir), "gram")


def q_hll_card(spark, sf_dir):
    """One-row HLL cardinality summary (m, n_nonempty, integer harmonic
    numerator, floor()ed raw estimate, exact distinct) — every emitted
    value an integer, so the cross-engine hash never touches a float."""
    return SK.hll_cardinality(_doc_grams(spark, sf_dir), "gram")


def q_cms_heavy_hitters(spark, sf_dir):
    """Count-min-sketch heavy hitters over document words: top-10 exact
    counts annotated with the sketch estimate (cms_est >= exact always;
    equality when no bucket collisions). Grid is 4x256 integers."""
    docs = _t(spark, sf_dir, "documents")
    words = (docs.select(F.explode(CP.words_col(F.col("text")))
                         .alias("word"))
             .where(F.length("word") > 0))
    return SK.cms_heavy_hitters(words, "word", k=10)


# Probe keys guaranteed absent from the word corpus (documents' words
# never contain '_'), so some probes hash into grid cells the sketch
# never touched — the exact regime where the r4-ADVICE inner-join bug
# dropped depths and overestimated. Shared with the oracle SQL.
CMS_ABSENT_PROBES = [f"__absent_{i}" for i in range(8)]
CMS_GRID_TOP = 20      # grid over the top-20 words: 80 of 1024 cells
CMS_PROBE_TOP = 5      # occupied, so empty-cell probes actually occur


def q_cms_point_queries(spark, sf_dir):
    """Count-min POINT queries incl. absent keys (r5; driver evidence
    for the late-r4 `cms_estimates` left-join fix): the grid is built
    over only the top-20 words so most cells are EMPTY, then probed
    with the top-5 words plus 8 keys absent from the corpus. Present
    keys estimate >= exact; absent keys hitting only empty cells must
    return 0 — the buggy inner join dropped the empty depths and
    over-estimated (or dropped the key entirely)."""
    docs = _t(spark, sf_dir, "documents")
    words = (docs.select(F.explode(CP.words_col(F.col("text")))
                         .alias("word"))
             .where(F.length("word") > 0))
    counts = (words.groupBy("word").agg(F.count("*").alias("cnt"))
              .orderBy(F.desc("cnt"), F.asc("word"))
              .limit(CMS_GRID_TOP))
    regs = SK.cms_registers(counts, "word", "cnt")
    probes = (counts.orderBy(F.desc("cnt"), F.asc("word"))
              .limit(CMS_PROBE_TOP).select("word")
              .unionByName(spark.createDataFrame(
                  [(w,) for w in CMS_ABSENT_PROBES], "word string")))
    return (SK.cms_estimates(regs, probes, "word")
            .orderBy("word"))


def q_semdedup(spark, sf_dir):
    """SemDeDup-style semantic dedup (Abbas et al. 2023): coarse-cluster
    the embedding table, order each cluster by centroid similarity, drop
    points with a too-similar predecessor — one cluster-local self-join,
    no all-pairs scan. Output is (vec_id, cluster, kept): integers and a
    boolean only, so the driver never hashes a float; the oracle replays
    the codebook, the 9-dp assignment argmax, and the 6-dp pairwise
    cosine rule from the embeddings view itself (no literals)."""
    return V.semdedup(_t(spark, sf_dir, "embeddings"))


def q_recursive_chunks(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return C.recursive_chunks(docs, "doc_id", "text", prefix_cols=["source"])


def q_hash_embed(spark, sf_dir):
    """SURVEY V9: deterministic hash embedder (md5 scheme). Emitted as
    scalar (doc_id, dim, value) rows — array columns break the driver's
    canonicalizer, and the exploded form is SQL-checkable (the md5 hex
    parsing and the exact-integer accumulate/normalize reproduce in DuckDB
    bit-for-bit)."""
    docs = _sp(_t(spark, sf_dir, "documents"))
    vec = docs.select("doc_id", V.hash_embed_udf()(F.col("text"))
                      .alias("embedding"))
    return (vec.select("doc_id",
                       F.posexplode("embedding").alias("dim", "value"))
            .select("doc_id", "dim",
                    F.round(F.col("value").cast("double"), 6).alias("value")))


def _crawl_fixture_paths() -> dict:
    """Tiny deterministic crawl fixtures, built once per process."""
    from ai_intel_web_scraper_spark.synth.generator import (FX_VERSION,
                                                            WebSpec,
                                                            generate_fixtures)
    out = f"/tmp/spark_graft_entry_fx_v{FX_VERSION}"
    marker = os.path.join(out, "_DONE")  # written LAST: a crash mid-generate
    # must not leave a half-built dir that poisons the cache
    if not os.path.exists(marker):
        import shutil
        shutil.rmtree(out, ignore_errors=True)
        generate_fixtures(WebSpec(seed=7, n_hosts=5, total_pages=120), out)
        with open(marker, "w") as f:
            f.write("ok")
    return {n: os.path.join(out, f"{n}.parquet")
            for n in ("pages", "web_graph", "seeds", "politeness", "robots",
                      "sitemaps")}


def _sql_lit_cell(v) -> str:
    """One literal cell for a generated DuckDB VALUES table."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, float):
        # repr round-trips the double bit-exactly; the cast stops DuckDB
        # from typing the bare literal as DECIMAL (str()s differently)
        return f"CAST({v!r} AS DOUBLE)"
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    return "'" + str(v).replace("'", "''") + "'"


def _pagerank_sql() -> str:
    """Generate the pagerank oracle: the SAME integer recurrence as the
    engine, unrolled into PR_ITERS CTEs. Everything is 64-bit integer
    (quantized ranks, one `//` per edge contribution, integer damping
    blend), so an iterative algorithm becomes fully hash-checkable."""
    N, K, SCALE = G.PR_N, G.PR_ITERS, G.PR_SCALE
    NUM, DEN = G.PR_DAMP_NUM, G.PR_DAMP_DEN
    base = (DEN - NUM) * SCALE // (DEN * N)
    parts = [
        f"nodes AS (SELECT i::BIGINT AS node "
        f"FROM generate_series(0, {N - 1}) t(i))",
        f"edges AS (SELECT i::BIGINT AS src, "
        f"((i*13 + 7*(k+1) + k*k) % {N})::BIGINT AS dst "
        f"FROM generate_series(0, {N - 1}) t(i), "
        f"generate_series(0, 3) u(k) WHERE k <= i % 3)",
        "deg AS (SELECT src, count(*)::BIGINT AS outdeg "
        "FROM edges GROUP BY src)",
        f"r0 AS (SELECT node, {SCALE // N}::BIGINT AS r FROM nodes)",
    ]
    for it in range(K):
        parts.append(
            f"r{it + 1} AS (SELECT n.node, "
            f"({base} + ({NUM} * coalesce(s.c, 0)) // {DEN})::BIGINT AS r "
            f"FROM nodes n LEFT JOIN ("
            f"SELECT e.dst AS node, sum(r.r // d.outdeg)::BIGINT AS c "
            f"FROM edges e JOIN r{it} r ON r.node = e.src "
            f"JOIN deg d ON d.src = e.src GROUP BY e.dst) s USING (node))")
    return "WITH " + ",\n".join(parts) + f"\nSELECT node, r FROM r{K}"


def _kmeans_cte_parts(prefix: str = "", lo: int = 1, hi: int = 64,
                      k: int | None = None,
                      include_q: bool = True) -> tuple[list[str], str]:
    """The shared k-means CTE chain: the SAME integer Lloyd recurrence as
    `operators/clustering.py`, unrolled into KM_ITERS (assign, update) CTE
    pairs over exploded (vec_id, dim, value) rows. Quantization is
    floor(x * 2^20) + 2^24 — exact IEEE arithmetic, positive values so
    DuckDB `//` equals Spark `DIV` — and distances/means are 64-bit
    integers throughout. Returns (parts, final_centroid_cte) so the
    clustering, trained-IVF, and PQ oracles all replay one recurrence;
    `prefix`/`lo`/`hi` carve a named subspace chain over dims [lo, hi]
    (the PQ per-subspace trainer), sharing the global `q` CTE.

    r4: training (the a{it} assignment + c{it+1} update CTEs) is
    restricted to the first-KM_TRAIN_SAMPLE-by-id rows (`tsamp`),
    mirroring the engine's sample-local trainers; final assignments /
    encodings still read the full `qd`. A formal no-op at test scale
    (every test corpus has <= 4096 rows) but correct at any scale."""
    k = KM.KM_K if k is None else k
    iters = KM.KM_ITERS
    qs, qo = KM.KM_QSCALE, KM.KM_QOFF
    p = prefix
    parts = []
    if include_q:
        parts.append(
            f"q AS (SELECT vec_id, list_transform(embedding::DOUBLE[], "
            f"x -> floor(x * {qs})::BIGINT + {qo}) AS qv FROM embeddings)")
        parts.append(
            f"tsamp AS (SELECT vec_id FROM q ORDER BY vec_id "
            f"LIMIT {KM.KM_TRAIN_SAMPLE})")
    parts += [
        f"{p}dims AS (SELECT i::INT AS d "
        f"FROM generate_series({lo}, {hi}) t(i))",
        f"{p}qd AS (SELECT vec_id, d, qv[d] AS v "
        f"FROM q CROSS JOIN {p}dims)",
        f"{p}c0 AS (SELECT ci, d, qv[d] AS cv FROM "
        f"(SELECT row_number() OVER (ORDER BY vec_id) - 1 AS ci, qv "
        f"FROM (SELECT vec_id, qv FROM q ORDER BY vec_id LIMIT {k}) s) t "
        f"CROSS JOIN {p}dims)",
    ]
    for it in range(iters):
        parts.append(
            f"{p}a{it} AS (SELECT vec_id, ci AS cl FROM ("
            f"SELECT qd.vec_id, c.ci, row_number() OVER ("
            f"PARTITION BY qd.vec_id "
            f"ORDER BY sum((qd.v - c.cv)*(qd.v - c.cv)), c.ci) AS rk "
            f"FROM {p}qd qd JOIN tsamp USING (vec_id) "
            f"JOIN {p}c{it} c USING (d) "
            f"GROUP BY qd.vec_id, c.ci) z WHERE rk = 1)")
        parts.append(
            f"{p}c{it + 1} AS (SELECT c.ci, c.d, coalesce(n.cv, c.cv) "
            f"AS cv FROM {p}c{it} c LEFT JOIN ("
            f"SELECT a.cl AS ci, qd.d, sum(qd.v) // count(*) AS cv "
            f"FROM {p}a{it} a JOIN {p}qd qd USING (vec_id) "
            f"GROUP BY a.cl, qd.d) n ON n.ci = c.ci AND n.d = c.d)")
    return parts, f"{p}c{iters}"


def _kmeans_sql() -> str:
    """k-means oracle: the shared recurrence CTEs + a final integer
    (cluster, qdist) assignment — an iterative algorithm with a full
    per-point hash check (same device as _pagerank_sql)."""
    parts, cfin = _kmeans_cte_parts()
    iters = KM.KM_ITERS
    return ("WITH " + ",\n".join(parts)
            + f"\nSELECT vec_id, cl::INT AS cluster, dist::BIGINT AS qdist "
            f"FROM (SELECT qd.vec_id, c.ci AS cl, "
            f"sum((qd.v - c.cv)*(qd.v - c.cv)) AS dist, "
            f"row_number() OVER (PARTITION BY qd.vec_id "
            f"ORDER BY sum((qd.v - c.cv)*(qd.v - c.cv)), c.ci) AS rk "
            f"FROM qd JOIN c{iters} c USING (d) "
            f"GROUP BY qd.vec_id, c.ci) z WHERE rk = 1")


def _ivf_trained_sql() -> str:
    """Trained-codebook IVF oracle: replay the k-means recurrence (shared
    CTEs), dequantize the final integer centroids to their exact dyadic
    doubles ((cv - 2^24) / 2^20 — bit-identical to the Python-side
    `clustering.dequantize`), then replicate the IVF path of
    `ann_ivf_topk`: round-9 cosine argmax assignment (ties to the smaller
    centroid id), round-9 probe ranking, exact cosine re-rank rounded to
    6 dp — the same cross-engine stabilization the untrained IVF oracle
    already proves out."""
    parts, cfin = _kmeans_cte_parts()
    qs, qo = KM.KM_QSCALE, KM.KM_QOFF
    qlit = _sql_vec_lit(QUERY_VEC_A)
    qnorm = float(np.sqrt(sum(x * x for x in QUERY_VEC_A)))
    parts.append(
        f"fc AS (SELECT ci, list((cv - {qo})::DOUBLE / {qs} ORDER BY d) "
        f"AS cvec FROM {cfin} GROUP BY ci)")
    parts.append(
        "assign AS (SELECT vec_id, embedding, ci, row_number() OVER ("
        "PARTITION BY vec_id ORDER BY "
        "round(list_dot_product(embedding::DOUBLE[], cvec) "
        "/ (sqrt(list_dot_product(embedding::DOUBLE[], "
        "embedding::DOUBLE[])) * sqrt(list_dot_product(cvec, cvec))), 9) "
        "DESC, ci ASC) AS rn FROM embeddings CROSS JOIN fc)")
    parts.append(
        f"probe AS (SELECT ci FROM fc ORDER BY "
        f"round(list_dot_product(cvec, {qlit}) "
        f"/ (sqrt(list_dot_product(cvec, cvec)) * {qnorm!r}), 9) "
        f"DESC, ci LIMIT {V.IVF_PROBE})")
    cos_q = (f"(list_dot_product(embedding::DOUBLE[], {qlit}) "
             f"/ (sqrt(list_dot_product(embedding::DOUBLE[], "
             f"embedding::DOUBLE[])) * {qnorm!r}))")
    return ("WITH " + ",\n".join(parts)
            + f"\nSELECT vec_id, round({cos_q}, 6) AS score FROM assign "
            f"WHERE rn = 1 AND ci IN (SELECT ci FROM probe) "
            f"ORDER BY score DESC, vec_id LIMIT {TOPK}")


def _pq_sql() -> str:
    """Product-quantization oracle: M prefixed Lloyd chains (one per
    subspace, dims [s·16+1, (s+1)·16], shared `q`), per-subspace argmin
    code assignment, and an INDEPENDENTLY recomputed ADC distance table —
    the floor-quantized query inlined as a (d, v) literal relation, dt =
    per-centroid integer squared distance — summed via M equi-joins.
    Every value 64-bit integer; full (vec_id, adc) hash check of the
    train->encode->score chain."""
    import math
    m, sub = PQ.PQ_M, PQ.PQ_SUBDIM
    qs, qo = KM.KM_QSCALE, KM.KM_QOFF
    qq = [math.floor(float(x) * qs) + qo for x in QUERY_VEC_A]
    parts: list[str] = []
    for s in range(m):
        sp, cfin = _kmeans_cte_parts(prefix=f"s{s}_", lo=s * sub + 1,
                                     hi=(s + 1) * sub, k=PQ.PQ_K,
                                     include_q=(s == 0))
        parts += sp
        parts.append(
            f"s{s}_code AS (SELECT vec_id, ci AS code FROM ("
            f"SELECT qd.vec_id, c.ci, row_number() OVER ("
            f"PARTITION BY qd.vec_id "
            f"ORDER BY sum((qd.v - c.cv)*(qd.v - c.cv)), c.ci) AS rk "
            f"FROM s{s}_qd qd JOIN {cfin} c USING (d) "
            f"GROUP BY qd.vec_id, c.ci) z WHERE rk = 1)")
        parts.append(
            f"s{s}_dt AS (SELECT c.ci, "
            f"sum((qq.v - c.cv)*(qq.v - c.cv)) AS dd "
            f"FROM (VALUES "
            + ", ".join(f"({d + 1}, {v})" for d, v in enumerate(qq))
            + f") qq(d, v) JOIN {cfin} c USING (d) GROUP BY c.ci)")
    joins = " ".join(
        f"JOIN s{s}_code j{s} USING (vec_id) "
        f"JOIN s{s}_dt t{s} ON t{s}.ci = j{s}.code" for s in range(m))
    total = " + ".join(f"t{s}.dd" for s in range(m))
    return ("WITH " + ",\n".join(parts)
            + f"\nSELECT q.vec_id, ({total})::BIGINT AS adc FROM q "
            + joins + f" ORDER BY adc, q.vec_id LIMIT {TOPK}")


def _ivf_pq_sql() -> str:
    """IVF-PQ oracle: the full-dim Lloyd chain (coarse quantizer, shared
    CTE builder, prefix-free) + an integer-distance coarse assignment and
    probe ranking computed FROM the replayed centroids (query inlined as
    a quantized (d, v) literal), then the PQ chains/codes/distance tables
    of `_pq_sql` restricted to vectors in the probed lists. Integer end
    to end — full (vec_id, adc) hash check of the production ANN shape."""
    import math
    m, sub = PQ.PQ_M, PQ.PQ_SUBDIM
    qs, qo = KM.KM_QSCALE, KM.KM_QOFF
    qq = [math.floor(float(x) * qs) + qo for x in QUERY_VEC_A]
    qvals = ", ".join(f"({d + 1}, {v})" for d, v in enumerate(qq))
    parts, coarse_fin = _kmeans_cte_parts()
    parts.append(
        f"coarse AS (SELECT vec_id, ci AS cl FROM ("
        f"SELECT qd.vec_id, c.ci, row_number() OVER ("
        f"PARTITION BY qd.vec_id "
        f"ORDER BY sum((qd.v - c.cv)*(qd.v - c.cv)), c.ci) AS rk "
        f"FROM qd JOIN {coarse_fin} c USING (d) "
        f"GROUP BY qd.vec_id, c.ci) z WHERE rk = 1)")
    parts.append(
        f"probe AS (SELECT ci FROM ("
        f"SELECT c.ci, sum((qq.v - c.cv)*(qq.v - c.cv)) AS dd "
        f"FROM (VALUES {qvals}) qq(d, v) JOIN {coarse_fin} c USING (d) "
        f"GROUP BY c.ci) ORDER BY dd, ci LIMIT {PQ.IVFPQ_PROBE})")
    for s in range(m):
        sp, cfin = _kmeans_cte_parts(prefix=f"s{s}_", lo=s * sub + 1,
                                     hi=(s + 1) * sub, k=PQ.PQ_K,
                                     include_q=False)
        parts += sp
        parts.append(
            f"s{s}_code AS (SELECT vec_id, ci AS code FROM ("
            f"SELECT qd.vec_id, c.ci, row_number() OVER ("
            f"PARTITION BY qd.vec_id "
            f"ORDER BY sum((qd.v - c.cv)*(qd.v - c.cv)), c.ci) AS rk "
            f"FROM s{s}_qd qd JOIN {cfin} c USING (d) "
            f"GROUP BY qd.vec_id, c.ci) z WHERE rk = 1)")
        parts.append(
            f"s{s}_dt AS (SELECT c.ci, "
            f"sum((qq.v - c.cv)*(qq.v - c.cv)) AS dd "
            f"FROM (VALUES {qvals}) qq(d, v) JOIN {cfin} c USING (d) "
            f"GROUP BY c.ci)")
    joins = " ".join(
        f"JOIN s{s}_code j{s} USING (vec_id) "
        f"JOIN s{s}_dt t{s} ON t{s}.ci = j{s}.code" for s in range(m))
    total = " + ".join(f"t{s}.dd" for s in range(m))
    return ("WITH " + ",\n".join(parts)
            + f"\nSELECT coarse.vec_id, ({total})::BIGINT AS adc "
            f"FROM coarse " + joins
            + f" WHERE coarse.cl IN (SELECT ci FROM probe) "
            f"ORDER BY adc, coarse.vec_id LIMIT {TOPK}")


def _recrawl_sql() -> str:
    """Freshness-policy oracle — the identical lag/agg recurrence in
    DuckDB, all-integer outputs (epoch micros, ppm rate). Shared by the
    batch query and the stateful-streaming one: the stream must land on
    exactly the batch result."""
    return f"""
        WITH hist AS (
          SELECT user_id, epoch_us(ts) AS t,
                 CASE WHEN event_type != lag(event_type) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id)
                      THEN 1 ELSE 0 END AS chg
          FROM events),
        agg AS (
          SELECT user_id, count(*)::BIGINT AS n_obs,
                 sum(chg)::BIGINT AS n_changes,
                 min(t) AS f, max(t) AS l
          FROM hist GROUP BY user_id)
        SELECT user_id, n_obs, n_changes,
               (CASE WHEN n_obs > 1
                     THEN n_changes * 1000000 // (n_obs - 1)
                     ELSE 0 END)::BIGINT AS change_rate_ppm,
               iv::BIGINT AS interval_us,
               (l + iv)::BIGINT AS next_due_us
        FROM (SELECT *, greatest({TM.RECRAWL_MIN_US},
                 least({TM.RECRAWL_MAX_US},
                   CASE WHEN n_changes > 0 THEN (l - f) // n_changes
                        ELSE {TM.RECRAWL_MAX_US} END)) AS iv
              FROM agg)"""


def _sql_values_table(rows: list[tuple], cols: list[str]) -> str:
    """`(VALUES ...) t(cols)` literal relation for planted-expectation
    oracles (same trick as embedding_neardup's pair mapping)."""
    body = ", ".join(
        "(" + ", ".join(_sql_lit_cell(v) for v in row) + ")" for row in rows)
    return f"(SELECT * FROM (VALUES {body}) t({', '.join(cols)}))"


def q_authority_crawl(spark, sf_dir):
    """rank_mode="authority" (r5): the quality->crawl feedback loop LIVE
    in the engine — each round recomputes integer PageRank over the
    edges recorded so far (`operators/graph.py::authority_over`) and
    ranks the frontier by authority composed with the stored priority
    (`crawl/semantics.py` contract). fetch_slot is in the output, so the
    value hash pins the RANKED ORDER itself, not just the fetched set.
    Oracle: the pure-Python crawler replays the identical integer
    recurrence; its fetched rows become a literal relation."""
    import shutil
    from ai_intel_web_scraper_spark.crawl.scheduler import (CrawlConfig,
                                                            CrawlEngine)
    wh = "/tmp/spark_graft_entry_wh_auth"
    shutil.rmtree(wh, ignore_errors=True)
    eng = CrawlEngine(spark, _crawl_fixture_paths(), wh,
                      CrawlConfig(expected_urls=1 << 12,
                                  write_payload=False,
                                  rank_mode="authority",
                                  round_seconds=120.0))
    eng.run(max_rounds=4)
    return (eng.store.read("fetched")
            .select("url", "host", "depth", "round", "discovery_seq",
                    "fetch_slot")
            .orderBy("round", "depth", "discovery_seq"))


def _authority_crawl_expected() -> list[tuple]:
    """Pure-Python oracle crawl under rank_mode="authority" with the
    exact q_authority_crawl engine config."""
    from ai_intel_web_scraper_spark.functions.urls import url_host
    from ai_intel_web_scraper_spark.oracle.crawler import oracle_crawl
    res = oracle_crawl(_crawl_fixture_paths(), max_rounds=4,
                       round_seconds=120.0, rank_mode="authority")
    return [(r["url"], url_host(r["url"]), r["depth"], r["round"],
             r["discovery_seq"], r["fetch_slot"]) for r in res.fetched]


def _crawl_frontier_expected() -> list[tuple]:
    """Run the pure-Python oracle crawler (oracle/crawler.py — the golden
    implementation the parity suite gates on) over the entry fixtures with
    the exact q_crawl_frontier engine config; its fetched table becomes a
    literal relation, making the multi-round stateful crawl SQL-checkable."""
    from ai_intel_web_scraper_spark.functions.urls import url_host
    from ai_intel_web_scraper_spark.oracle.crawler import oracle_crawl
    res = oracle_crawl(_crawl_fixture_paths(), max_rounds=4,
                       round_seconds=120.0)
    return [(r["url"], url_host(r["url"]), r["depth"], r["round"],
             r["discovery_seq"]) for r in res.fetched]


def _image_features_expected() -> list[tuple]:
    """Planted-expectation rows for image_features: decode each fixture
    image with the pure-Python codec OUTSIDE Spark and recompute the
    features — checks the Spark-side plumbing (mapInPandas batching,
    schema, binary transport) end-to-end under the value-hash gate."""
    import pyarrow.parquet as pq
    from ai_intel_web_scraper_spark.functions.codec import (average_phash,
                                                            decode_image)
    tbl = pq.read_table(_crawl_fixture_paths()["pages"],
                        columns=["image_id", "fmt", "bytes"])
    rows = []
    for r in tbl.to_pylist():
        try:
            px = decode_image(r["bytes"])
            m = px.reshape(-1, 3).mean(axis=0)
            rows.append((r["image_id"], int(px.shape[1]), int(px.shape[0]),
                         r["fmt"], round(float(m[0]), 6),
                         round(float(m[1]), 6), round(float(m[2]), 6),
                         average_phash(px), True))
        except Exception:
            rows.append((r["image_id"], None, None, r["fmt"],
                         None, None, None, None, False))
    return rows


BPE_MERGES = 256
BPE_PREVIEW_K = 6
BPE_CHUNK_TOKENS = 6
BPE_CHUNK_OVERLAP = 2


def _naive_bpe_over_captions():
    """Independent naive BPE for the oracles: recount-from-scratch
    training and leftmost-single-pair encoding (vs the engine's
    incremental trainer and merge-all-occurrences encoder — provably the
    same function, implemented differently), run OUTSIDE Spark over the
    fixture captions. Returns (ids, caps, nenc)."""
    from collections import Counter

    import pyarrow.parquet as pq

    from ai_intel_web_scraper_spark.functions import bpe
    tbl = pq.read_table(_crawl_fixture_paths()["pages"],
                        columns=["image_id", "caption"])
    ids = tbl["image_id"].to_pylist()
    caps = tbl["caption"].to_pylist()
    words = Counter(w for t in sorted(caps) for w in bpe.pretokenize(t))
    seq = {w: [bytes([b]) for b in w] for w in words}
    merges: list[tuple[bytes, bytes]] = []
    for _ in range(BPE_MERGES):
        cnt: Counter = Counter()
        for w, f in words.items():
            for p in zip(seq[w], seq[w][1:]):
                cnt[p] += f
        if not cnt:
            break
        best = min(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        for w in words:
            s = seq[w]
            while True:
                for i in range(len(s) - 1):
                    if (s[i], s[i + 1]) == best:
                        s[i:i + 2] = [s[i] + s[i + 1]]
                        break
                else:
                    break
    ranks = {p: i for i, p in enumerate(merges)}

    def nenc(t: str) -> list[bytes]:
        toks: list[bytes] = []
        for w in bpe.pretokenize(t):
            s = [bytes([c]) for c in w]
            while True:
                cand = [(ranks[p], i)
                        for i, p in enumerate(zip(s, s[1:])) if p in ranks]
                if not cand:
                    break
                _, i = min(cand)
                s[i:i + 2] = [s[i] + s[i + 1]]
            toks.extend(s)
        return toks

    return ids, caps, nenc


def _bpe_expected() -> list[tuple]:
    ids, caps, nenc = _naive_bpe_over_captions()
    rows = []
    for iid, cap in zip(ids, caps):
        toks = nenc(cap or "")
        rows.append((iid, len((cap or "").encode("utf-8")), len(toks),
                     "|".join(tk.hex() for tk in toks[:BPE_PREVIEW_K])))
    return rows


def _bpe_chunks_expected() -> list[tuple]:
    """Naive recompute of the BPE-budget chunker: same reference stride
    loop, expressed as boundary arithmetic instead of the engine's
    running cursor."""
    ids, caps, nenc = _naive_bpe_over_captions()
    stride = BPE_CHUNK_TOKENS - BPE_CHUNK_OVERLAP
    rows = []
    for iid, cap in zip(ids, caps):
        toks = nenc(cap or "")
        starts = [0] if len(toks) <= BPE_CHUNK_TOKENS else list(
            range(0, len(toks) - BPE_CHUNK_OVERLAP, stride))
        for ci, st in enumerate(starts):
            window = toks[st:st + BPE_CHUNK_TOKENS]
            rows.append((iid, ci, len(window),
                         b"".join(window).decode("utf-8", "replace")))
    return rows


def q_bpe_tokens(spark, sf_dir):
    """SURVEY V1 at real-BPE fidelity (reference tiktoken encode,
    vectorstore/chunker.py:33-41): train a deterministic merges table on
    the fixture captions driver-side (bounded sample — the 100 TB story
    trains on a sample or loads tiktoken's published cl100k table), then
    tokenize with the GPT-2/tiktoken greedy merge loop in an
    Arrow-batched pandas UDF. Emits count AND a token-stream hex preview
    so the value hash checks the actual tokens, not just their number."""
    import pyarrow.parquet as pq

    from ai_intel_web_scraper_spark.functions import bpe
    paths = _crawl_fixture_paths()
    caps = pq.read_table(paths["pages"],
                         columns=["caption"])["caption"].to_pylist()
    merges = bpe.train_bpe(caps, BPE_MERGES)
    count_udf, preview_udf = bpe.bpe_udfs(merges, BPE_PREVIEW_K)
    pages = spark.read.parquet(paths["pages"]).select("image_id", "caption")
    return pages.select(
        "image_id",
        F.octet_length("caption").alias("n_bytes"),
        count_udf(F.col("caption")).alias("n_tokens"),
        preview_udf(F.col("caption")).alias("preview"))


def q_bpe_chunks(spark, sf_dir):
    """SURVEY V5×V1 at real-BPE fidelity: the reference chunker's
    chunk_tokens/overlap stride loop (vectorstore/chunker.py) running on
    REAL BPE token budgets instead of the regex proxy — once tiktoken's
    published merges table is loaded, chunk boundaries match the
    reference's exactly. One mapInPandas stage over the scan (tokens
    stay inside the Arrow batch; only chunk rows come out)."""
    import pandas as pd
    import pyarrow.parquet as pq

    from ai_intel_web_scraper_spark.functions import bpe
    paths = _crawl_fixture_paths()
    caps = pq.read_table(paths["pages"],
                         columns=["caption"])["caption"].to_pylist()
    ranks = bpe.build_ranks(bpe.train_bpe(caps, BPE_MERGES))
    schema = ("image_id string, chunk_index int, token_count int, "
              "chunk_text string")

    def gen(batches):
        cache: dict = {}
        for pdf in batches:
            out = {"image_id": [], "chunk_index": [],
                   "token_count": [], "chunk_text": []}
            for iid, cap in zip(pdf["image_id"], pdf["caption"]):
                toks = bpe.encode(cap or "", ranks, cache)
                for ci, w in enumerate(bpe.chunk_token_windows(
                        toks, BPE_CHUNK_TOKENS, BPE_CHUNK_OVERLAP)):
                    out["image_id"].append(iid)
                    out["chunk_index"].append(ci)
                    out["token_count"].append(len(w))
                    out["chunk_text"].append(
                        b"".join(w).decode("utf-8", "replace"))
            yield pd.DataFrame(out)

    return (spark.read.parquet(paths["pages"])
            .select("image_id", "caption").mapInPandas(gen, schema))


def _phash_lit_rows() -> list[tuple]:
    """(image_id, phash) ground truth straight from the fixture generator's
    pages table; the oracle brute-forces all O(n^2) hamming pairs in DuckDB
    — an independent check of the guaranteed-recall block-LSH join."""
    import pyarrow.parquet as pq
    tbl = pq.read_table(_crawl_fixture_paths()["pages"],
                        columns=["image_id", "phash"])
    return list(zip(tbl["image_id"].to_pylist(), tbl["phash"].to_pylist()))


def _sitemap_fixture_rows() -> list[tuple]:
    """Deterministic (host, sitemap-xml-body) fixture, built in Python
    once and handed VERBATIM to both engines (Spark parses it with the
    real `sources/sitemaps.py` operator; DuckDB re-parses the same
    literal relation with its own regexp machinery — parser parity is
    the check). Includes malformed blocks: a <url> without <loc> (must
    drop), a regex-shaped but invalid date 2024-13-45 (must NULL), a
    non-numeric <priority> (must take the 500000 ppm default), 2-decimal
    priorities (0.x5), and an out-of-range 1.5 (must clamp to 1e6)."""
    import datetime as dt
    rows = []
    for k in range(40):
        entries = []
        for i in range(5 + k % 7):
            e = f"<url><loc>https://host{k}.example/p/{i}</loc>"
            if (k + i) % 3 != 0:
                d = dt.date(2024, 1, 1) + dt.timedelta(
                    days=(k * 7 + i * 3) % 365)
                e += f"<lastmod>{d.isoformat()}</lastmod>"
            if (k + i) % 2 == 0:
                ki = k + i
                if ki % 10 == 0:
                    p = "1.0"
                elif ki % 4 == 0:          # 2-decimal spec-valid literals
                    p = f"0.{ki % 9 + 1}5"
                else:
                    p = f"0.{ki % 9 + 1}"
                e += f"<priority>{p}</priority>"
            entries.append(e + "</url>")
        if k % 5 == 0:
            entries.append("<url><lastmod>2024-02-03</lastmod></url>")
        if k % 7 == 0:
            entries.append(f"<url><loc>https://host{k}.example/weird</loc>"
                           f"<lastmod>2024-13-45</lastmod>"
                           f"<priority>high</priority></url>")
        if k % 6 == 0:  # out-of-range (clamps) + deep-fraction literals
            entries.append(f"<url><loc>https://host{k}.example/clamp</loc>"
                           f"<priority>1.5</priority></url>")
            entries.append(f"<url><loc>https://host{k}.example/tiny</loc>"
                           f"<priority>0.05</priority></url>")
        body = ('<?xml version="1.0"?><urlset>' + "".join(entries)
                + "</urlset>")
        rows.append((f"host{k}.example", body))
    return rows


def _robots_lit_rows() -> list[tuple]:
    """(host, body) raw robots bodies from the crawl fixture — oracle
    INPUTS for the robots-sitemap discovery query (DuckDB re-parses the
    same bodies with its own regexp machinery)."""
    import pyarrow.parquet as pq
    tbl = pq.read_table(_crawl_fixture_paths()["robots"],
                        columns=["host", "body"])
    return list(zip(tbl["host"].to_pylist(), tbl["body"].to_pylist()))


def _robots_series_bound() -> int:
    """Unroll bound for the robots_sitemaps oracle's positional
    generate_series: derived from the ACTUAL literal rows (max
    `Sitemap:` declarations in any body, same regex as both engines)
    instead of a hardcoded 8 — a richer future fixture can no longer
    silently truncate the oracle while the engine's posexplode stays
    uncapped. (ADVICE r5)"""
    import re as _re
    from ai_intel_web_scraper_spark.functions.robots import (
        ROBOTS_SITEMAP_RE)
    return max([len(_re.findall(ROBOTS_SITEMAP_RE, body))
                for _h, body in _robots_lit_rows()] + [1])


def q_robots_sitemaps(spark, sf_dir):
    """Robots-declared sitemap discovery (r4): parse `Sitemap:` global
    directives (case-insensitive, file order) out of the RAW robots.txt
    bodies with one native regexp + posexplode — the channel that feeds
    `sitemap_ingest` -> `sitemaps_to_seeds` and closes the robots ->
    sitemap -> frontier-preseed loop. Oracle re-parses the same literal
    bodies in DuckDB (cross-engine parser parity, the sitemap_ingest
    convention)."""
    from ai_intel_web_scraper_spark.functions.robots import (
        ROBOTS_SITEMAP_RE)
    rob = spark.read.parquet(_crawl_fixture_paths()["robots"])
    return (rob.select(
        "host",
        F.posexplode(F.regexp_extract_all(
            "body", F.lit(ROBOTS_SITEMAP_RE), 1))
        .alias("pos", "sitemap_url")))


def q_sitemap_ingest(spark, sf_dir):
    """Sitemap ingestion (`sources/sitemaps.py`): parse <url> entries —
    loc, lastmod (integer epoch days, NULL-degrading), priority (integer
    ppm, spec default) — from sitemap XML bodies with native regexp/date
    expressions (one Generate + narrow maps, no UDF, no shuffle). The
    fixture is a Python-built literal both engines receive verbatim, so
    the oracle checks the PARSERS against each other."""
    from ai_intel_web_scraper_spark.sources.sitemaps import parse_sitemaps
    bodies = spark.createDataFrame(_sitemap_fixture_rows(),
                                   "host string, body string")
    return parse_sitemaps(bodies)


def _wds_expected_rows() -> list[tuple]:
    """(shard_id, n_samples, size_bytes, tar_md5) recomputed OUT of
    Spark: read the fixture pages with pyarrow, group/sort in plain
    Python, build each tar with the same deterministic recipe, digest.
    Checks the Spark-side plumbing (shard map, group shuffle, per-group
    ordering, Arrow batch shapes) end to end."""
    import hashlib
    import io
    import tarfile

    import pyarrow.parquet as pq
    from ai_intel_web_scraper_spark.operators.export import (
        WDS_SAMPLES_PER_SHARD)
    tbl = pq.read_table(_crawl_fixture_paths()["pages"],
                        columns=["image_id", "bytes", "fmt", "caption"])
    rows = sorted(zip(tbl["image_id"].to_pylist(), tbl["bytes"].to_pylist(),
                      tbl["fmt"].to_pylist(), tbl["caption"].to_pylist()))
    shards: dict[int, list] = {}
    for iid, data, fmt, cap in rows:
        shards.setdefault(int(iid[4:12]) // WDS_SAMPLES_PER_SHARD,
                          []).append((iid, data, fmt, cap))
    out = []
    for sid, members in sorted(shards.items()):
        buf = io.BytesIO()
        with tarfile.open(fileobj=buf, mode="w",
                          format=tarfile.USTAR_FORMAT) as tar:
            for iid, data, fmt, cap in members:
                for name, payload in ((f"{iid}.{fmt}", bytes(data)),
                                      (f"{iid}.txt", cap.encode("utf-8"))):
                    ti = tarfile.TarInfo(name=name)
                    ti.size = len(payload)
                    ti.mtime = 0
                    ti.mode = 0o644
                    tar.addfile(ti, io.BytesIO(payload))
        data = buf.getvalue()
        out.append((sid, len(members), len(data),
                    hashlib.md5(data).hexdigest()))
    return out


WDS_BYTE_BUDGET = 65536  # fixture-scale stand-in for the ~1 GiB shard rule


def q_webdataset_budget(spark, sf_dir):
    """Byte-budgeted WebDataset shards (r5): samples packed by exact tar
    footprint under `pack_shards`' quantized-prefix start-offset rule
    (two-level prefix sum — no global window), assembled by the shared
    deterministic tar stage. The per-shard md5s value-hash the weight
    model, the prefix pack, the DIV rule, member ordering and byte
    layout at once. Oracle: the whole pack + every tar rebuilt out of
    Spark in plain Python."""
    from ai_intel_web_scraper_spark.operators.export import (
        webdataset_shards_by_bytes)
    pages = spark.read.parquet(_crawl_fixture_paths()["pages"])
    return (webdataset_shards_by_bytes(pages, WDS_BYTE_BUDGET,
                                       with_bytes=False)
            .select("shard_id", "n_samples", "size_bytes", "tar_md5"))


def _wds_budget_rows() -> list[tuple]:
    """(shard_id, n_samples, size_bytes, tar_md5) for the byte-budget
    pack, recomputed OUT of Spark: exact USTAR footprints, running start
    offsets in image_id order, shard = start DIV budget, tars rebuilt
    with the same deterministic recipe."""
    import hashlib
    import io
    import tarfile

    import pyarrow.parquet as pq

    tbl = pq.read_table(_crawl_fixture_paths()["pages"],
                        columns=["image_id", "bytes", "fmt", "caption"])
    rows = sorted(zip(tbl["image_id"].to_pylist(), tbl["bytes"].to_pylist(),
                      tbl["fmt"].to_pylist(), tbl["caption"].to_pylist()))

    def fp(n):
        return 512 + ((n + 511) // 512) * 512

    shards: dict[int, list] = {}
    start = 0
    for iid, data, fmt, cap in rows:
        w = fp(len(bytes(data))) + fp(len(cap.encode("utf-8")))
        shards.setdefault(start // WDS_BYTE_BUDGET, []).append(
            (iid, data, fmt, cap))
        start += w
    out = []
    for sid, members in sorted(shards.items()):
        buf = io.BytesIO()
        with tarfile.open(fileobj=buf, mode="w",
                          format=tarfile.USTAR_FORMAT) as tar:
            for iid, data, fmt, cap in members:
                for name, payload in ((f"{iid}.{fmt}", bytes(data)),
                                      (f"{iid}.txt", cap.encode("utf-8"))):
                    ti = tarfile.TarInfo(name=name)
                    ti.size = len(payload)
                    ti.mtime = 0
                    ti.mode = 0o644
                    tar.addfile(ti, io.BytesIO(payload))
        data = buf.getvalue()
        out.append((sid, len(members), len(data),
                    hashlib.md5(data).hexdigest()))
    return out


def _pipeline_wds_rows() -> list[tuple]:
    """(shard_id, n_samples, size_bytes, tar_md5) for the COMPOSED image
    pipeline (filter -> phash-dedup -> shard), recomputed OUT of Spark:
    the pair-filter gates and alignment score replayed in plain Python
    (hashlib md5, same constants), exact-phash keep-first by min
    image_id, then the deterministic tar recipe. One literal relation
    value-hash-checks the whole lifecycle."""
    import hashlib
    import io
    import re
    import tarfile

    import pyarrow.parquet as pq
    from ai_intel_web_scraper_spark.operators.export import (
        WDS_SAMPLES_PER_SHARD)
    tbl = pq.read_table(
        _crawl_fixture_paths()["pages"],
        columns=["image_id", "bytes", "fmt", "caption", "phash", "w", "h"])
    rows = sorted(zip(*(tbl[c].to_pylist() for c in
                        ("image_id", "bytes", "fmt", "caption",
                         "phash", "w", "h"))))
    mask = (1 << MM.ALIGN_DIM) - 1

    def align(caption, phash):
        acc = [0] * MM.ALIGN_DIM
        for t in re.split(r"\s+", (caption or "").lower()):
            if not t:
                continue
            h = int(hashlib.md5(t.encode()).hexdigest()[:15], 16)
            for d in range(MM.ALIGN_DIM):
                acc[d] += 1 if (h >> d) & 1 else -1
        return sum((1 if a >= 0 else -1) * (1 if (phash >> d) & 1 else -1)
                   for d, a in enumerate(acc))

    kept = []
    for iid, data, fmt, cap, ph, w, h in rows:
        toks = [t for t in re.split(r"\s+", (cap or "").lower()) if t]
        if (min(w, h) >= MM.PAIR_MIN_SIDE
                and (max(w, h) * 100) // min(w, h) <= MM.PAIR_MAX_ASPECT_PCT
                and MM.PAIR_CAPTION_MIN_TOKENS <= len(toks)
                <= MM.PAIR_CAPTION_MAX_TOKENS
                and align(cap, ph) >= MM.ALIGN_KEEP_MIN):
            kept.append((iid, data, fmt, cap, ph))
    seen_ph = set()
    uniq = []
    for iid, data, fmt, cap, ph in kept:      # rows sorted by image_id
        if ph in seen_ph:
            continue
        seen_ph.add(ph)
        uniq.append((iid, data, fmt, cap))
    shards: dict[int, list] = {}
    for iid, data, fmt, cap in uniq:
        shards.setdefault(int(iid[4:12]) // WDS_SAMPLES_PER_SHARD,
                          []).append((iid, data, fmt, cap))
    out = []
    for sid, members in sorted(shards.items()):
        buf = io.BytesIO()
        with tarfile.open(fileobj=buf, mode="w",
                          format=tarfile.USTAR_FORMAT) as tar:
            for iid, data, fmt, cap in members:
                for name, payload in ((f"{iid}.{fmt}", bytes(data)),
                                      (f"{iid}.txt", cap.encode("utf-8"))):
                    ti = tarfile.TarInfo(name=name)
                    ti.size = len(payload)
                    ti.mtime = 0
                    ti.mode = 0o644
                    tar.addfile(ti, io.BytesIO(payload))
        data = buf.getvalue()
        out.append((sid, len(members), len(data),
                    hashlib.md5(data).hexdigest()))
    return out


def q_image_pipeline(spark, sf_dir):
    """The COMPOSED image-corpus lifecycle as one driver query (r4):
    DataComp-style pair filtering -> exact-phash keep-first dedup ->
    deterministic WebDataset shard export. The emitted per-shard tar
    md5s value-hash the ENTIRE pipeline (every gate, the dedup rule,
    member ordering, byte layout) against an out-of-Spark Python
    recompute inlined as a literal relation — the strongest end-to-end
    check the suite has for the image side."""
    from ai_intel_web_scraper_spark.operators.multimodal import pair_filters
    from ai_intel_web_scraper_spark.operators.export import webdataset_shards
    from pyspark.sql import Window
    pages = spark.read.parquet(_crawl_fixture_paths()["pages"])
    keeps = pair_filters(pages).where("keep").select("image_id")
    kept = pages.join(keeps, "image_id")
    wr = Window.partitionBy("phash").orderBy("image_id")
    uniq = (kept.withColumn("_rn", F.row_number().over(wr))
            .where(F.col("_rn") == 1).drop("_rn"))
    return webdataset_shards(uniq, with_bytes=False)


def q_webdataset_export(spark, sf_dir):
    """WebDataset shard sink (`operators/export.py:webdataset_shards`):
    the image+caption corpus packed into deterministic tar shards
    executor-side (stdlib tarfile, USTAR, mtime=0, members in image_id
    order — reproducible bytes). Emits the shard manifest; the oracle
    rebuilds every tar OUT of Spark and compares digests."""
    from ai_intel_web_scraper_spark.operators.export import webdataset_shards
    pages = spark.read.parquet(_crawl_fixture_paths()["pages"])
    return webdataset_shards(pages, with_bytes=False)


def _pages_qa_lit_rows() -> list[tuple]:
    """(image_id, phash, caption) straight from the fixture pages table —
    oracle INPUTS (not results); DuckDB recomputes the QA labels
    independently from them."""
    import pyarrow.parquet as pq
    tbl = pq.read_table(_crawl_fixture_paths()["pages"],
                        columns=["image_id", "phash", "caption"])
    return list(zip(tbl["image_id"].to_pylist(), tbl["phash"].to_pylist(),
                    tbl["caption"].to_pylist()))


def q_image_text_qa(spark, sf_dir):
    """Image-text pair QA (LAION-style curation over the north-rule
    image+caption table): exact-dup image group sizes, per-caption image
    spread (boilerplate-caption detection), and a keep-first decision —
    `operators/multimodal.py:image_text_qa`. Integer/boolean outputs
    only; the oracle recomputes the labels in SQL from the fixture's
    (image_id, phash, caption) as a literal relation."""
    from ai_intel_web_scraper_spark.operators.multimodal import image_text_qa
    pages = spark.read.parquet(_crawl_fixture_paths()["pages"])
    return image_text_qa(pages)


def _pair_lit_rows() -> list[tuple]:
    """(image_id, phash, caption, w, h) from the fixture pages table —
    oracle INPUTS for the pair-curation queries; DuckDB recomputes
    alignment scores and filter verdicts independently from them."""
    import pyarrow.parquet as pq
    tbl = pq.read_table(_crawl_fixture_paths()["pages"],
                        columns=["image_id", "phash", "caption", "w", "h"])
    return list(zip(tbl["image_id"].to_pylist(), tbl["phash"].to_pylist(),
                    tbl["caption"].to_pylist(), tbl["w"].to_pylist(),
                    tbl["h"].to_pylist()))


def _align_sql_parts() -> list[str]:
    """Shared CTE chain recomputing the caption-phash alignment score in
    DuckDB from the `pg` literal relation: md5-60bit token hashes (the
    engine-wide replayable slice trick), per-dimension +/-1 vote sums,
    sign vector, integer dot product with the phash bits. Duplicate
    tokens vote once per occurrence (unnest keeps duplicates), captions
    with no tokens get the all-+1 sign vector via the left join."""
    d = MM.ALIGN_DIM
    return [
        f"dims AS (SELECT i::INT AS d FROM generate_series(0, {d - 1}) t(i))",
        "tok AS (SELECT image_id, unnest(list_filter("
        "regexp_split_to_array(lower(caption), '\\s+'), x -> x <> ''))"
        " AS t FROM pg)",
        "th AS (SELECT image_id, ('0x' || substring(md5(t), 1, 15))::BIGINT"
        " AS h FROM tok)",
        "acc AS (SELECT image_id, d, sum(CASE WHEN (h >> d) & 1 = 1"
        " THEN 1 ELSE -1 END) AS a FROM th CROSS JOIN dims"
        " GROUP BY image_id, d)",
        "sgn AS (SELECT image_id, d, CASE WHEN a >= 0 THEN 1 ELSE -1 END"
        " AS s FROM acc)",
        "base AS (SELECT pg.image_id, pg.phash, dims.d, coalesce(sgn.s, 1)"
        " AS s FROM pg CROSS JOIN dims"
        " LEFT JOIN sgn ON sgn.image_id = pg.image_id AND sgn.d = dims.d)",
        "sc AS (SELECT image_id, sum(s * (CASE WHEN (phash >> d) & 1 = 1"
        " THEN 1 ELSE -1 END))::BIGINT AS align_score"
        " FROM base GROUP BY image_id)",
    ]


def q_warc_source(spark, sf_dir):
    """WARC ingest round trip (r5): per archive group, serialize
    documents-derived HTTP response records into a plain-WARC blob with
    the REAL `sources/warc.py::build_warc`, truncate ONE archive's blob
    mid-record, parse everything back with `read_warc_records`, and
    split HTTP bodies natively. The value hash pins the framing parser,
    Content-Length arithmetic, truncation accounting (records before
    the cut parse; one parse_ok=false row for the tail), and the
    header/body split. Oracle: DuckDB recomputes every expected row
    (incl. the exact content_length arithmetic) from the documents
    view — sf-independent, parser-independent."""
    import pandas as pd
    from ai_intel_web_scraper_spark.sources.warc import (build_warc,
                                                         http_response_body,
                                                         read_warc_records)
    docs = (_t(spark, sf_dir, "documents")
            .where(F.pmod("doc_id", F.lit(3)) == 0)
            .select("doc_id",
                    F.pmod("doc_id", F.lit(10)).cast("string")
                    .alias("archive_id")))

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        aid = str(pdf["archive_id"].iloc[0])
        recs = []
        for d in pdf["doc_id"]:
            d = int(d)
            content = (b"HTTP/1.1 200 OK\r\n"
                       b"Content-Type: text/plain\r\n\r\n"
                       + f"payload for doc {d}".encode())
            recs.append((f"urn:doc:{d}", "response",
                         f"https://host{d % 7}.example/d/{d}",
                         "2024-01-01T00:00:00Z", content))
        blob = build_warc(recs)
        if aid == "3":  # cut mid-record: the tail must ACCOUNT, not fail
            blob = blob[:-10]
        return pd.DataFrame({"archive_id": [aid], "warc_bytes": [blob]})

    archives = (docs.groupBy("archive_id")
                .applyInPandas(build,
                               "archive_id string, warc_bytes binary"))
    recs = read_warc_records(archives)
    return recs.select(
        "archive_id", "record_id", "warc_type", "target_uri",
        "content_length",
        http_response_body("content").alias("body"), "parse_ok")


def _warc_source_sql() -> str:
    """Expected WARC rows straight from the documents view: the literal
    content_length arithmetic (45-byte HTTP header + 16-byte body
    prefix + the doc_id's decimal width), archive 3's last record
    replaced by the truncation accounting row."""
    return """
        WITH d AS (
          SELECT doc_id, (doc_id % 10)::VARCHAR AS archive_id
          FROM documents WHERE doc_id % 3 = 0),
        mx AS (SELECT archive_id, max(doc_id) AS last_doc
               FROM d GROUP BY archive_id),
        ok AS (
          SELECT d.archive_id,
                 'urn:doc:' || d.doc_id AS record_id,
                 'response' AS warc_type,
                 'https://host' || (d.doc_id % 7) || '.example/d/'
                     || d.doc_id AS target_uri,
                 (45 + 16 + length(d.doc_id::VARCHAR))::BIGINT
                     AS content_length,
                 'payload for doc ' || d.doc_id AS body,
                 TRUE AS parse_ok
          FROM d JOIN mx ON mx.archive_id = d.archive_id
          WHERE NOT (d.archive_id = '3' AND d.doc_id = mx.last_doc))
        SELECT * FROM ok
        UNION ALL
        SELECT '3', NULL, NULL, NULL, NULL, NULL, FALSE"""


def _audio_amp(g: int, m: int, w: int) -> int:
    """Per-window square-wave amplitude for the audio near-dup fixture:
    lowbias32-mixed base in [16, 47], variant m perturbs windows
    20/40/60 (+3m) — each perturbed window can flip its two adjacent
    difference bits, so same-group fingerprints land within hamming 6
    while cross-group sequences stay far (verified: zero cross pairs
    within 10 at either sf)."""
    a = 16 + (_video_mix32(g * 131 + w * 17) >> 27)
    if w in (20, 40, 60):
        a += 3 * m
    return a


def q_audio_neardup(spark, sf_dir):
    """Audio near-dup (r5): synthesize amplitude-modulated square-wave
    WAVs per document subset (groups of 3 variants differing only in
    three perturbed windows), then the REAL chain — stdlib-wave decode,
    integer window energies, energy-difference fingerprint (Haitsma-
    Kalker shape, `multimodal.audio_fingerprints`), guaranteed-recall
    hamming block join. doc_id%77==0 clips carry corrupt bytes
    (decode_ok=false, excluded). Oracle: square-wave energies are
    a^2 * L exactly, so the fingerprint reduces to amplitude
    comparisons — replayed ANALYTICALLY inside DuckDB (unrolled mix32
    CTEs over the documents view, codec-free), then brute-forced."""
    import io
    import wave as wave_mod

    import numpy as np
    import pandas as pd
    from ai_intel_web_scraper_spark.operators.multimodal import (
        AUDIO_FP_WINDOWS, audio_hamming_neardup)
    docs = _t(spark, sf_dir, "documents").where(
        F.pmod("doc_id", F.lit(7)) == 0)
    meta = docs.select(
        F.col("doc_id").cast("string").alias("audio_id"),
        F.col("doc_id").alias("k"),
        (F.pmod("doc_id", F.lit(77)) == 0).alias("corrupt"))
    L = 32  # samples per energy window

    def enc(iterator):
        for pdf in iterator:
            rows = []
            for aid, k, corrupt in zip(pdf["audio_id"], pdf["k"],
                                       pdf["corrupt"]):
                if corrupt:
                    rows.append((aid, b"not a riff header"))
                    continue
                k = int(k)
                g, m = k // 21, (k % 21) // 7
                samples = []
                for w in range(AUDIO_FP_WINDOWS):
                    a = _audio_amp(g, m, w)
                    samples.extend([a, -a] * (L // 2))
                buf = io.BytesIO()
                with wave_mod.open(buf, "wb") as wf:
                    wf.setnchannels(1)
                    wf.setsampwidth(2)
                    wf.setframerate(8000)
                    wf.writeframes(np.array(samples,
                                            dtype=np.int16).tobytes())
                rows.append((aid, buf.getvalue()))
            yield pd.DataFrame(rows, columns=["audio_id", "bytes"])

    clips = meta.mapInPandas(enc, schema="audio_id string, bytes binary")
    return audio_hamming_neardup(clips, max_hamming=6)


def _audio_neardup_sql() -> str:
    """The fingerprint chain analytically in DuckDB: mix32 amplitude
    CTEs -> perturbation -> strict adjacent comparison bits -> signed
    BIGINT assembly (bit 63 via the sign-bit trick) -> brute-force
    O(n^2) pairs. Square-wave energies are amp^2 * L exactly, so
    comparing amplitudes IS comparing energies."""
    return """
        WITH clips AS (
          SELECT doc_id AS d, doc_id // 21 AS g, (doc_id % 21) // 7 AS m
          FROM documents WHERE doc_id % 7 = 0 AND doc_id % 77 <> 0),
        a0 AS (
          SELECT d, m, w, (g * 131 + w * 17) % 4294967296 AS x0
          FROM clips, LATERAL unnest(generate_series(0, 64)) t(w)),
        a1 AS (SELECT *, (xor(x0, x0 >> 16) * 73244475)
                         % 4294967296 AS x1 FROM a0),
        a2 AS (SELECT *, (xor(x1, x1 >> 16) * 73244475)
                         % 4294967296 AS x2 FROM a1),
        amp AS (
          SELECT d, w,
                 16 + (xor(x2, x2 >> 16) >> 27)
                 + CASE WHEN w IN (20, 40, 60) THEN 3 * m ELSE 0 END AS a
          FROM a2),
        bits AS (
          SELECT lo.d, lo.w AS j, (hi.a > lo.a) AS b
          FROM amp lo JOIN amp hi ON hi.d = lo.d AND hi.w = lo.w + 1
          WHERE lo.w < 64),
        fps AS (
          SELECT d::VARCHAR AS audio_id,
                 sum(CASE WHEN b THEN
                       CASE WHEN j = 63 THEN -9223372036854775807 - 1
                            ELSE (1::BIGINT << j) END
                     ELSE 0 END)::BIGINT AS fingerprint
          FROM bits GROUP BY d)
        SELECT a.audio_id AS id_a, b.audio_id AS id_b,
               bit_count(xor(a.fingerprint, b.fingerprint))::INT AS hamming
        FROM fps a JOIN fps b ON a.audio_id < b.audio_id
        WHERE bit_count(xor(a.fingerprint, b.fingerprint)) <= 6"""


CROSSMODAL_QUERIES = [
    ("q_harbor", "a bright harbor"),
    ("q_spindle", "pale spindle"),
    ("q_glacier", "warm glacier on host1.example"),
    ("q_prism", "sharp prism"),
]
CROSSMODAL_K = 7


def q_crossmodal_topk(spark, sf_dir):
    """Cross-modal retrieval (r5): rank images for literal text queries
    with the CLIP-proxy score — each query's sign vector collapses to a
    constant bitmask, so the whole search is native integer codegen
    (bit_count over XOR), no UDF, bytes never read; top-k per query is
    a literal-bound rank window (WindowGroupLimit). Oracle: the votes,
    signs, dot products AND the ranking recomputed in DuckDB from the
    query strings themselves — the engine's Python-side mask never
    enters the oracle."""
    from ai_intel_web_scraper_spark.operators.multimodal import (
        crossmodal_text_topk)
    pages = spark.read.parquet(_crawl_fixture_paths()["pages"])
    return crossmodal_text_topk(pages, CROSSMODAL_QUERIES, k=CROSSMODAL_K)


def _crossmodal_sql() -> str:
    """DuckDB replay of the whole cross-modal chain keyed by query_id:
    the `_align_sql_parts` vote/sign/dot recurrence with the literal
    query TEXTS in place of captions (parser-level independence from
    the engine's `text_sign_mask`), then the same deterministic
    (score DESC, image_id) ranking."""
    d = MM.ALIGN_DIM
    qvals = ", ".join(f"('{qid}', '{text}')"
                      for qid, text in CROSSMODAL_QUERIES)
    return f"""
        WITH pg AS (SELECT * FROM {_sql_values_table(
            _phash_lit_rows(), ["image_id", "phash"])}),
        qs AS (SELECT * FROM (VALUES {qvals}) t(query_id, qtext)),
        dims AS (SELECT i::INT AS d FROM generate_series(0, {d - 1}) t(i)),
        tok AS (SELECT query_id, unnest(list_filter(
            regexp_split_to_array(lower(qtext), '\\s+'),
            x -> x <> '')) AS t FROM qs),
        th AS (SELECT query_id,
                      ('0x' || substring(md5(t), 1, 15))::BIGINT AS h
               FROM tok),
        acc AS (SELECT query_id, d, sum(CASE WHEN (h >> d) & 1 = 1
                    THEN 1 ELSE -1 END) AS a
                FROM th CROSS JOIN dims GROUP BY query_id, d),
        sgn AS (SELECT query_id, d,
                       CASE WHEN a >= 0 THEN 1 ELSE -1 END AS s
                FROM acc),
        base AS (SELECT qs.query_id, pg.image_id, pg.phash, dims.d,
                        coalesce(sgn.s, 1) AS s
                 FROM qs CROSS JOIN pg CROSS JOIN dims
                 LEFT JOIN sgn ON sgn.query_id = qs.query_id
                              AND sgn.d = dims.d),
        sc AS (SELECT query_id, image_id,
                      sum(s * (CASE WHEN (phash >> d) & 1 = 1
                               THEN 1 ELSE -1 END))::BIGINT AS score
               FROM base GROUP BY query_id, image_id),
        rk AS (SELECT *, row_number() OVER (PARTITION BY query_id
                   ORDER BY score DESC, image_id) AS rank FROM sc)
        SELECT query_id, image_id, score, rank::INT AS rank
        FROM rk WHERE rank <= {CROSSMODAL_K}"""


def q_pair_alignment(spark, sf_dir):
    """Image-text alignment scoring (r4): the deterministic CLIP-score
    stand-in — caption projected to {-1,+1}^60 via md5-60bit token-hash
    votes, integer dot product with the phash bits
    (`operators/multimodal.py:pair_alignment`). The model call itself is
    out of scope by the V9 declaration (reference
    `vectorstore/embedder.py` calls a remote model); the Spark shape is
    the real thing: one narrow two-column Arrow map, bytes never read,
    integer output. Oracle recomputes every score from the (image_id,
    phash, caption) literal relation."""
    from ai_intel_web_scraper_spark.operators.multimodal import pair_alignment
    pages = spark.read.parquet(_crawl_fixture_paths()["pages"])
    return pair_alignment(pages)


HOST_BLOCK_KEEP_PERMILLE = 500  # block hosts whose pair keep-rate < 50%


def q_host_blocklist(spark, sf_dir):
    """Corpus-quality -> crawl-policy feedback (r4): aggregate the
    image-pair filter chain per HOST (pages joined to the web graph's
    image_id -> host mapping) and block hosts whose keep rate falls
    under HOST_BLOCK_KEEP_PERMILLE — the signal a continuous crawler
    feeds back into its exclude rules (SURVEY C6) so low-quality farms
    stop consuming fetch budget. Integer permille (n_keep*1000 DIV
    n_pages), map-side partial agg, broadcast-joinable host map."""
    from ai_intel_web_scraper_spark.operators.multimodal import pair_filters
    paths = _crawl_fixture_paths()
    pages = spark.read.parquet(paths["pages"])
    hosts = (spark.read.parquet(paths["web_graph"])
             .select("image_id", "host"))
    pf = pair_filters(pages).select("image_id", "keep")
    agg = (pf.join(hosts, "image_id")
           .groupBy("host")
           .agg(F.count("*").alias("n_pages"),
                F.sum(F.col("keep").cast("long")).alias("n_keep")))
    permille = F.expr("n_keep * 1000 DIV n_pages")
    return agg.select(
        "host", "n_pages", "n_keep", permille.alias("keep_permille"),
        (permille < F.lit(HOST_BLOCK_KEEP_PERMILLE)).alias("blocked"))


def _host_map_lit_rows() -> list[tuple]:
    """(image_id, host) from the fixture web graph — oracle input."""
    import pyarrow.parquet as pq
    tbl = pq.read_table(_crawl_fixture_paths()["web_graph"],
                        columns=["image_id", "host"])
    return list(zip(tbl["image_id"].to_pylist(), tbl["host"].to_pylist()))


def q_frontier_authority(spark, sf_dir):
    """Frontier priority composition (r4): integer PageRank over the
    fixture web's CANONICAL link graph (engine-side link resolution via
    the crawl scheduler's Arrow resolve UDF — SURVEY C3/C10), composed
    with the seed list's declared priorities into one integer frontier
    rank (`graph.py::authority_over` + AUTH_SEED_W). This is the
    authority signal a 10^10-URL scheduler joins against its pending
    frontier; keyed by URL directly — no dense-id/global-window pass.
    The oracle resolves the same out_links in pure Python
    (`functions.urls.canonicalize_url`, the oracle-crawler convention),
    inlines the resolved edge set as a literal relation, and replays the
    8 unrolled integer PR iterations + the seed compose in DuckDB."""
    from ai_intel_web_scraper_spark.crawl.scheduler import resolve_udf
    paths = _crawl_fixture_paths()
    wg = spark.read.parquet(paths["web_graph"])
    parents = wg.select(F.col("url").alias("src"),
                        F.explode("out_links").alias("link"))
    r = resolve_udf("link", F.col("src"))
    cand = (parents.select("src", r["url"].alias("dst"))
            .where(F.col("dst").isNotNull()))
    known = wg.select(F.col("url").alias("dst")).distinct()
    edges = cand.join(known, "dst").select("src", "dst").distinct()
    nodes = wg.select(F.col("url").alias("node")).distinct()
    pr = G.authority_over(nodes, edges)
    seeds = (spark.read.parquet(paths["seeds"])
             .groupBy(F.col("url").alias("node"))
             .agg(F.max(F.floor(F.col("priority") * 1e6)).cast("long")
                  .alias("seed_ppm")))
    boost = F.coalesce(F.col("seed_ppm"), F.lit(0))
    return (pr.join(seeds, "node", "left")
            .select(F.col("node").alias("url"),
                    F.col("r").alias("authority_r"),
                    boost.alias("seed_ppm"),
                    (F.col("r") + boost * F.lit(G.AUTH_SEED_W))
                    .cast("long").alias("frontier_rank")))


def _authority_lit() -> tuple[list, list, list]:
    """(urls, resolved distinct edges incl. dangling self-loops, seed
    rows) for the frontier_authority oracle — link resolution replayed
    in plain Python over the fixture parquet."""
    import pyarrow.parquet as pq

    from ai_intel_web_scraper_spark.functions.urls import canonicalize_url
    paths = _crawl_fixture_paths()
    tbl = pq.read_table(paths["web_graph"], columns=["url", "out_links"])
    urls = tbl["url"].to_pylist()
    known = set(urls)
    edges = set()
    for u, links in zip(urls, tbl["out_links"].to_pylist()):
        for link in links or []:
            cu = canonicalize_url(link, base_url=u)
            if cu is not None and cu in known:
                edges.add((u, cu))
    has_out = {s for s, _ in edges}
    for u in urls:
        if u not in has_out:
            edges.add((u, u))
    st = pq.read_table(paths["seeds"], columns=["url", "priority"])
    seeds = list(zip(st["url"].to_pylist(), st["priority"].to_pylist()))
    return urls, sorted(edges), seeds


def _frontier_authority_sql() -> str:
    """Unrolled integer-PR replay over the literal resolved edge set,
    keyed by URL (same recurrence as _pagerank_sql), + seed compose."""
    urls, edges, seeds = _authority_lit()
    n = len(urls)
    K = G.PR_ITERS
    SCALE, NUM, DEN = G.PR_SCALE, G.PR_DAMP_NUM, G.PR_DAMP_DEN
    base = (DEN - NUM) * SCALE // (DEN * n)
    parts = [
        "nodes AS (SELECT * FROM "
        + _sql_values_table([(u,) for u in urls], ["node"]) + ")",
        "edges AS (SELECT * FROM "
        + _sql_values_table(edges, ["src", "dst"]) + ")",
        "deg AS (SELECT src, count(*)::BIGINT AS outdeg "
        "FROM edges GROUP BY src)",
        f"r0 AS (SELECT node, {SCALE // n}::BIGINT AS r FROM nodes)",
    ]
    for it in range(K):
        parts.append(
            f"r{it + 1} AS (SELECT n.node, "
            f"({base} + ({NUM} * coalesce(s.c, 0)) // {DEN})::BIGINT AS r "
            f"FROM nodes n LEFT JOIN ("
            f"SELECT e.dst AS node, sum(r.r // d.outdeg)::BIGINT AS c "
            f"FROM edges e JOIN r{it} r ON r.node = e.src "
            f"JOIN deg d ON d.src = e.src GROUP BY e.dst) s USING (node))")
    parts.append(
        "seedp AS (SELECT url AS node, "
        "max(floor(priority * 1000000.0))::BIGINT AS seed_ppm FROM "
        + _sql_values_table(seeds, ["url", "priority"])
        + " GROUP BY url)")
    return ("WITH " + ",\n".join(parts)
            + f"\nSELECT r.node AS url, r.r AS authority_r, "
            f"coalesce(s.seed_ppm, 0)::BIGINT AS seed_ppm, "
            f"(r.r + coalesce(s.seed_ppm, 0) * {G.AUTH_SEED_W})::BIGINT "
            f"AS frontier_rank "
            f"FROM r{K} r LEFT JOIN seedp s USING (node)")


def q_pair_filters(spark, sf_dir):
    """DataComp-style pair filtering chain (r4): resolution floor ->
    aspect ceiling -> caption token window -> alignment threshold, with
    per-stage verdicts and first-failing-stage accounting
    (`operators/multimodal.py:pair_filters` — the hygiene_pipeline
    convention applied to the image corpus). Single narrow pass; every
    output integer/boolean/label."""
    from ai_intel_web_scraper_spark.operators.multimodal import pair_filters
    pages = spark.read.parquet(_crawl_fixture_paths()["pages"])
    return pair_filters(pages)


def q_crawl_frontier(spark, sf_dir):
    """The flagship: a full crawl on tiny fixtures; returns the fetched
    table in deterministic crawl order."""
    import shutil
    from ai_intel_web_scraper_spark.crawl.scheduler import (CrawlConfig,
                                                            CrawlEngine)
    wh = "/tmp/spark_graft_entry_wh"
    shutil.rmtree(wh, ignore_errors=True)
    # big virtual rounds amortize the per-round fixed cost (the scale story:
    # one DataFrame job over millions of frontier rows, not many tiny jobs)
    eng = CrawlEngine(spark, _crawl_fixture_paths(), wh,
                      CrawlConfig(expected_urls=1 << 12, write_payload=False,
                                  round_seconds=120.0))
    eng.run(max_rounds=4)
    return (eng.store.read("fetched")
            .select("url", "host", "depth", "round", "discovery_seq")
            .orderBy("round", "depth", "discovery_seq"))


def q_image_roundtrip(spark, sf_dir):
    """Image codec path under the value-hash gate: synthesize solid-color
    images per document, ENCODE them with the real PNG writer, then run
    the real decode + feature extraction (operators/multimodal.py). Solid
    colors at multiple-of-8 dimensions make every output analytic: channel
    means equal the color, the 8x8 average phash of a constant image is 0,
    and the PNG roundtrip is lossless."""
    import numpy as np
    import pandas as pd
    from ai_intel_web_scraper_spark.functions.codec import png_encode
    from ai_intel_web_scraper_spark.operators.multimodal import image_features
    docs = _t(spark, sf_dir, "documents")
    meta = docs.select(
        F.col("doc_id").cast("string").alias("image_id"),
        (16 + F.pmod("doc_id", F.lit(3)) * 8).cast("int").alias("w"),
        F.lit(16).alias("h"),
        F.pmod("doc_id", F.lit(256)).cast("int").alias("r"),
        F.pmod(F.col("doc_id") * 7, F.lit(256)).cast("int").alias("g"),
        F.pmod(F.col("doc_id") * 13, F.lit(256)).cast("int").alias("b"))

    def enc(iterator):
        for pdf in iterator:
            rows = []
            for iid, w, h, r, g, b in zip(pdf["image_id"], pdf["w"],
                                          pdf["h"], pdf["r"], pdf["g"],
                                          pdf["b"]):
                px = np.full((int(h), int(w), 3), (r, g, b), dtype=np.uint8)
                rows.append((iid, "png", png_encode(px)))
            yield pd.DataFrame(rows, columns=["image_id", "fmt", "bytes"])

    pages = meta.mapInPandas(
        enc, schema="image_id string, fmt string, bytes binary")
    # phash of a CONSTANT image depends on float rounding in the 8x8 mean
    # (strict > against an equal mean) — excluded here; phash behavior is
    # covered by phash_neardup + pytest planted-duplicate checks
    return image_features(pages).drop("phash")


def q_image_features(spark, sf_dir):
    pages = spark.read.parquet(_crawl_fixture_paths()["pages"])
    from ai_intel_web_scraper_spark.operators.multimodal import image_features
    return image_features(pages)


def q_phash_neardup(spark, sf_dir):
    pages = spark.read.parquet(_crawl_fixture_paths()["pages"])
    from ai_intel_web_scraper_spark.operators.multimodal import (
        phash_hamming_neardup)
    return phash_hamming_neardup(pages, max_hamming=6)


def q_incremental_image_dedup(spark, sf_dir):
    """Incremental image near-dup (r5) — the continuous-crawl shape on
    the IMAGE side, twin of `incremental_dedup`: split the fixture's
    pages by crc32(image_id) parity into archive vs delta, block only
    the delta and probe the archive's phash block table
    (`multimodal.incremental_phash_neardup`). The split leaves one
    planted pair archive-side-only, so the value hash also pins the key
    semantic: index-vs-index pairs are NEVER derived. Oracle
    brute-forces all O(n^2) pairs over the generator's ground-truth
    phashes with the same parity rule applied in Python (zlib.crc32 ==
    Spark/Java crc32)."""
    from ai_intel_web_scraper_spark.operators.multimodal import (
        incremental_phash_neardup)
    pages = (spark.read.parquet(_crawl_fixture_paths()["pages"])
             .select("image_id", "phash"))
    is_new = F.crc32(F.col("image_id").cast("binary")) % 2 == 0
    return incremental_phash_neardup(pages.where(is_new),
                                     pages.where(~is_new), max_hamming=6)


def _incr_phash_lit_rows() -> list[tuple]:
    """(image_id, phash, is_new) with the SAME parity rule as
    q_incremental_image_dedup's engine split."""
    import zlib
    return [(iid, ph, zlib.crc32(iid.encode()) % 2 == 0)
            for iid, ph in _phash_lit_rows()]


def q_stream_image_dedup(spark, sf_dir):
    """Streaming image-archive dedup (r5): the crc32 split's NEW side
    arrives as THREE micro-batches (maxFilesPerTrigger=1 file source);
    each foreachBatch probes the persisted phash block table and then
    appends its own blocks (`streaming/images.py`). The oracle is the
    batching-free brute force — the value hash pins the batch-boundary
    invariance: stream(3 batches) == one-shot incremental == SQL."""
    import shutil
    import zlib
    from ai_intel_web_scraper_spark.streaming.images import (
        streaming_incremental_phash_dedup)
    rows = _phash_lit_rows()
    new = sorted((iid, ph) for iid, ph in rows
                 if zlib.crc32(iid.encode()) % 2 == 0)
    idx = [(iid, ph) for iid, ph in rows
           if zlib.crc32(iid.encode()) % 2 == 1]
    # tmpfs: the stream's per-batch checkpoint/append IO is the query's
    # main cost at fixture scale (session spark.local.dir is /dev/shm
    # for the same reason)
    work = ("/dev/shm/spark_graft_entry_stream_img"
            if os.path.isdir("/dev/shm") else
            "/tmp/spark_graft_entry_stream_img")
    shutil.rmtree(work, ignore_errors=True)
    src = os.path.join(work, "src")
    os.makedirs(src, exist_ok=True)
    import pyarrow as pa
    import pyarrow.parquet as papq
    step = -(-len(new) // 3)
    for b in range(3):
        chunk = new[b * step:(b + 1) * step]
        if chunk:  # flat files: the parquet stream source doesn't recurse
            papq.write_table(
                pa.table({"image_id": [i for i, _ in chunk],
                          "phash": pa.array([p for _, p in chunk],
                                            type=pa.int64())}),
                os.path.join(src, f"b{b}.parquet"))
    archive = spark.createDataFrame(idx, "image_id string, phash long")
    return streaming_incremental_phash_dedup(
        spark, src, archive, max_hamming=6,
        work_dir=os.path.join(work, "state"))


# ---- video near-dup fixture: deterministic 8x8 grayscale frames. The
# ---- lowbias32 avalanche mix matters: a weaker per-pixel hash leaves
# ---- phash bit patterns correlated across (group, frame) and the
# ---- signature space collapses into accidental cross-group collisions
# ---- (observed with both raw-Knuth and xor-of-squares patterns).

def _video_mix32(x: int) -> int:
    m = (1 << 32) - 1
    x &= m
    x = ((x ^ (x >> 16)) * 0x45d9f3b) & m
    x = ((x ^ (x >> 16)) * 0x45d9f3b) & m
    return x ^ (x >> 16)


def _video_frame_px(g: int, m: int, i: int, n: int) -> list:
    """Pixel values (row-major, 64 ints) of frame i for variant m of
    video group g with n frames. Variants differ ONLY in a 4-pixel edit
    to frame n-2 (a sampled frame under every_n=2) — the
    logo-overlay-changed shape near-dup must tolerate. Grayscale keeps
    every mean in the phash chain integer-exact on both engines."""
    px = []
    for idx in range(64):
        v = _video_mix32(g * 1000003 + i * 10007 + idx) >> 24
        if i == n - 2 and idx % 16 == 0:
            v = (v + 29 * m) % 256
        px.append(v)
    return px


def _video_sig_rows(sf_dir: str) -> list[tuple]:
    """(video_id, signature) replayed ANALYTICALLY in pure Python — an
    independent reimplementation of the whole engine chain (PNG/MJPN
    codec -> average_phash -> frame-vote SimHash), never importing the
    codec: frames are synthesized from the formula, the 8x8 phash
    reduces to per-pixel `v > mean(v)` with exact integer means, and
    the vote/threshold rules are re-stated from crawl-semantics-style
    first principles. Corrupt clips (doc_id%55==0) are skipped, exactly
    as decode_ok=false rows never reach the engine's block join."""
    import pyarrow.parquet as pq

    ids = pq.read_table(os.path.join(sf_dir, "documents.parquet"),
                        columns=["doc_id"])["doc_id"].to_pylist()
    rows = []
    for d in ids:
        d = int(d)
        if d % 5 != 0 or d % 55 == 0:
            continue
        g, m = d // 20, (d % 20) // 5
        n = 6 + 4 * (g % 2)  # 3 or 5 sampled frames — odd, so the
        #                      majority vote never ties (an even count
        #                      pins ~37% of bits to the tie value and
        #                      collapses signature entropy)
        votes = [0] * 64
        for i in range(0, n, 2):
            px = _video_frame_px(g, m, i, n)
            mean = sum(px) / 64.0  # integer-valued float64, exact
            ph = 0
            for idx, v in enumerate(px):
                if v > mean:
                    ph |= 1 << (63 - idx)  # MSB-first, pixel (0,0) = bit 63
            for j in range(64):
                votes[j] += 1 if (ph >> j) & 1 else -1
        sig = 0
        for j in range(64):
            if votes[j] > 0:
                sig |= 1 << j
        if sig >= 1 << 63:
            sig -= 1 << 64
        rows.append((str(d), sig))
    return rows


def q_video_neardup(spark, sf_dir):
    """Video near-dup (r5): synthesize MJPN clips per document subset
    (groups of 4 variants differing only in a 4-pixel edit to one
    sampled frame), then run the REAL chain — random-access frame
    sampling, per-frame phash, frame-vote SimHash signature
    (`multimodal.video_signatures`), guaranteed-recall hamming block
    join (`video_neardup`). Same-group pairs land at distance 0-6;
    cross-group pairs stay far (no accidental pairs at either sf).
    doc_id%55==0 clips carry corrupt bytes and must degrade to
    decode_ok=false (excluded), never fail. Oracle: the analytic
    signature replay (`_video_sig_rows`) brute-forced O(n^2) in
    DuckDB — an independent check of the block join's recall."""
    import numpy as np
    import pandas as pd
    from ai_intel_web_scraper_spark.functions.codec import mjpng_encode
    from ai_intel_web_scraper_spark.operators.multimodal import (
        video_neardup)
    docs = _t(spark, sf_dir, "documents").where(
        F.pmod("doc_id", F.lit(5)) == 0)
    meta = docs.select(
        F.col("doc_id").cast("string").alias("video_id"),
        F.col("doc_id").alias("k"),
        (F.pmod("doc_id", F.lit(55)) == 0).alias("corrupt"))

    def enc(iterator):
        for pdf in iterator:
            rows = []
            for vid, k, corrupt in zip(pdf["video_id"], pdf["k"],
                                       pdf["corrupt"]):
                if corrupt:
                    rows.append((vid, b"EBML not an mjpn container"))
                    continue
                k = int(k)
                g, m = k // 20, (k % 20) // 5
                n = 6 + 4 * (g % 2)
                frames = [np.array(_video_frame_px(g, m, i, n),
                                   dtype=np.uint8).reshape(8, 8, 1)
                          .repeat(3, axis=2) for i in range(n)]
                rows.append((vid, mjpng_encode(frames)))
            yield pd.DataFrame(rows, columns=["video_id", "bytes"])

    clips = meta.mapInPandas(enc, schema="video_id string, bytes binary")
    return video_neardup(clips, max_hamming=6, every_n=2)


def q_audio_features(spark, sf_dir):
    """Audio path under the value-hash gate (mirrors image_roundtrip):
    synthesize square-wave PCM WAVs per document with stdlib `wave`,
    decode them with the REAL audio_features operator. Square-wave
    features are closed-form — duration = frames/sr, rms = amp/32768
    EXACTLY in float (power-of-two scale, no rounding anywhere) — so
    DuckDB recomputes them analytically. doc_id%13==0 rows carry corrupt
    bytes and must come back decode_ok=false, not fail the task."""
    import io
    import wave

    import numpy as np
    import pandas as pd
    from ai_intel_web_scraper_spark.operators.multimodal import (
        audio_features)
    docs = _t(spark, sf_dir, "documents")
    meta = docs.select(
        F.col("doc_id").cast("string").alias("audio_id"),
        (F.pmod("doc_id", F.lit(2000)) * 16 + 16).cast("int").alias("amp"),
        (F.pmod("doc_id", F.lit(13)) == 0).alias("corrupt"))

    def enc(iterator):
        for pdf in iterator:
            rows = []
            for aid, amp, corrupt in zip(pdf["audio_id"], pdf["amp"],
                                         pdf["corrupt"]):
                if corrupt:
                    rows.append((aid, b"not a riff header"))
                    continue
                wavef = np.tile(np.array([amp, -amp], dtype=np.int16), 2000)
                buf = io.BytesIO()
                with wave.open(buf, "wb") as w:
                    w.setnchannels(1)
                    w.setsampwidth(2)
                    w.setframerate(8000)
                    w.writeframes(wavef.tobytes())
                rows.append((aid, buf.getvalue()))
            yield pd.DataFrame(rows, columns=["audio_id", "bytes"])

    clips = meta.mapInPandas(enc, schema="audio_id string, bytes binary")
    return audio_features(clips)


def q_video_frames(spark, sf_dir):
    """Video path under the value-hash gate: per document, pack 8-12
    solid-color frames into the MJPN container (functions/codec.py, the
    declared mp4 stand-in), then run the REAL video_frame_sample operator
    (every_n=4, random-access seek decodes only sampled frames). Solid
    colors make every sampled frame's channel means exact integers, so
    DuckDB recomputes the whole result analytically; doc_id%11==0 rows
    carry corrupt bytes (decode_ok=false path). frame_png is dropped
    here (cross-engine PNG-byte hashing belongs to pytest roundtrips)."""
    import numpy as np
    import pandas as pd
    from ai_intel_web_scraper_spark.functions.codec import mjpng_encode
    from ai_intel_web_scraper_spark.operators.multimodal import (
        video_frame_sample)
    docs = _t(spark, sf_dir, "documents")
    meta = docs.select(
        F.col("doc_id").cast("string").alias("video_id"),
        F.col("doc_id").alias("k"),
        (8 + F.pmod("doc_id", F.lit(5))).cast("int").alias("n_frames"),
        (F.pmod("doc_id", F.lit(11)) == 0).alias("corrupt"))

    def enc(iterator):
        for pdf in iterator:
            rows = []
            for vid, k, n, corrupt in zip(pdf["video_id"], pdf["k"],
                                          pdf["n_frames"], pdf["corrupt"]):
                if corrupt:
                    rows.append((vid, b"EBML not an mjpn container"))
                    continue
                frames = [np.full((8, 8, 3),
                                  ((k + i) % 256, (k * 3 + 7 * i) % 256,
                                   (k * 5) % 256), dtype=np.uint8)
                          for i in range(int(n))]
                rows.append((vid, mjpng_encode(frames)))
            yield pd.DataFrame(rows, columns=["video_id", "bytes"])

    clips = meta.mapInPandas(enc, schema="video_id string, bytes binary")
    return video_frame_sample(clips, every_n=4).drop("frame_png")


def q_cursor_source(spark, sf_dir):
    """SURVEY S3/S4 (reference github_scraper.py:113-216,233-334): the
    cursor-paginated source shape under the hash gate — fetch_page serves
    100-row pages of the documents table with an opaque cursor, the
    accumulator unions page batches; result must equal the table."""
    import pyarrow.parquet as pq
    from ai_intel_web_scraper_spark.sources.records import (
        cursor_paginated_source)
    tbl = pq.read_table(os.path.join(sf_dir, "documents.parquet"),
                        columns=["doc_id", "n_chars"])
    page_size = 100

    def fetch_page(cursor):
        start = int(cursor or 0)
        sl = tbl.slice(start, page_size)
        rows = [(int(a), int(b)) for a, b in
                zip(sl["doc_id"].to_pylist(), sl["n_chars"].to_pylist())]
        nxt = start + page_size
        return rows, (str(nxt) if nxt < tbl.num_rows else None)

    return cursor_paginated_source(spark, fetch_page,
                                   "doc_id long, n_chars long",
                                   pages_per_batch=3)


def q_vectorize_pipeline(spark, sf_dir):
    """SURVEY §3.3 lifecycle composite under the value-hash gate
    (reference pipeline.py:537-547 -> ingest -> chunk -> embed -> upsert):
    runs the REAL vectorize() pipeline — recursive chunking with context
    prefix, md5 hash embedding, MERGE upsert into the snapshot store —
    then reads the committed chunks table back as scalar rows."""
    import shutil
    from ai_intel_web_scraper_spark.pipelines import vectorize
    docs = _t(spark, sf_dir, "documents")
    wh = "/tmp/spark_graft_entry_vec_wh"
    shutil.rmtree(wh, ignore_errors=True)
    store = vectorize(spark, docs, wh, prefix_cols=["source"])
    chunks = store.read("chunks")
    return (chunks.select("doc_id", "chunk_index", "chunk_id", "token_count",
                          F.posexplode("embedding").alias("dim", "value"))
            .select("doc_id", "chunk_index", "chunk_id", "token_count",
                    "dim",
                    F.round(F.col("value").cast("double"), 6).alias("value")))


def _hash_embed_sql(rel: str, key: str, text_col: str) -> str:
    """Embedder oracle over any relation `rel` keyed by `key`: the md5
    hash scheme + exact-integer accumulate + IEEE normalize reproduce the
    Spark UDF bit-for-bit (see operators/vectors.py::hash_embed_udf)."""
    return f"""(
      WITH toks AS (
        SELECT {key},
               unnest(regexp_split_to_array(trim(lower({text_col})),
                                            '\\s+')) AS tok
        FROM {rel}),
      hv AS (
        SELECT {key},
               ('0x' || substring(md5(tok), 1, 8))::BIGINT
                   % {V.EMBED_DIM} AS idx,
               CASE WHEN ('0x' || substring(md5(tok), 9, 2))::BIGINT % 2 = 1
                    THEN 1.0 ELSE -1.0 END AS sgn
        FROM toks),
      acc AS (SELECT {key}, idx, sum(sgn)::DOUBLE AS a
              FROM hv GROUP BY {key}, idx),
      dims AS (SELECT {key}, d.dim FROM {rel},
               (SELECT unnest(generate_series(0, {V.EMBED_DIM - 1}))
                    AS dim) d),
      vec AS (SELECT dims.{key} AS {key}, dims.dim,
                     coalesce(acc.a, 0.0) AS a
              FROM dims LEFT JOIN acc
                ON acc.{key} = dims.{key} AND acc.idx = dims.dim),
      nrm AS (SELECT {key}, sqrt(sum(a * a)) AS n
              FROM vec GROUP BY {key})
      SELECT vec.{key} AS {key}, dim,
             round(CAST(CAST(CASE WHEN n > 0 THEN a / n ELSE a END
                        AS REAL) AS DOUBLE), 6) AS value
      FROM vec JOIN nrm ON vec.{key} = nrm.{key})"""


# --------------------------------------------- community-source oracle SQL

def _sql_margin_sentiment(expr: str) -> str:
    """community_scraper.py:294-319 margin rule, generated from the same
    signal lists the Spark column uses."""
    from ai_intel_web_scraper_spark.sources import community as CM
    neg = _sql_contains_count(expr, CM.NEGATIVE_SIGNALS)
    pos = _sql_contains_count(expr, CM.POSITIVE_SIGNALS)
    return (f"CASE WHEN {neg} > {pos} + 1 THEN 'negative' "
            f"WHEN {pos} > {neg} + 1 THEN 'positive' "
            f"WHEN {neg} > 0 AND {pos} > 0 THEN 'mixed' "
            f"ELSE 'neutral' END")


def _reddit_source_sql() -> str:
    return f"""
        WITH base AS (
          SELECT doc_id, text, n_chars, {_sql_words()} AS w FROM documents),
        p AS (
          SELECT doc_id,
                 'https://www.reddit.com/r/sub' || (doc_id % 5)::VARCHAR
                   || '/comments/' || doc_id::VARCHAR AS url,
                 array_to_string(list_slice(w, 1, 4), ' ') AS title,
                 CASE WHEN doc_id % 3 <> 0 THEN text ELSE '' END AS selftext,
                 'sub' || (doc_id % 5)::VARCHAR AS subreddit,
                 (n_chars % 500)::INT AS score,
                 1600000000.0 + doc_id * 1000 AS created_utc
          FROM base),
        r AS (
          SELECT *, CASE WHEN length(selftext) > 0
                         THEN '# ' || title || chr(10) || chr(10) || selftext
                         ELSE '# ' || title END AS text2
          FROM p)
        SELECT 'acme-community_reddit-' || substring(sha256(url), 1, 12)
                   AS id,
               url, title,
               strftime(DATE '1970-01-01'
                        + floor(created_utc / 86400)::INT,
                        '%Y-%m-%d') AS content_date,
               {_sql_margin_sentiment("lower(title || ' ' || selftext)")}
                   AS sentiment,
               len(regexp_split_to_array(trim(text2), '\\s+'))::INT
                   AS word_count,
               subreddit, score
        FROM r
        WHERE len(regexp_split_to_array(trim(text2), '\\s+')) >= 10"""


def _hn_source_sql() -> str:
    from ai_intel_web_scraper_spark.sources import community as CM
    # coalesce: DuckDB array_to_string(empty_list) is NULL, which would
    # NULL-poison the concatenation (Spark's concat_ws yields '')
    com = ("'**c{k}**: ' || trim(regexp_replace('<p>' || "
           "coalesce(array_to_string(list_slice(w, {a}, {b}), ' '), '') "
           "|| '</p>', '<[^>]+>', ' ', 'g'))")
    return f"""
        WITH base AS (SELECT doc_id, {_sql_words()} AS w FROM documents),
        p AS (
          SELECT doc_id, doc_id::VARCHAR AS oid,
                 array_to_string(list_slice(w, 1, 5), ' ') AS title,
                 CASE WHEN doc_id % 4 = 0 THEN ''
                      ELSE 'https://orig.example/p/' || doc_id::VARCHAR
                      END AS story_url,
                 (doc_id % 20)::INT AS points,
                 CASE WHEN doc_id % 2 = 0 AND doc_id % 20 > {CM.HN_POINTS_FLOOR}
                      THEN [{com.format(k=0, a=7, b=9)},
                            {com.format(k=1, a=10, b=12)},
                            {com.format(k=2, a=13, b=15)}]
                      ELSE []::VARCHAR[] END AS top
          FROM base),
        r AS (
          SELECT *,
                 'https://news.ycombinator.com/item?id=' || oid AS hn_url,
                 '# ' || title || chr(10) || chr(10) || 'HN Discussion: '
                   || 'https://news.ycombinator.com/item?id=' || oid
                   || CASE WHEN length(story_url) > 0
                           THEN chr(10) || 'Original URL: ' || story_url
                           ELSE '' END
                   || CASE WHEN len(top) > 0
                           THEN chr(10) || chr(10) || '## Top Comments'
                             || chr(10) || chr(10)
                             || array_to_string(top, chr(10) || chr(10)
                                                || '---' || chr(10) || chr(10))
                           ELSE '' END AS text2
          FROM p)
        SELECT 'acme-community_hn-' || substring(sha256(hn_url), 1, 12) AS id,
               hn_url AS url, title, text2 AS text,
               {_sql_margin_sentiment(
                   "lower(title || ' ' || "
                   "coalesce(array_to_string(top, ' '), ''))")}
                   AS sentiment,
               len(regexp_split_to_array(trim(text2), '\\s+'))::INT
                   AS word_count,
               points, len(top)::INT AS n_top_comments
        FROM r"""


# ---------------------------------------------------------------- contract

def entry(spark: SparkSession) -> DataFrame:
    """Flagship smoke: multi-operator pipeline over sf0.001 — tag topics,
    quality-filter, dedup, aggregate per (source, topic)."""
    sf_dir = "/root/testdata/sf0.001"
    docs = _t(spark, sf_dir, "documents")
    deduped = D.keep_first(
        docs.withColumn("content_key", F.md5(F.lower(F.trim("text")))),
        ["content_key"], ["doc_id"])
    kept = X.quality_filter(deduped, "text").where(F.col("reason") == "kept")
    tags = X.topic_scores(kept, "doc_id", "text")
    return (kept.join(tags, "doc_id")
            .groupBy("source", "topic")
            .agg(F.count("*").alias("n_docs"),
                 F.round(F.avg("score"), 6).alias("avg_score"))
            .orderBy("source", "topic"))


def q_repetition_signals(spark, sf_dir):
    """Gopher-style per-doc repetition signals (corpus-hygiene addition):
    duplicate-word mass, most-frequent 2-gram + its occurrence count, and
    duplicate-5-gram occurrence counts. Integer counts (hash-stable); the
    filterable fractions live on the operator and in pytest."""
    docs = _t(spark, sf_dir, "documents")
    return CP.repetition_signals(docs, "doc_id", "text").drop("dup_word_frac")


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination: docs sharing any word 4-gram with the
    planted 'benchmark' slice (doc_id % 50 == 0). Broadcast gram-set
    semi-join — the GPT-3 appendix-C overlap check as a Spark plan."""
    docs = _t(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 50 == 0)
    rest = docs.where(F.col("doc_id") % 50 != 0)
    return CP.contamination_hits(rest, bench, "doc_id", "text",
                                 n=CP.DECONTAM_N)


def q_pii_scrub(spark, sf_dir):
    """PII detect + redact over documents with deterministically planted
    PII (every 7th doc gains an email, a phone, and an IPv4 — planted
    identically in the oracle). Emits counts + md5 of the redacted text."""
    docs = _t(spark, sf_dir, "documents")
    planted = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.format_string(
                "%s reach user%d@example.com call 415-555-%04d from 10.0.%d.25",
                F.col("text"), F.col("doc_id"),
                (F.col("doc_id") % 10000).cast("int"),
                (F.col("doc_id") % 256).cast("int")))
        .otherwise(F.col("text")).alias("text"))
    return planted.select(
        "doc_id", *CP.pii_counts(F.col("text")),
        F.md5(CP.pii_redact(F.col("text"))).alias("redacted_md5"))


def q_lm_quality(spark, sf_dir):
    """CCNet-style LM quality filter: score each document under the fixed
    reference char-bigram LM (integer micro-nat log-probs — exact
    cross-engine sums). The keep/discard threshold a pipeline applies is
    score_micronats / n_bigrams; the driver checks the raw integers."""
    docs = _t(spark, sf_dir, "documents")
    return CP.lm_score(docs, "doc_id", "text")


def q_hygiene_pipeline(spark, sf_dir):
    """Corpus-hygiene lifecycle composite (the pretraining analog of the
    reference's process stage, §3.2 / P10 accounting): exact dedup →
    benchmark decontamination → repetition filter → reference-LM filter →
    PII flag count, with per-stage record accounting. All keep/drop rules
    are integer comparisons (CP constants) — exact both engines.

    SINGLE-PASS shape: each per-doc signal (fingerprint rank,
    contamination flag, repetition counts, LM score — all pure per-doc
    functions) is computed ONCE over the corpus and folded into a
    ``dropped_at`` terminal-stage label; the stage counts are one
    aggregate + stack. The naive formulation (a count branch per stage)
    re-executes the window + join + both Arrow UDFs up to 5x."""
    docs = _t(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 50 == 0)
    flagged = CP.contamination_hits(
        docs.where(F.col("doc_id") % 50 != 0), bench, "doc_id", "text",
        n=CP.DECONTAM_N).select("doc_id", F.lit(True).alias("_cont"))
    rep = CP.repetition_signals(docs, "doc_id", "text")
    lm = CP.lm_score(docs, "doc_id", "text")
    # same modulo-7 planting rule as q_pii_scrub, email clause only
    planted_email_hits = F.size(F.regexp_extract_all(
        F.format_string("%s reach user%d@example.com", F.col("text"),
                        F.col("doc_id")), F.lit(CP.PII_EMAIL), 0))
    labeled = (
        docs.select("doc_id", "text")
        .withColumn("_fp", X.fingerprint_col(F.col("text")))
        .withColumn("_rn", F.row_number().over(
            Window.partitionBy("_fp").orderBy("doc_id")))
        .join(flagged, "doc_id", "left")
        .join(rep.select("doc_id", "n_words", "n_distinct_words",
                         "top2_cnt", "top2_total"), "doc_id")
        .join(lm.select("doc_id", "n_bigrams", "score_micronats"), "doc_id")
        .withColumn("dropped_at", F.when(F.col("_rn") > 1, 1)
            .when(F.col("_cont"), 2)
            .when((CP.REP_DUPWORD_DEN
                   * (F.col("n_words") - F.col("n_distinct_words"))
                   >= CP.REP_DUPWORD_NUM * F.col("n_words"))
                  | (CP.REP_TOP2_DEN * F.col("top2_cnt")
                     >= F.col("top2_total")), 3)
            .when(F.col("score_micronats")
                  <= F.col("n_bigrams") * F.lit(CP.LM_KEEP_MICRONATS), 4)))

    def survives(stage):
        return F.col("dropped_at").isNull() | (F.col("dropped_at") > stage)

    agg = labeled.agg(
        F.count("*").cast("long").alias("n1"),
        F.sum(survives(1).cast("long")).alias("n2"),
        F.sum(survives(2).cast("long")).alias("n3"),
        F.sum(survives(3).cast("long")).alias("n4"),
        F.sum(survives(4).cast("long")).alias("n5"),
        F.sum((F.col("dropped_at").isNull() & (F.col("doc_id") % 7 == 0)
               & (planted_email_hits > 0)).cast("long")).alias("n6"))
    return agg.select(F.expr(
        "stack(6, '1_raw', n1, '2_exact_deduped', n2,"
        " '3_decontaminated', n3, '4_repetition_kept', n4,"
        " '5_lm_kept', n5, '6_pii_flagged', n6) AS (stage, n)"))


def q_dup_spans(spark, sf_dir):
    """Corpus-hygiene addition (late r3): exact-substring duplicate-span
    detection — Lee et al. 2021 ExactSubstr analog via positional n-gram
    seeding + island merge (`operators/corpus.py:duplicate_spans`).
    Reference ships no corpus-level dedup beyond record identity
    (`processors/deduplicator.py` URL/id rules); this is the
    training-data extension SURVEY §2.7 calls for. Emits per-doc exact
    integers (span count, duplicated word mass, longest run)."""
    docs = _t(spark, sf_dir, "documents")
    spans = CP.duplicate_spans(docs, "doc_id", "text")
    return (spans.groupBy("doc_id")
            .agg(F.count("*").cast("long").alias("n_dup_spans"),
                 F.sum(F.col("span_end") - F.col("span_start"))
                 .cast("long").alias("dup_words"),
                 F.max(F.col("span_end") - F.col("span_start"))
                 .cast("long").alias("max_span")))


def q_asof_clicks(spark, sf_dir):
    """Temporal addition (late r3): backward as-of join — each click
    attaches the same user's most recent at-or-before view
    (`operators/temporal.py:asof_join`, the union-tag one-shuffle shape).
    The oracle is DuckDB's NATIVE `ASOF LEFT JOIN` — an independent
    formulation of the semantics. Gap emitted as exact integer
    microseconds; unmatched clicks keep NULLs."""
    ev = _t(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click")
    views = ev.where(F.col("event_type") == "view")
    j = TM.asof_join(clicks, views, "user_id", "ts", "ts", ["event_id"])
    return j.select(
        "event_id", "user_id",
        F.col("asof.event_id").alias("view_event_id"),
        (TM.ts_us(F.col("ts")) - TM.ts_us(F.col("asof._rts")))
        .cast("long").alias("gap_us"))


def q_range_windows(spark, sf_dir):
    """Temporal addition (late r3): interval/range join — events against
    40 overlapping maintenance windows via the bucketed equi-join shape
    (`operators/temporal.py:range_interval_join`; the naive BETWEEN
    theta-join plans as BroadcastNestedLoopJoin). Oracle = DuckDB's plain
    BETWEEN join. Money goes through integer cents (CLAUDE.md rule)."""
    ev = _t(spark, sf_dir, "events")
    w = TM.maintenance_windows(spark)
    j = TM.range_interval_join(ev, w, "ts", "start_us", "end_us")
    return (j.groupBy("window_id")
            .agg(F.count("*").cast("long").alias("n_events"),
                 F.countDistinct("user_id").cast("long").alias("n_users"),
                 F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long"))
                 .alias("value_cents")))


def q_recrawl_schedule(spark, sf_dir):
    """Recrawl scheduling (Cho & Garcia-Molina freshness): per-key change
    rate from an observation log (a change = fingerprint differs from the
    key's previous observation), refetch interval = observed span DIV
    changes clamped to [6h, 30d], next_due = last observation + interval
    (`operators/temporal.py:recrawl_schedule` — one shuffle, window and
    agg share the key partitioning). The events table stands in as the
    fetch history: user_id = page, event_type = content fingerprint.
    Every emitted value is an exact integer."""
    return TM.recrawl_schedule(_t(spark, sf_dir, "events"),
                               "user_id", "ts", "event_type", "event_id")


def q_stream_recrawl(spark, sf_dir):
    """Streaming recrawl due-queue (applyInPandasWithState): per-key
    fetch-observation state folded across micro-batches; driven to
    completion here so the final emission per key must equal the BATCH
    freshness recurrence exactly (same oracle SQL as recrawl_schedule).
    Multi-batch in-order accumulation is covered by
    tests/test_streaming.py."""
    from ai_intel_web_scraper_spark.streaming.events import (
        run_stream_once, streaming_recrawl_state)
    rows = run_stream_once(spark, os.path.join(sf_dir, "events.parquet"),
                           streaming_recrawl_state, output_mode="update")
    return spark.createDataFrame(
        rows, "user_id long, n_obs long, n_changes long, "
              "change_rate_ppm long, interval_us long, next_due_us long")


def q_pagerank(spark, sf_dir):
    """Graph addition (late r3): integer-quantized PageRank over the
    deterministic synthetic link graph (`operators/graph.py`) — the
    crawl-frontier authority signal. 8 Pregel-style iterations, every
    step exact 64-bit integer arithmetic, so the DuckDB oracle (the SAME
    recurrence as 8 unrolled CTEs) hash-matches every node's rank —
    an iterative algorithm with a full value check, not rows-only."""
    return G.pagerank(G.link_graph(spark), G.PR_N)


def q_kmeans(spark, sf_dir):
    """Clustering addition (late r3): distributed integer-exact Lloyd's
    k-means over the embedding table — the trained-codebook upgrade to the
    data-sample coarse quantizers IVF/SemDeDup use. 4 iterations, every
    step 64-bit integer arithmetic (floor-quantized components, integer
    squared distances, integer centroid means), so the DuckDB oracle (the
    SAME recurrence as unrolled CTEs) hash-matches every point's
    (cluster, qdist) — an iterative float-free algorithm with a full
    value check."""
    emb = _t(spark, sf_dir, "embeddings")
    return KM.kmeans(emb)


def q_pack_shards(spark, sf_dir):
    """Dataset-assembly addition (late r3): deterministic global shuffle +
    concat-and-split sequence packing into fixed-token-budget training
    shards. Per-doc (start_offset, shard_id, offset_in_shard, n_spans) —
    all exact integers; the two-level distributed prefix sum must equal
    the oracle's single global window."""
    docs = _t(spark, sf_dir, "documents")
    return PK.pack_shards(docs, "doc_id", "text")


def q_mixture_sample(spark, sf_dir):
    """Dataset-assembly addition (late r3): hash-thresholded domain-
    mixture downsampling toward the module's target source weights.
    Emits integer (n_before, n_kept) per source — the kept counts pin the
    exact per-row threshold decisions cross-engine."""
    docs = _t(spark, sf_dir, "documents")
    sampled = PK.mixture_sample(docs, "doc_id", "source")
    return (sampled.groupBy("source")
            .agg(F.count("*").cast("long").alias("n_before"),
                 F.sum(F.col("kept").cast("long")).alias("n_kept"))
            .orderBy("source"))


def q_shard_spans(spark, sf_dir):
    """Dataset-assembly addition (late r3): per-(document, shard) token-
    span manifest — pack_shards exploded so each shard a document
    touches gets one row with exact in-shard offsets (the slice list a
    training loader consumes). Native sequence->explode, narrow over
    the packed frame; oracle replays with generate_series."""
    docs = _t(spark, sf_dir, "documents")
    return PK.shard_spans(PK.pack_shards(docs, "doc_id", "text"), "doc_id")


def q_pack_curriculum(spark, sf_dir):
    """Dataset-assembly addition (late r3): curriculum-stratified shard
    packing — token-count quality bands pack strata-major (all band-0
    tokens before any band-1), seeded-shuffled within each band, via the
    composite `stratum << 60 | key`. Same two-level prefix-sum
    machinery and exact-integer outputs as pack_shards."""
    docs = _t(spark, sf_dir, "documents")
    docs = docs.withColumn(
        "stratum",
        PK.curriculum_stratum_col(X.token_count_col(F.col("text"))
                                  .cast("long")))
    return PK.pack_shards(docs, "doc_id", "text",
                          strata_col="stratum", n_strata=3)


def q_mixture_tokens(spark, sf_dir):
    """Dataset-assembly addition (late r3): token-weighted domain
    mixture (the DoReMi convention — rates target token mass, not doc
    counts). Emits exact integer per-source (tok_before, tok_kept,
    n_kept)."""
    docs = _t(spark, sf_dir, "documents").withColumn(
        "n_toks", X.token_count_col(F.col("text")).cast("long"))
    sampled = PK.mixture_sample(docs, "doc_id", "source",
                                tokens_col="n_toks")
    return (sampled.groupBy("source")
            .agg(F.sum("n_toks").alias("tok_before"),
                 F.sum(F.when(F.col("kept"), F.col("n_toks"))
                       .otherwise(F.lit(0))).alias("tok_kept"),
                 F.sum(F.col("kept").cast("long")).alias("n_kept"))
            .orderBy("source"))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # The driver checks the FIRST 50 keys each round (CORRECTNESS_r{N}).
    # Rotation policy (SURVEY §2.7): fix-verification and new queries
    # lead, then the queries with the OLDEST driver evidence, then
    # everything touched by this round's code changes; stable recent
    # greens sit past position 50. Standing rule from the r4 verdict:
    # aim for oldest-evidence age <= 2 rounds (113 keys / 50 per round
    # means some age-2 stragglers are unavoidable; they lead next round).
    # r5 window = the 2 revenue keys (round()-free cents fix
    # verification; ship_probe_date retired — its question was answered
    # in r4) + 10 new r5 queries (authority_crawl, a bucketed-layout
    # crawl since deleted, cms_point_queries, incremental_image_dedup,
    # video_neardup, stream_image_dedup, webdataset_budget, crossmodal_topk,
    # audio_neardup, warc_source) + the 27 queries whose last green was
    # r2 + 11 of the 12 touched-by-r5-code keys (host_blocklist r4-green
    # slipped just past the fold, with the r3-green minhash_greedy /
    # minhash_verified / process_pipeline / shard_spans / mixture_sample
    # / pack_shards; the r3 greens lead the r6 window).
    return {
        # --- fix verification: round()-free revenue_cents (r5 task #1) --
        "top_revenue_orders": q_top_revenue_orders,
        "ship_probe_revenue": q_ship_probe_revenue,
        # --- new in r5: authority feedback LIVE, and
        # --- driver evidence for the late-r4 cms_estimates left-join fix
        "authority_crawl": q_authority_crawl,
        "cms_point_queries": q_cms_point_queries,
        "incremental_image_dedup": q_incremental_image_dedup,
        "video_neardup": q_video_neardup,
        "stream_image_dedup": q_stream_image_dedup,
        "webdataset_budget": q_webdataset_budget,
        "crossmodal_topk": q_crossmodal_topk,
        "audio_neardup": q_audio_neardup,
        "warc_source": q_warc_source,
        # --- stale evidence: last driver green was r2 (27 queries) ------
        "bench_numbers": q_bench_numbers,
        "boilerplate_clean": q_boilerplate_clean,
        "budget_prefix": q_budget_prefix,
        "cube_stats": q_cube_stats,
        "date_extraction": q_date_extraction,
        "events_keep_first": q_events_keep_first,
        "fingerprint_stats": q_fingerprint_stats,
        "group_stats": q_group_stats,
        "history_compaction": q_history_compaction,
        "json_extract": q_json_extract,
        "lang_id": q_lang_id,
        "length_quantiles": q_length_quantiles,
        "minhash_pairs": q_minhash_pairs,
        "nation_coverage": q_nation_coverage,
        "paginated_preseed": q_paginated_preseed,
        "prefix_dup_groups": q_prefix_dup_groups,
        "quality_score": q_quality_score,
        "record_ids": q_record_ids,
        "relevance": q_relevance,
        "sentiment_counts": q_sentiment_counts,
        "source_status": q_source_status,
        "sql_top_events": q_sql_top_events,
        "token_count": q_token_count,
        "token_window_chunks": q_token_window_chunks,
        "topic_fanout": q_topic_fanout,
        "topk_cosine": q_topk_cosine,
        "word_count": q_word_count,
        # --- touched by r5 code changes (quantization migration, asof
        # --- tie projection, robots oracle bound, pq k-threading,
        # --- scheduler rank/anti-join refactor) -------------------------
        "crawl_frontier": q_crawl_frontier,
        "asof_clicks": q_asof_clicks,
        "range_windows": q_range_windows,
        "robots_sitemaps": q_robots_sitemaps,
        "pq_topk": q_pq_topk,
        "ivf_pq_topk": q_ivf_pq_topk,
        "stream_enrich": q_stream_enrich,
        "stream_sessions": q_stream_sessions,
        "stream_windowed_counts": q_stream_windowed_counts,
        "stream_budget_state": q_stream_budget_state,
        "adaptive_quality": q_adaptive_quality,
        # ---------------- past the 50-query window ----------------------
        # (host_blocklist r4-green + the r3-green keys below slipped
        # past the fold as the late-r5 queries above landed; the r3
        # greens LEAD r6)
        "host_blocklist": q_host_blocklist,
        "minhash_greedy": q_minhash_greedy,
        "minhash_verified": q_minhash_verified,
        "process_pipeline": q_process_pipeline,
        "shard_spans": q_shard_spans,
        "mixture_sample": q_mixture_sample,
        "pack_shards": q_pack_shards,
        # r4 greens (driver rows in CORRECTNESS_r04), lead candidates for
        # the r6 window together with the remaining r3 greens below
        "repetition_signals": q_repetition_signals,   # r3 green
        "pack_curriculum": q_pack_curriculum,
        "mixture_tokens": q_mixture_tokens,
        "dup_spans": q_dup_spans,
        "pagerank_hosts": q_pagerank,
        "semdedup": q_semdedup,
        "hll_registers": q_hll_registers,
        "hll_card": q_hll_card,
        "cms_heavy_hitters": q_cms_heavy_hitters,
        "stratified_sample": q_stratified_sample,
        "group_quantiles": q_group_quantiles,
        "stream_hll": q_stream_hll,
        "cc_hosts": q_cc_hosts,
        "kmeans_clusters": q_kmeans,
        "ann_ivf_trained": q_ann_ivf_trained,
        "recrawl_schedule": q_recrawl_schedule,
        "image_text_qa": q_image_text_qa,
        "sitemap_ingest": q_sitemap_ingest,
        "stream_recrawl": q_stream_recrawl,
        "webdataset_export": q_webdataset_export,
        "ship_probe_date": q_ship_probe_date,   # retired probe (r4 saga)
        "image_features": q_image_features,
        "phash_neardup": q_phash_neardup,
        "text_metrics": q_text_metrics,
        "metadata_sanitize": q_metadata_sanitize,
        "audio_features": q_audio_features,
        "video_frames": q_video_frames,
        "query_analysis": q_query_analysis,
        "bpe_tokens": q_bpe_tokens,
        "bpe_chunks": q_bpe_chunks,
        "decontaminate": q_decontaminate,
        "pii_scrub": q_pii_scrub,
        "lm_quality": q_lm_quality,
        "hygiene_pipeline": q_hygiene_pipeline,
        "stream_dedup": q_stream_dedup,
        "pair_alignment": q_pair_alignment,
        "pair_filters": q_pair_filters,
        "frontier_authority": q_frontier_authority,
        "incremental_dedup": q_incremental_dedup,
        "image_pipeline": q_image_pipeline,
        # r3 greens
        "embedding_neardup": q_embedding_neardup,
        "recursive_chunks": q_recursive_chunks,
        "chunk_dispatch": q_chunk_dispatch,
        "hash_embed": q_hash_embed,
        "vectorize_pipeline": q_vectorize_pipeline,
        "image_roundtrip": q_image_roundtrip,
        "cursor_source": q_cursor_source,
        "bin_pack": q_bin_pack,
        "pricing_summary": q_pricing_summary,
        "docs_keep_first": q_docs_keep_first,
        "topic_tags": q_topic_tags,
        "quality_filter": q_quality_filter,
        "rrf_fusion": q_rrf_fusion,
        "jaccard_top_pairs": q_jaccard_top_pairs,
        "user_quota": q_user_quota,
        "url_classify": q_url_classify,
        "html_extract": q_html_extract,
        "reddit_source": q_reddit_source,
        "hn_source": q_hn_source,
        "global_budget": q_global_budget,
        "new_docs_anti": q_new_docs_anti,
        "simhash_pairs": q_simhash_pairs,
        "ann_lsh_topk": q_ann_lsh_topk,
        "ann_ivf_topk": q_ann_ivf_topk,
    }


def oracle_sql() -> dict[str, str]:
    lower = "lower(text)"
    topic_scores_sql = " UNION ALL ".join(
        f"SELECT doc_id, '{name}' AS topic, {i} AS tidx, "
        f"{_sql_topic_score(lower, kws)} AS score "
        f"FROM documents"
        for i, (name, kws) in enumerate(X.TOPICS.items()))
    pos = _sql_contains_count(lower, X.POS_WORDS)
    neg = _sql_contains_count(lower, X.NEG_WORDS)
    lang_scores = ", ".join(
        f"{_sql_contains_count(lower, ws)} AS s_{lg}"
        for lg, ws in sorted(X.LANG_STOPWORDS.items()))
    lang_best = "greatest(" + ", ".join(
        f"s_{lg}" for lg in sorted(X.LANG_STOPWORDS)) + ")"
    lang_case = ("CASE WHEN " + lang_best + " = 0 THEN 'unknown' " +
                 " ".join(f"WHEN s_{lg} = {lang_best} THEN '{lg}'"
                          for lg in sorted(X.LANG_STOPWORDS)) +
                 " ELSE 'unknown' END")
    wc = f"len({_sql_words()})"
    dot_a = f"list_dot_product(embedding::DOUBLE[], {_sql_vec_lit(QUERY_VEC_A)})"
    dot_b = f"list_dot_product(embedding::DOUBLE[], {_sql_vec_lit(QUERY_VEC_B)})"
    cos_a = (f"({dot_a} / (sqrt(list_dot_product(embedding::DOUBLE[], "
             f"embedding::DOUBLE[])) * "
             f"{np.sqrt(sum(x * x for x in QUERY_VEC_A))!r}))")
    qs_stop = _sql_contains_count(lower, X.LANG_STOPWORDS["en"])
    topic_tags_sql = f"""
            WITH tagged AS (
              SELECT doc_id, topic, round(score, 6) AS score FROM (
                SELECT doc_id, topic, score,
                       row_number() OVER (PARTITION BY doc_id
                                          ORDER BY score DESC, tidx) AS rn
                FROM ({topic_scores_sql})
                WHERE score >= {X.TOPIC_MIN_SCORE})
              WHERE rn <= {X.TOPIC_TOP_N})
            SELECT doc_id, topic, score FROM tagged
            UNION ALL
            SELECT doc_id, 'unclassified' AS topic, 0.0 AS score
            FROM documents
            WHERE doc_id NOT IN (SELECT doc_id FROM tagged)"""
    # exact n-gram jaccard over ALL pairs sharing a shingle (the complete
    # exact answer — the oracle side of the MinHash-LSH queries)
    jaccard_all = f"""
            WITH sh AS (
              SELECT doc_id AS id, unnest(list_distinct(sh_list)) AS shingle
              FROM (
                SELECT doc_id,
                       [array_to_string(list_slice(w, i, i + 2), ' ')
                        for i in generate_series(1, greatest(len(w) - 2, 1))]
                           AS sh_list
                FROM (SELECT doc_id, {_sql_words("lower(text)")} AS w
                      FROM documents))),
            sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
            inter AS (
              SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_int
              FROM sh a JOIN sh b
                ON a.shingle = b.shingle AND a.id < b.id
              GROUP BY a.id, b.id),
            jac AS (
              SELECT id_a, id_b,
                     round(n_int / (sa.n_sh + sb.n_sh - n_int), 6) AS jaccard
              FROM inter
              JOIN sizes sa ON sa.id = id_a
              JOIN sizes sb ON sb.id = id_b)"""
    # 60-bit simhash signature recomputed in SQL: per bit, sign of the
    # +/-1 vote sum over md5-hashed tokens (matches dedup.simhash_udf)
    sim_bits = " + ".join(
        f"(CASE WHEN sum(((h >> {b}) & 1) * 2 - 1) > 0 "
        f"THEN (1::BIGINT << {b}) ELSE 0 END)"
        for b in range(D.SIMHASH_BITS))
    simhash_sql = f"""
            WITH toks AS (
              SELECT doc_id,
                     unnest(regexp_split_to_array(trim(lower(text)), '\\s+'))
                         AS tok
              FROM documents),
            hv AS (SELECT doc_id,
                          ('0x' || substring(md5(tok), 1, 15))::BIGINT AS h
                   FROM toks),
            sig AS (SELECT doc_id, {sim_bits} AS sim
                    FROM hv GROUP BY doc_id)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   bit_count(xor(a.sim, b.sim))::INT AS hamming
            FROM sig a JOIN sig b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.sim, b.sim)) <= {SIMHASH_MAX_HAMMING}"""
    # ANN LSH bucket expression with the (seeded) hyperplanes inlined
    from ai_intel_web_scraper_spark.operators.vectors import (_hyperplanes,
                                                              N_HYPERPLANES)
    H = _hyperplanes(EMB_DIM)
    bucket_expr = " + ".join(
        f"(CASE WHEN list_dot_product(embedding::DOUBLE[], "
        f"{_sql_vec_lit([float(x) for x in H[j]])}) > 0 "
        f"THEN {1 << j} ELSE 0 END)"
        for j in range(N_HYPERPLANES))
    probes = ", ".join(str(p) for p in V.query_probes(QUERY_VEC_A, 2))
    # recursive chunker closed form for separator-free word-soup text:
    # chunk k covers words [k*stride, k*stride+max); chunk k>0 exists iff
    # it contains a word beyond the previous chunk's coverage, i.e.
    # stride*k <= n - overlap - 1 (derivation in operators/chunking.py)
    stride = C.CHUNK_TOKENS - C.CHUNK_OVERLAP
    rec_chunks_sql = f"""
            WITH base AS (
              SELECT doc_id, source, w, len(w) AS n FROM (
                SELECT doc_id, source, {_sql_words()} AS w FROM documents)),
            ch AS (
              SELECT doc_id, k::INT AS chunk_index,
                     '[' || source || '] ' || array_to_string(
                       list_slice(w, {stride} * k + 1,
                                  least({stride} * k + {C.CHUNK_TOKENS}, n)),
                       ' ') AS chunk_text,
                     (least({stride} * k + {C.CHUNK_TOKENS}, n)
                      - {stride} * k)::INT AS token_count
              FROM base, LATERAL unnest(generate_series(
                0, greatest((n - {C.CHUNK_OVERLAP} - 1) // {stride}, 0)))
                  t(k))
            SELECT doc_id, chunk_index, chunk_text, token_count,
                   substring(sha256(doc_id::VARCHAR || ':' ||
                             chunk_index::VARCHAR || ':' ||
                             substring(chunk_text, 1, 100)), 1, 12)
                       AS chunk_id
            FROM ch"""
    # chunk-dispatch oracle: every synthesized section fits the budget, so
    # each strategy's chunks are closed-form strings (see q_chunk_dispatch)
    _c = ("'Comment on ''' || 'T' || doc_id::VARCHAR || ''': ' || "
          "array_to_string(list_slice(w, {0}, {1}), ' ')")
    chunk_dispatch_sql = f"""
            WITH parts AS (
              SELECT doc_id, doc_id % 5 AS b,
                     'T' || doc_id::VARCHAR AS title,
                     array_to_string(list_slice(w, 1, 8), ' ') AS f8,
                     array_to_string(list_slice(w, 1, 12), ' ') AS f12,
                     array_to_string(list_slice(w, 5, 16), ' ') AS f12b,
                     array_to_string(list_slice(w, 1, 10), ' ') AS f10,
                     array_to_string(list_slice(w, 1, 20), ' ') AS f20,
                     array_to_string(list_slice(w, 1, 30), ' ') AS f30,
                     {_c.format(1, 6)} AS c1,
                     {_c.format(4, 9)} AS c2,
                     {_c.format(7, 12)} AS c3,
                     chr(10) AS nl
              FROM (SELECT doc_id, {_sql_words()} AS w FROM documents)),
            ch AS (
              SELECT doc_id, 'docs' AS strategy, 0 AS chunk_index,
                     title || nl || f8 AS chunk_text
              FROM parts WHERE b = 0
              UNION ALL SELECT doc_id, 'docs', 1,
                     title || ' > Alpha' || nl || f12 FROM parts WHERE b = 0
              UNION ALL SELECT doc_id, 'docs', 2,
                     title || ' > Alpha > Beta' || nl || f12b
              FROM parts WHERE b = 0
              UNION ALL SELECT doc_id, 'blog', 0, title || nl || f8
              FROM parts WHERE b = 1
              UNION ALL SELECT doc_id, 'blog', 1,
                     title || nl || '## Alpha' || nl || f12
              FROM parts WHERE b = 1
              UNION ALL SELECT doc_id, 'blog', 2,
                     title || nl || '### Beta' || nl || f12b
              FROM parts WHERE b = 1
              UNION ALL SELECT doc_id, 'single', 0, title || nl || f30
              FROM parts WHERE b = 2
              UNION ALL SELECT doc_id, 'issue', 0,
                     title || ' (state: open)' || nl || f10
              FROM parts WHERE b = 3
              UNION ALL SELECT doc_id, 'issue', 1,
                     c1 || nl || nl || c2 || nl || nl || c3
              FROM parts WHERE b = 3
              UNION ALL SELECT doc_id, 'generic', 0, title || ' ' || f20
              FROM parts WHERE b = 4)
            SELECT doc_id, strategy, chunk_index::INT AS chunk_index,
                   chunk_text,
                   len(regexp_split_to_array(chunk_text, '\\s+'))::INT
                       AS token_count,
                   substring(sha256(doc_id::VARCHAR || ':' ||
                             chunk_index::VARCHAR || ':' ||
                             substring(chunk_text, 1, 100)), 1, 12)
                       AS chunk_id
            FROM ch"""
    dirty = ("'Accept all cookies to continue. ' || text || "
             "' Subscribe to our newsletter for updates! "
             "Follow us on twitter © 2024 Example Corp'")
    for p in X.BOILERPLATE_PATTERNS:
        dirty = f"regexp_replace({dirty}, '{p}', ' ', 'g')"
    cleaned_sql = f"trim(regexp_replace({dirty}, '\\s+', ' ', 'g'))"

    # --- R5 query-analysis fragments (generated from QA module constants
    # so the rule set cannot drift between engine and oracle) -----------
    qa_query_case = """CASE doc_id % 4
                  WHEN 0 THEN printf('how does questdb compare to clickhouse for %s workloads', w1)
                  WHEN 1 THEN printf('what is the ingest throughput benchmark of kx on %s', w1)
                  WHEN 2 THEN printf('prospect worried about clickhouse licensing and %s', w1)
                  ELSE printf('tell me about %s internals', w1) END"""
    qa_lo = "lower(user_query)"
    qa_comp_csv = "concat_ws(',', " + ", ".join(
        "CASE WHEN regexp_matches({lo}, '\\b{c}\\b') THEN '{c}' END"
        .format(lo=qa_lo, c=c) for c in QA.COMPETITORS) + ")"
    qa_topic_csv = "concat_ws(',', " + ", ".join(
        "CASE WHEN regexp_matches({lo}, '\\b({p})\\b') THEN '{t}' END"
        .format(lo=qa_lo, t=t, p="|".join(kws))
        for t, kws in X.TOPICS.items()) + ")"
    qa_ncomp = "(" + " + ".join(
        "CASE WHEN regexp_matches({lo}, '\\b{c}\\b') THEN 1 ELSE 0 END"
        .format(lo=qa_lo, c=c) for c in QA.COMPETITORS) + ")"
    qa_intent = (
        f"CASE WHEN regexp_matches({qa_lo}, '{QA.INTENT_COMPARISON_RE}') "
        f"OR {qa_ncomp} >= 2 THEN 'comparison' "
        f"WHEN regexp_matches({qa_lo}, '{QA.INTENT_OBJECTION_RE}') "
        f"THEN 'objection_handling' "
        f"WHEN regexp_matches({qa_lo}, '{QA.INTENT_FACTUAL_RE}') "
        f"THEN 'factual' ELSE '{QA.FALLBACK_INTENT}' END")
    qa_hint = "CASE " + " ".join(
        f"WHEN regexp_matches({qa_lo}, '{p}') THEN '{n}'"
        for n, p in QA.HINT_RULES) + " ELSE '<null>' END"

    return {
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 4) AS sum_qty,
                   round(sum(l_extendedprice), 4) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 4)
                       AS sum_disc_price,
                   round(avg(l_quantity), 4) AS avg_qty,
                   count(*)::BIGINT AS n_items
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus""",
        "docs_keep_first": """
            SELECT min(doc_id) AS doc_id,
                   md5(lower(trim(text))) AS content_key
            FROM documents GROUP BY md5(lower(trim(text)))""",
        "events_keep_first": """
            SELECT user_id, event_id, event_type FROM (
              SELECT user_id, event_id, event_type,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS rn
              FROM events) WHERE rn = 1""",
        "topic_tags": topic_tags_sql,
        "topic_fanout": f"""
            SELECT topic, count(*)::BIGINT AS n_docs,
                   array_to_string(list(doc_id ORDER BY doc_id), ',')
                       AS doc_ids
            FROM ({topic_tags_sql}) GROUP BY topic""",
        "boilerplate_clean": f"""
            SELECT doc_id, {cleaned_sql} AS cleaned FROM documents""",
        "quality_filter": f"""
            WITH synth AS (
              SELECT doc_id,
                CASE doc_id % 7
                  WHEN 1 THEN array_to_string(list_slice(w, 1, 10), ' ')
                  WHEN 2 THEN '``` ' || text || ' ```'
                  WHEN 3 THEN text || ' skip to content. table of contents.'
                              || ' cookie policy.'
                  WHEN 4 THEN repeat('lorem ipsum ', 45)
                  WHEN 5 THEN repeat('lorem ipsum ', 45)
                  WHEN 6 THEN repeat('/nav ', 20)
                              || array_to_string(list_slice(w, 1, 25), ' ')
                  ELSE text END AS t,
                CASE WHEN doc_id % 7 = 4 THEN 'benchmark'
                     WHEN doc_id % 7 IN (0, 2) THEN 'docs'
                     ELSE 'blog' END AS src
              FROM (SELECT doc_id, text,
                           {_sql_words()} AS w FROM documents)),
            feat AS (
              SELECT doc_id, src,
                len(w2) AS wc,
                greatest({", ".join(_sql_topic_score("lower(t)", kws)
                                    for kws in X.TOPICS.values())})
                    >= {X.TOPIC_MIN_SCORE} AS has_topics,
                coalesce(list_sum([length(x) for x in
                    regexp_extract_all(t, '{X.CODE_FENCE_RX}')]), 0)
                  / greatest(length(t), 1) AS code_ratio,
                ({_sql_contains_count("lower(t)", X.BOILERPLATE_PHRASES)})
                    >= {X.BOILER_MIN_PHRASES}
                OR (len(w2) < {X.BOILER_SHORT_WORDS}
                    AND len(list_filter(w2, x -> starts_with(x, 'http')
                                               OR starts_with(x, '/')))
                        > len(w2) * {X.BOILER_LINK_RATIO}) AS boiler
              FROM (SELECT *, {_sql_words("t")} AS w2 FROM synth))
            SELECT doc_id, src,
              CASE WHEN wc < {X.MIN_WORDS_QUALITY} THEN 'too_short'
                   WHEN src NOT IN ({", ".join(
                       f"'{s}'" for s in X.TOPIC_EXEMPT_TYPES)})
                        AND NOT has_topics THEN 'no_topics'
                   WHEN src = '{X.DOCS_TYPE}'
                        AND code_ratio > {X.MAX_CODE_RATIO}
                        THEN 'mostly_code'
                   WHEN boiler THEN 'boilerplate'
                   ELSE 'kept' END AS reason
            FROM feat""",
        "word_count": f"SELECT doc_id, {wc}::BIGINT AS wc FROM documents",
        "relevance": f"""
            SELECT doc_id,
                   round({_sql_contains_count(lower, REL_KEYWORDS)}
                         / {float(len(REL_KEYWORDS))}, 6) AS rel_score
            FROM documents""",
        "sentiment_counts": f"""
            SELECT label, count(*)::BIGINT AS n FROM (
              SELECT CASE WHEN {pos} > {neg} THEN 'positive'
                          WHEN {neg} > {pos} THEN 'negative'
                          WHEN {pos} = {neg} AND {pos} > 0 THEN 'mixed'
                          ELSE 'neutral' END AS label
              FROM documents) GROUP BY label""",
        "budget_prefix": f"""
            SELECT l_orderkey, l_linenumber FROM (
              SELECT l_orderkey, l_linenumber,
                     sum(cents) OVER (
                       PARTITION BY l_orderkey ORDER BY l_linenumber, cents
                       ROWS UNBOUNDED PRECEDING) AS run
              FROM (SELECT l_orderkey, l_linenumber,
                           CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                               AS cents
                    FROM lineitem)) WHERE run <= {BUDGET_LINEITEM * 100}""",
        "history_compaction": f"""
            SELECT user_id, event_id FROM (
              SELECT user_id, event_id,
                     sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) OVER (
                       PARTITION BY user_id ORDER BY ts DESC, event_id DESC
                       ROWS UNBOUNDED PRECEDING) AS run
              FROM events) WHERE run <= {BUDGET_EVENTS * 100}""",
        "rrf_fusion": f"""
            WITH s0 AS (SELECT vec_id, {dot_a} AS score FROM embeddings),
                 s1 AS (SELECT vec_id, {dot_b} AS score FROM embeddings),
                 ranked AS (
                   SELECT vec_id,
                          row_number() OVER (ORDER BY score DESC, vec_id)
                              AS rank FROM s0
                   UNION ALL
                   SELECT vec_id,
                          row_number() OVER (ORDER BY score DESC, vec_id)
                              AS rank FROM s1)
            SELECT vec_id,
                   round(sum(1.0 / ({R.RRF_K} + rank)), 6) AS rrf_score
            FROM ranked GROUP BY vec_id
            ORDER BY rrf_score DESC, vec_id LIMIT 20""",
        "topk_cosine": f"""
            SELECT vec_id, round({cos_a}, 6) AS score
            FROM embeddings ORDER BY score DESC, vec_id LIMIT {TOPK}""",
        "group_stats": """
            SELECT c_mktsegment, o_orderstatus,
                   count(*)::BIGINT AS n_orders,
                   round(sum(o_totalprice), 4) AS total_price,
                   round(avg(o_totalprice), 4) AS avg_price
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment, o_orderstatus""",
        "cube_stats": """
            SELECT o_orderpriority, o_orderstatus, count(*)::BIGINT AS n,
                   round(sum(o_totalprice), 4) AS total_price
            FROM orders GROUP BY CUBE (o_orderpriority, o_orderstatus)""",
        "prefix_dup_groups": f"""
            SELECT content_key, count(*)::BIGINT AS n_dups,
                   min(doc_id) AS keep_id FROM (
              SELECT doc_id,
                     md5(array_to_string(list_slice({_sql_words()}, 1, 3),
                                         ' ')) AS content_key
              FROM documents)
            GROUP BY content_key HAVING count(*) > 1""",
        "jaccard_top_pairs": f"""
            {jaccard_all}
            SELECT id_a, id_b, jaccard FROM jac
            WHERE jaccard >= {MINHASH_THRESHOLD}
            ORDER BY jaccard DESC, id_a, id_b LIMIT 20""",
        "repetition_signals": f"""
            WITH base AS (SELECT doc_id, {_sql_words()} AS w FROM documents),
            b AS (SELECT doc_id, len(w)::BIGINT AS n_words,
                         len(list_distinct(w))::BIGINT AS n_distinct_words
                  FROM base),
            g2 AS (SELECT doc_id,
                          unnest({_sql_grams(CP.TOP_GRAM_N)}) AS gram
                   FROM base WHERE len(w) >= {CP.TOP_GRAM_N}),
            c2 AS (SELECT doc_id, gram, count(*) AS cnt FROM g2
                   GROUP BY doc_id, gram),
            t2 AS (SELECT doc_id, gram AS top2_gram, cnt AS top2_cnt FROM (
                     SELECT doc_id, gram, cnt, row_number() OVER (
                       PARTITION BY doc_id ORDER BY cnt DESC, gram) AS rn
                     FROM c2) WHERE rn = 1),
            g5 AS (SELECT doc_id,
                          unnest({_sql_grams(CP.DUP_GRAM_N)}) AS gram
                   FROM base WHERE len(w) >= {CP.DUP_GRAM_N}),
            c5 AS (SELECT doc_id, gram, count(*) AS cnt FROM g5
                   GROUP BY doc_id, gram),
            d5 AS (SELECT doc_id, sum(cnt)::BIGINT AS dup5_total,
                          sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END)::BIGINT
                              AS dup5_hits
                   FROM c5 GROUP BY doc_id)
            SELECT b.doc_id, n_words, n_distinct_words,
                   coalesce(top2_gram, '') AS top2_gram,
                   coalesce(top2_cnt, 0)::BIGINT AS top2_cnt,
                   greatest(n_words - {CP.TOP_GRAM_N - 1}, 0)::BIGINT
                       AS top2_total,
                   coalesce(dup5_hits, 0)::BIGINT AS dup5_hits,
                   coalesce(dup5_total, 0)::BIGINT AS dup5_total
            FROM b LEFT JOIN t2 ON b.doc_id = t2.doc_id
                   LEFT JOIN d5 ON b.doc_id = d5.doc_id""",
        "decontaminate": f"""
            WITH bg AS (SELECT DISTINCT gram FROM (
                   SELECT unnest({_sql_grams(CP.DECONTAM_N)}) AS gram
                   FROM (SELECT {_sql_words()} AS w FROM documents
                         WHERE doc_id % 50 = 0)
                   WHERE len(w) >= {CP.DECONTAM_N})),
            dg AS (SELECT DISTINCT doc_id, gram FROM (
                   SELECT doc_id,
                          unnest({_sql_grams(CP.DECONTAM_N)}) AS gram
                   FROM (SELECT doc_id, {_sql_words()} AS w FROM documents
                         WHERE doc_id % 50 <> 0)
                   WHERE len(w) >= {CP.DECONTAM_N}))
            SELECT doc_id, count(*)::BIGINT AS n_hit_grams
            FROM dg JOIN bg USING (gram) GROUP BY doc_id""",
        "stream_dedup": """
            SELECT DISTINCT user_id, event_type FROM events""",
        "lm_quality": (lambda probs_oov=CP.char_bigram_logprobs(): f"""
            WITH probs AS (SELECT * FROM
                 {_sql_values_table(sorted(probs_oov[0].items()),
                                    ["bigram", "q"])}),
            bg AS (SELECT doc_id,
                          unnest(list_transform(range(1, length(text)),
                                 i -> text[i:i+1])) AS bigram
                   FROM documents WHERE length(text) >= 2),
            s AS (SELECT doc_id, count(*) AS n,
                         sum(CASE WHEN p.q IS NULL THEN 1 ELSE 0 END) AS oov,
                         sum(coalesce(p.q, {probs_oov[1]})) AS score
                  FROM bg LEFT JOIN probs p USING (bigram)
                  GROUP BY doc_id)
            SELECT d.doc_id, coalesce(s.n, 0)::BIGINT AS n_bigrams,
                   coalesce(s.oov, 0)::BIGINT AS oov_bigrams,
                   coalesce(s.score, 0)::BIGINT AS score_micronats
            FROM documents d LEFT JOIN s ON d.doc_id = s.doc_id""")(),
        "hygiene_pipeline": (lambda po=CP.char_bigram_logprobs(): f"""
            WITH d1 AS (SELECT doc_id, text FROM (
                   SELECT doc_id, text, row_number() OVER (
                     PARTITION BY md5(lower(text)) ORDER BY doc_id) AS rn
                   FROM documents) WHERE rn = 1),
            bg AS (SELECT DISTINCT gram FROM (
                   SELECT unnest({_sql_grams(CP.DECONTAM_N)}) AS gram
                   FROM (SELECT {_sql_words()} AS w FROM documents
                         WHERE doc_id % 50 = 0)
                   WHERE len(w) >= {CP.DECONTAM_N})),
            flagged AS (SELECT DISTINCT doc_id FROM (
                   SELECT doc_id, unnest({_sql_grams(CP.DECONTAM_N)}) AS gram
                   FROM (SELECT doc_id, {_sql_words()} AS w FROM d1
                         WHERE doc_id % 50 <> 0)
                   WHERE len(w) >= {CP.DECONTAM_N}) dg JOIN bg USING (gram)),
            d2 AS (SELECT * FROM d1 WHERE doc_id NOT IN
                   (SELECT doc_id FROM flagged)),
            b2 AS (SELECT doc_id, {_sql_words()} AS w FROM d2),
            r AS (SELECT doc_id, len(w)::BIGINT AS n_words,
                         len(list_distinct(w))::BIGINT AS n_distinct
                  FROM b2),
            g2 AS (SELECT doc_id, unnest({_sql_grams(CP.TOP_GRAM_N)}) AS gram
                   FROM b2 WHERE len(w) >= {CP.TOP_GRAM_N}),
            c2 AS (SELECT doc_id, gram, count(*) AS cnt FROM g2
                   GROUP BY doc_id, gram),
            t2 AS (SELECT doc_id, cnt AS top2_cnt FROM (
                     SELECT doc_id, gram, cnt, row_number() OVER (
                       PARTITION BY doc_id ORDER BY cnt DESC, gram) AS rn
                     FROM c2) WHERE rn = 1),
            keep_rep AS (SELECT r.doc_id
                  FROM r LEFT JOIN t2 ON r.doc_id = t2.doc_id
                  WHERE NOT ({CP.REP_DUPWORD_DEN} * (n_words - n_distinct)
                             >= {CP.REP_DUPWORD_NUM} * n_words)
                    AND NOT ({CP.REP_TOP2_DEN} * coalesce(top2_cnt, 0)
                             >= greatest(n_words - {CP.TOP_GRAM_N - 1}, 0))),
            d3 AS (SELECT * FROM d2 WHERE doc_id IN
                   (SELECT doc_id FROM keep_rep)),
            probs AS (SELECT * FROM
                 {_sql_values_table(sorted(po[0].items()), ["bigram", "q"])}),
            bgc AS (SELECT doc_id,
                          unnest(list_transform(range(1, length(text)),
                                 i -> text[i:i+1])) AS bigram
                    FROM d3 WHERE length(text) >= 2),
            s AS (SELECT doc_id, count(*) AS n,
                         sum(coalesce(p.q, {po[1]})) AS score
                  FROM bgc LEFT JOIN probs p USING (bigram)
                  GROUP BY doc_id),
            keep_lm AS (SELECT d3.doc_id FROM d3 LEFT JOIN s USING (doc_id)
                  WHERE coalesce(score, 0)
                        > coalesce(n, 0) * ({CP.LM_KEEP_MICRONATS})),
            d4 AS (SELECT * FROM d3 WHERE doc_id IN
                   (SELECT doc_id FROM keep_lm)),
            pii AS (SELECT count(*)::BIGINT AS n FROM d4
                    WHERE doc_id % 7 = 0 AND len(regexp_extract_all(
                      printf('%s reach user%d@example.com', text, doc_id),
                      '{CP.PII_EMAIL}')) > 0)
            SELECT '1_raw' AS stage, count(*)::BIGINT AS n FROM documents
            UNION ALL SELECT '2_exact_deduped', count(*)::BIGINT FROM d1
            UNION ALL SELECT '3_decontaminated', count(*)::BIGINT FROM d2
            UNION ALL SELECT '4_repetition_kept', count(*)::BIGINT FROM d3
            UNION ALL SELECT '5_lm_kept', count(*)::BIGINT FROM d4
            UNION ALL SELECT '6_pii_flagged', n FROM pii""")(),
        "pii_scrub": f"""
            WITH planted AS (SELECT doc_id,
                   CASE WHEN doc_id % 7 = 0 THEN printf(
                     '%s reach user%d@example.com call 415-555-%04d from 10.0.%d.25',
                     text, doc_id, doc_id % 10000, doc_id % 256)
                   ELSE text END AS text FROM documents)
            SELECT doc_id,
                   len(regexp_extract_all(text, '{CP.PII_EMAIL}'))::BIGINT
                       AS n_emails,
                   len(regexp_extract_all(text, '{CP.PII_PHONE}'))::BIGINT
                       AS n_phones,
                   len(regexp_extract_all(text, '{CP.PII_IP}'))::BIGINT
                       AS n_ips,
                   md5(regexp_replace(regexp_replace(regexp_replace(text,
                       '{CP.PII_EMAIL}', '[EMAIL]', 'g'),
                       '{CP.PII_PHONE}', '[PHONE]', 'g'),
                       '{CP.PII_IP}', '[IP]', 'g')) AS redacted_md5
            FROM planted""",
        # pack_shards: the oracle recomputes the packing with ONE global
        # window (the semantics); the engine's two-level bucketed prefix
        # sum must land on identical offsets. The md5-derived shuffle key
        # replays verbatim; every output column is an exact integer.
        "pack_shards": f"""
            WITH t AS (
              SELECT doc_id,
                     len(regexp_extract_all(text,
                         '{X.TOKEN_REGEX}'))::BIGINT AS n_tokens,
                     ('0x' || substring(md5('{PK.PACK_SEED}:'
                          || doc_id::VARCHAR), 1, 15))::BIGINT AS k
              FROM documents),
            c AS (
              SELECT doc_id, n_tokens,
                     (sum(n_tokens) OVER (ORDER BY k, doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      - n_tokens)::BIGINT AS start_offset
              FROM t)
            SELECT doc_id, n_tokens, start_offset,
                   (start_offset // {PK.SHARD_TOKEN_BUDGET})::BIGINT
                       AS shard_id,
                   (start_offset % {PK.SHARD_TOKEN_BUDGET})::BIGINT
                       AS offset_in_shard,
                   (greatest(start_offset + n_tokens - 1, start_offset)
                      // {PK.SHARD_TOKEN_BUDGET}
                    - start_offset // {PK.SHARD_TOKEN_BUDGET}
                    + 1)::BIGINT AS n_spans
            FROM c""",
        # shard_spans: same packing CTE, exploded per touched shard via
        # generate_series; clamps are pure integer min/max so every span
        # column is exact. The zero-token bookkeeping row (span_index 0,
        # span_tokens 0) is kept on both sides.
        "shard_spans": f"""
            WITH t AS (
              SELECT doc_id,
                     len(regexp_extract_all(text,
                         '{X.TOKEN_REGEX}'))::BIGINT AS n_tokens,
                     ('0x' || substring(md5('{PK.PACK_SEED}:'
                          || doc_id::VARCHAR), 1, 15))::BIGINT AS k
              FROM documents),
            c AS (
              SELECT doc_id, n_tokens,
                     (sum(n_tokens) OVER (ORDER BY k, doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      - n_tokens)::BIGINT AS start_offset
              FROM t),
            e AS (
              SELECT doc_id, n_tokens, start_offset,
                     start_offset // {PK.SHARD_TOKEN_BUDGET} AS first_shard,
                     unnest(generate_series(
                        start_offset // {PK.SHARD_TOKEN_BUDGET},
                        greatest(start_offset + n_tokens - 1, start_offset)
                          // {PK.SHARD_TOKEN_BUDGET})) AS s
              FROM c),
            sp AS (
              SELECT doc_id, s::BIGINT AS shard_id,
                     (s - first_shard)::BIGINT AS span_index,
                     (greatest(s * {PK.SHARD_TOKEN_BUDGET}, start_offset)
                      - s * {PK.SHARD_TOKEN_BUDGET})::BIGINT
                         AS span_start_in_shard,
                     (least((s + 1) * {PK.SHARD_TOKEN_BUDGET},
                            start_offset + n_tokens)
                      - greatest(s * {PK.SHARD_TOKEN_BUDGET},
                                 start_offset))::BIGINT AS span_tokens
              FROM e)
            SELECT * FROM sp
            WHERE span_tokens > 0 OR span_index = 0""",
        # mixture_sample: integer products stay exact; the ONE long/long
        # division per rate and the key/2^60 fraction are correctly-
        # rounded doubles in both engines, so the per-row keep decisions
        # (and hence the integer kept counts) match exactly.
        "mixture_sample": f"""
            WITH c AS (SELECT source, count(*)::BIGINT AS n_before
                       FROM documents GROUP BY source),
            t AS (SELECT sum(n_before)::BIGINT AS total FROM c),
            w AS (SELECT * FROM
                  {_sql_values_table(sorted(PK.MIX_WEIGHTS.items()),
                                     ["source", "wnum"])}),
            r AS (SELECT c.source, c.n_before,
                         least(1.0, ({PK.MIX_FRAC_NUM} * wnum * total)
                               / ({PK.MIX_WEIGHT_DEN * PK.MIX_FRAC_DEN}
                                  * n_before)) AS rate
                  FROM c CROSS JOIN t JOIN w USING (source))
            SELECT r.source, r.n_before,
                   sum(CASE WHEN ('0x' || substring(md5('{PK.MIX_SEED}:'
                          || d.doc_id::VARCHAR), 1, 15))::BIGINT
                          / {float(1 << PK.KEY_BITS)!r} < r.rate
                       THEN 1 ELSE 0 END)::BIGINT AS n_kept
            FROM documents d JOIN r ON d.source = r.source
            GROUP BY r.source, r.n_before
            ORDER BY r.source""",
        # pack_curriculum: same single-global-window oracle as pack_shards
        # but ordered by the composite curriculum key
        # stratum * 2^60 + md5-key — checks the engine's strata-major /
        # shuffled-within layout lands on identical exact-integer offsets.
        "pack_curriculum": f"""
            WITH t AS (
              SELECT doc_id,
                     len(regexp_extract_all(text,
                         '{X.TOKEN_REGEX}'))::BIGINT AS n_tokens,
                     ('0x' || substring(md5('{PK.PACK_SEED}:'
                          || doc_id::VARCHAR), 1, 15))::BIGINT AS k
              FROM documents),
            s AS (
              SELECT doc_id, n_tokens,
                     (CASE WHEN n_tokens >= {PK.CURR_BANDS[0]} THEN 0
                           WHEN n_tokens >= {PK.CURR_BANDS[1]} THEN 1
                           ELSE 2 END)::BIGINT * {1 << PK.KEY_BITS} + k
                         AS ck
              FROM t),
            c AS (
              SELECT doc_id, n_tokens,
                     (sum(n_tokens) OVER (ORDER BY ck, doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      - n_tokens)::BIGINT AS start_offset
              FROM s)
            SELECT doc_id, n_tokens, start_offset,
                   (start_offset // {PK.SHARD_TOKEN_BUDGET})::BIGINT
                       AS shard_id,
                   (start_offset % {PK.SHARD_TOKEN_BUDGET})::BIGINT
                       AS offset_in_shard,
                   (greatest(start_offset + n_tokens - 1, start_offset)
                      // {PK.SHARD_TOKEN_BUDGET}
                    - start_offset // {PK.SHARD_TOKEN_BUDGET}
                    + 1)::BIGINT AS n_spans
            FROM c""",
        # mixture_tokens: token-weighted rates (n_before = per-source
        # token mass) with the same exact-integer-products / one-double-
        # divide contract; outputs are integer token sums and counts so
        # the cross-engine hash is exact.
        "mixture_tokens": f"""
            WITH d AS (
              SELECT doc_id, source,
                     len(regexp_extract_all(text,
                         '{X.TOKEN_REGEX}'))::BIGINT AS n_toks
              FROM documents),
            c AS (SELECT source, sum(n_toks)::BIGINT AS n_before
                  FROM d GROUP BY source),
            t AS (SELECT sum(n_before)::BIGINT AS total FROM c),
            w AS (SELECT * FROM
                  {_sql_values_table(sorted(PK.MIX_WEIGHTS.items()),
                                     ["source", "wnum"])}),
            r AS (SELECT c.source, c.n_before,
                         least(1.0, ({PK.MIX_FRAC_NUM} * wnum * total)
                               / ({PK.MIX_WEIGHT_DEN * PK.MIX_FRAC_DEN}
                                  * n_before)) AS rate
                  FROM c CROSS JOIN t JOIN w USING (source)),
            k AS (SELECT d.doc_id, d.source, d.n_toks,
                         ('0x' || substring(md5('{PK.MIX_SEED}:'
                              || d.doc_id::VARCHAR), 1, 15))::BIGINT
                           / {float(1 << PK.KEY_BITS)!r} < r.rate AS kept
                  FROM d JOIN r ON d.source = r.source)
            SELECT source,
                   sum(n_toks)::BIGINT AS tok_before,
                   sum(CASE WHEN kept THEN n_toks ELSE 0 END)::BIGINT
                       AS tok_kept,
                   sum(CASE WHEN kept THEN 1 ELSE 0 END)::BIGINT AS n_kept
            FROM k GROUP BY source ORDER BY source""",
        # dup_spans: DuckDB recomputes the positional-gram seeding (same
        # md5-60bit hash, replayed verbatim), the >=min_count duplicate
        # set, and the gap<=n island merge — an independent SQL statement
        # of the Lee-et-al ExactSubstr semantics. Every output column is
        # an exact integer.
        "dup_spans": f"""
            WITH d AS (SELECT doc_id, {_sql_words()} AS w FROM documents),
            g AS (SELECT doc_id,
                         unnest(generate_series(1,
                             len(w) - {CP.DUPSPAN_N - 1})) AS pos1, w
                  FROM d WHERE len(w) >= {CP.DUPSPAN_N}),
            h AS (SELECT doc_id, pos1 - 1 AS pos,
                         ('0x' || substring(md5(array_to_string(
                             w[pos1:pos1 + {CP.DUPSPAN_N - 1}], ' ')),
                             1, 15))::BIGINT AS gh
                  FROM g),
            p AS (SELECT doc_id, pos FROM h
                  WHERE gh IN (SELECT gh FROM h GROUP BY gh
                               HAVING count(*) >= {CP.DUPSPAN_MIN_COUNT})),
            s AS (SELECT doc_id, pos,
                         CASE WHEN pos - lag(pos) OVER (
                                  PARTITION BY doc_id ORDER BY pos)
                                  <= {CP.DUPSPAN_N} THEN 0 ELSE 1 END AS brk
                  FROM p),
            i AS (SELECT doc_id, pos,
                         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos)
                             AS isl
                  FROM s),
            sp AS (SELECT doc_id, min(pos) AS span_start,
                          max(pos) + {CP.DUPSPAN_N} AS span_end
                   FROM i GROUP BY doc_id, isl)
            SELECT doc_id, count(*)::BIGINT AS n_dup_spans,
                   sum(span_end - span_start)::BIGINT AS dup_words,
                   max(span_end - span_start)::BIGINT AS max_span
            FROM sp GROUP BY doc_id""",
        # asof_clicks: DuckDB's NATIVE ASOF LEFT JOIN — an independent
        # implementation of the backward as-of semantics the engine
        # builds from the union-tag window. Gap in exact integer us.
        "asof_clicks": """
            WITH c AS (SELECT * FROM events WHERE event_type = 'click'),
                 v AS (SELECT * FROM events WHERE event_type = 'view')
            SELECT c.event_id, c.user_id,
                   v.event_id AS view_event_id,
                   (epoch_us(c.ts) - epoch_us(v.ts))::BIGINT AS gap_us
            FROM c ASOF LEFT JOIN v
              ON c.user_id = v.user_id AND c.ts >= v.ts""",
        # range_windows: plain BETWEEN theta-join — independent of the
        # engine's bucketed equi-join + residual-filter shape. Window
        # bounds re-derived from the same integer constants.
        "range_windows": f"""
            WITH w AS (
              SELECT i::BIGINT AS window_id,
                     ({TM.WIN_BASE_US} + i * {TM.WIN_STEP_US})::BIGINT
                         AS start_us,
                     ({TM.WIN_BASE_US} + i * {TM.WIN_STEP_US}
                      + (6 + (i % 5) * 9) * {TM.HOUR_US})::BIGINT
                         AS end_us
              FROM generate_series(0, {TM.WIN_N - 1}) AS t(i))
            SELECT w.window_id, count(*)::BIGINT AS n_events,
                   count(DISTINCT e.user_id)::BIGINT AS n_users,
                   sum(floor(e.value * 100 + 0.5)::BIGINT)::BIGINT
                       AS value_cents
            FROM events e JOIN w
              ON epoch_us(e.ts) >= w.start_us
             AND epoch_us(e.ts) < w.end_us
            GROUP BY w.window_id""",
        # pagerank_hosts: same integer recurrence, K unrolled CTEs (see
        # _pagerank_sql) — full per-node rank hash check of an
        # iterative algorithm.
        "pagerank_hosts": _pagerank_sql(),
        # kmeans_clusters: same integer Lloyd recurrence, KM_ITERS
        # unrolled (assign, update) CTE pairs — full per-point
        # (cluster, qdist) hash check of an iterative algorithm.
        "kmeans_clusters": _kmeans_sql(),
        # ann_ivf_trained: Lloyd CTEs -> exact dyadic dequantize ->
        # the ann_ivf_topk probe/re-rank shape over the trained codebook.
        "ann_ivf_trained": _ivf_trained_sql(),
        # pq_topk: 4 prefixed Lloyd chains + per-subspace code argmin +
        # independently recomputed integer ADC table — full hash check.
        "pq_topk": _pq_sql(),
        # ivf_pq_topk: coarse Lloyd chain + integer probe + the PQ
        # chains restricted to probed lists — full hash check.
        "ivf_pq_topk": _ivf_pq_sql(),
        # stream_recrawl: the stateful streaming op must land on exactly
        # the batch freshness recurrence — same oracle SQL verbatim.
        "stream_recrawl": _recrawl_sql(),
        # recrawl_schedule: identical lag/agg recurrence in DuckDB;
        # all-integer outputs (epoch micros, ppm rate).
        "recrawl_schedule": _recrawl_sql(),
        "lang_id": f"""
            SELECT lang, predicted, count(*)::BIGINT AS n FROM (
              SELECT lang, {lang_case} AS predicted FROM (
                SELECT lang, {lang_scores} FROM documents))
            GROUP BY lang, predicted""",
        "token_count": f"""
            SELECT doc_id,
                   len(regexp_extract_all(text,
                       '{X.TOKEN_REGEX}'))::BIGINT AS n_tokens
            FROM documents""",
        "fingerprint_stats": """
            SELECT count(*)::BIGINT AS n_docs,
                   count(DISTINCT md5(lower(text)))::BIGINT AS n_distinct
            FROM documents""",
        "adaptive_quality": f"""
            WITH qm AS (SELECT doc_id, source,
              floor(round(
                least({wc} / 100.0, 1.0) * 0.5
                + least({qs_stop} / 3.0, 1.0) * 0.3
                + (1.0 - least(
                    (len(regexp_extract_all(text, '[^\\w\\s]'))
                     / greatest(length(text), 1)) * 10.0, 1.0)) * 0.2,
                6) * 1000)::BIGINT AS qmill
              FROM documents),
            r AS (SELECT source, qmill,
                         row_number() OVER (PARTITION BY source
                                            ORDER BY qmill) AS rn,
                         count(*) OVER (PARTITION BY source) AS n
                  FROM qm),
            cut AS (SELECT source, qmill AS cutoff FROM r
                    WHERE rn = ({ADAPTIVE_QUALITY_PCT} * n + 99) // 100)
            SELECT qm.doc_id, qm.qmill, cut.cutoff,
                   qm.qmill >= cut.cutoff AS keep
            FROM qm JOIN cut USING (source)""",
        "quality_score": f"""
            SELECT doc_id, round(
              least({wc} / 100.0, 1.0) * 0.5
              + least({qs_stop} / 3.0, 1.0) * 0.3
              + (1.0 - least(
                  (len(regexp_extract_all(text, '[^\\w\\s]'))
                   / greatest(length(text), 1)) * 10.0, 1.0)) * 0.2,
              6) AS qscore
            FROM documents""",
        "paginated_preseed": """
            SELECT i::BIGINT AS page,
                   'https://blog.example/posts?paged=' || i::VARCHAR AS url
            FROM generate_series(2, 99) t(i)""",
        "user_quota": """
            SELECT user_id, event_type, event_id FROM (
              SELECT user_id, event_type, event_id,
                     row_number() OVER (PARTITION BY user_id, event_type
                                        ORDER BY ts, event_id) AS rn
              FROM events) WHERE rn <= 3""",
        "json_extract": """
            SELECT event_id, props->>'$.k' AS k_val FROM events""",
        "source_status": """
            SELECT source, lang, count(*)::BIGINT AS n_docs,
                   sum(n_chars)::BIGINT AS total_chars,
                   round(avg(n_chars), 4) AS avg_chars
            FROM documents GROUP BY source, lang""",
        "token_window_chunks": f"""
            SELECT doc_id, chunk_index, chunk_text, token_count,
                   substring(sha256(doc_id::VARCHAR || ':' ||
                             chunk_index::VARCHAR || ':' ||
                             substring(chunk_text, 1, 100)), 1, 12)
                       AS chunk_id
            FROM (
              SELECT doc_id,
                     (s // {C.CHUNK_STRIDE})::INT AS chunk_index,
                     array_to_string(
                       list_slice(w, s + 1, s + {C.CHUNK_TOKENS}), ' ')
                         AS chunk_text,
                     least(len(w) - s, {C.CHUNK_TOKENS})::INT AS token_count
              FROM (SELECT doc_id, {_sql_words()} AS w FROM documents),
                   LATERAL unnest(generate_series(
                     0, greatest(len(w) - 1, 0), {C.CHUNK_STRIDE})) t(s))
            WHERE token_count >= {C.MIN_TOKENS}""",
        "record_ids": """
            SELECT doc_id,
                   source || '-doc-' || substring(sha256(text), 1, 12) AS rid
            FROM documents""",
        "date_extraction": """
            SELECT o_orderkey, CASE
              WHEN o_orderkey % 3 = 0 THEN strptime(regexp_extract(
                'posted ' || strftime(o_orderdate, '%Y-%m-%d') || ' by admin',
                '([0-9]{4}-[0-9]{2}-[0-9]{2})', 1), '%Y-%m-%d')::DATE
              WHEN o_orderkey % 3 = 1 THEN strptime(regexp_extract(
                'updated ' || strftime(o_orderdate, '%m/%d/%Y') || ' midway',
                '([0-9]{2}/[0-9]{2}/[0-9]{4})', 1), '%m/%d/%Y')::DATE
              ELSE strptime(regexp_extract(
                'released ' || strftime(o_orderdate, '%b %d, %Y') || ' to all',
                '([A-Z][a-z]{2} [0-9]{2}, [0-9]{4})', 1), '%b %d, %Y')::DATE
              END AS content_date
            FROM orders""",
        "url_classify": f"""
            SELECT doc_id, url, CASE
              WHEN regexp_matches(url, '{_UR.ASSET_EXT_RX}') THEN 'asset'
              WHEN regexp_matches(url, '{_UR.LISTING_RX}') THEN 'listing'
              WHEN regexp_matches(url, '{_UR.POST_SLUG_RX}')
                   OR regexp_matches(url, '{_UR.YEAR_RX}') THEN 'post'
              ELSE 'other' END AS kind
            FROM (
              SELECT doc_id, CASE doc_id % 4
                WHEN 0 THEN 'https://blog.example/tags/' || slug
                WHEN 1 THEN 'https://blog.example/' || slug
                WHEN 2 THEN 'https://blog.example/2021/' || w[1]
                ELSE 'https://blog.example/img-' || doc_id::VARCHAR || '.png'
                END AS url
              FROM (SELECT doc_id, {_sql_words()} AS w,
                           array_to_string(list_slice({_sql_words()}, 1, 3),
                                           '-') AS slug
                    FROM documents))""",
        "bench_numbers": f"""
            SELECT event_id, (i - 1)::INT AS pos,
                   round(vs[i]::DOUBLE, 2) AS metric_value, us[i] AS unit
            FROM (
              SELECT event_id,
                     regexp_extract_all(t, '{X.METRIC_RX}', 1) AS vs,
                     regexp_extract_all(t, '{X.METRIC_RX}', 2) AS us
              FROM (
                SELECT event_id,
                       'ingest ran at ' || value::DECIMAL(10,2)::VARCHAR ||
                       ' ms sustained ' || user_id::VARCHAR || ' QPS' AS t
                FROM events)),
              LATERAL unnest(generate_series(1, len(vs))) AS g(i)""",
        "html_extract": f"""
            SELECT doc_id,
              CASE doc_id % 4
                WHEN 0 THEN 'Doc ' || doc_id::VARCHAR
                WHEN 1 THEN w[1] ELSE '' END AS title,
              CASE doc_id % 4
                WHEN 0 THEN nl || '## Section ' || w[1] || nl || nl || text
                WHEN 1 THEN nl || '# ' || w[1] || nl || nl || '- ' || w[2]
                            || nl || '- ' || w[3] || nl || text
                WHEN 2 THEN nl || '```sql' || nl || 'SELECT ' || w[1] || nl
                            || '```' || nl || nl || nl || '| k | v |' || nl
                            || '| --- | --- |' || nl || '| ' || w[1]
                            || ' | ' || w[2] || ' |' || nl
                ELSE text END AS extracted
            FROM (SELECT doc_id, text, {_sql_words()} AS w,
                         chr(10) AS nl FROM documents)""",
        "reddit_source": _reddit_source_sql(),
        "hn_source": _hn_source_sql(),
        "nation_coverage": """
            SELECT nationkey, n_name FROM (
              SELECT DISTINCT c_nationkey AS nationkey FROM customer
              EXCEPT
              SELECT DISTINCT s_nationkey AS nationkey FROM supplier
              WHERE s_acctbal > 9000)
            JOIN nation ON nationkey = n_nationkey""",
        "top_revenue_orders": f"""
            WITH t AS ({_SHIP_TOP10_SQL})
            SELECT o_orderkey,
                   CAST(strftime(o_orderdate, '%Y%m%d') AS INT)
                       AS odate_int,
                   revenue_cents FROM t""",
        "ship_probe_date": f"""
            WITH t AS ({_SHIP_TOP10_SQL})
            SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d')
                       AS o_orderdate FROM t""",
        "ship_probe_revenue": f"""
            WITH t AS ({_SHIP_TOP10_SQL})
            SELECT o_orderkey, revenue_cents FROM t""",
        "hash_embed": "SELECT doc_id, dim, value FROM "
                      + _hash_embed_sql("documents", "doc_id", "text"),
        "vectorize_pipeline": f"""
            WITH chunks AS ({rec_chunks_sql}),
            emb AS (SELECT * FROM {_hash_embed_sql("chunks", "chunk_id",
                                                   "chunk_text")})
            SELECT c.doc_id, c.chunk_index, c.chunk_id, c.token_count,
                   emb.dim, emb.value
            FROM emb JOIN chunks c ON c.chunk_id = emb.chunk_id""",
        "global_budget": """
            SELECT doc_id, n_chars FROM (
              SELECT doc_id, n_chars,
                     sum(n_chars) OVER (ORDER BY n_chars DESC, doc_id
                                        ROWS UNBOUNDED PRECEDING) AS run
              FROM documents) WHERE run <= 50000""",
        "new_docs_anti": """
            SELECT d.doc_id FROM documents d
            WHERE NOT EXISTS (
              SELECT 1 FROM documents s WHERE s.doc_id < 50
                AND md5(lower(s.text)) = md5(lower(d.text)))""",
        "stream_enrich": f"""
            SELECT date_trunc('hour', ts) AS win_start,
                   date_trunc('hour', ts) + INTERVAL 1 HOUR AS win_end,
                   m.category, count(*)::BIGINT AS n,
                   round(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))::DOUBLE, 4)
                       AS total_value
            FROM events
            JOIN (VALUES {", ".join(
                f"('{k}', '{v}')" for k, v in SE.EVENT_CATEGORY.items()
            )}) m(event_type, category) USING (event_type)
            GROUP BY 1, 2, 3""",
        "stream_windowed_counts": """
            SELECT date_trunc('hour', ts) AS win_start,
                   date_trunc('hour', ts) + INTERVAL 1 HOUR AS win_end,
                   event_type, count(*)::BIGINT AS n,
                   round(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))::DOUBLE, 4)
                       AS total_value
            FROM events GROUP BY 1, 2, 3""",
        "length_quantiles": """
            SELECT source, count(*)::BIGINT AS n_docs,
                   round(quantile_cont(n_chars, 0.5), 4) AS p50,
                   round(quantile_cont(n_chars, 0.9), 4) AS p90
            FROM documents GROUP BY source""",
        "sql_top_events": """
            SELECT user_id, event_id, event_type, cents FROM (
              SELECT user_id, event_id, event_type,
                     CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY value DESC, event_id) AS rn
              FROM events) WHERE rn = 1""",
        "process_pipeline": f"""
            WITH cleaned AS (
              SELECT doc_id,
                     trim(regexp_replace({"".join(["regexp_replace(" for _ in X.BOILERPLATE_PATTERNS])}text{"".join(f", '{p}', ' ', 'g')" for p in X.BOILERPLATE_PATTERNS)}, '\\s+', ' ', 'g')) AS text
              FROM documents),
            kept AS (
              SELECT doc_id, text FROM cleaned
              WHERE len(regexp_split_to_array(trim(text), '\\s+'))
                      >= {X.MIN_WORDS_QUALITY}
                AND length(text) >= {X.MIN_CHARS_QUALITY}),
            deduped AS (
              SELECT min(doc_id) FROM kept GROUP BY md5(lower(text)))
            SELECT '1_raw' AS stage, count(*)::BIGINT AS n FROM documents
            UNION ALL
            SELECT '2_quality_kept', count(*)::BIGINT FROM kept
            UNION ALL
            SELECT '3_deduped', count(*)::BIGINT FROM deduped""",
        "stream_budget_state": """
            SELECT user_id, count(*)::BIGINT AS n_events,
                   round(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))::DOUBLE, 4)
                       AS total_value,
                   sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) > 80000
                       AS over_budget
            FROM events GROUP BY user_id""",
        "minhash_pairs": f"""
            {jaccard_all}
            SELECT id_a, id_b FROM jac
            WHERE jaccard >= {MINHASH_THRESHOLD}""",
        "minhash_verified": f"""
            {jaccard_all}
            SELECT id_a, id_b, jaccard FROM jac
            WHERE jaccard >= {MINHASH_THRESHOLD}""",
        "incremental_dedup": f"""
            {jaccard_all}
            SELECT id_a, id_b, jaccard,
                   ((id_a % 5 = 0) <> (id_b % 5 = 0)) AS vs_index
            FROM jac
            WHERE jaccard >= {MINHASH_THRESHOLD}
              AND (id_a % 5 = 0 OR id_b % 5 = 0)""",
        "minhash_greedy": f"""
            {jaccard_all}
            SELECT doc_id FROM documents
            WHERE doc_id NOT IN (SELECT id_b FROM jac
                                 WHERE jaccard >= {MINHASH_THRESHOLD})""",
        "simhash_pairs": simhash_sql,
        "ann_lsh_topk": f"""
            SELECT vec_id, round({cos_a}, 6) AS score FROM (
              SELECT vec_id, embedding, {bucket_expr} AS bkt
              FROM embeddings)
            WHERE bkt IN ({probes})
            ORDER BY score DESC, vec_id LIMIT {TOPK}""",
        "ann_ivf_topk": f"""
            WITH cents AS (
              SELECT row_number() OVER (ORDER BY vec_id) - 1 AS idx,
                     embedding AS cvec
              FROM embeddings ORDER BY vec_id LIMIT {V.IVF_CENTROIDS}),
            assign AS (
              SELECT vec_id, embedding, idx,
                     row_number() OVER (PARTITION BY vec_id ORDER BY
                       round(list_dot_product(embedding::DOUBLE[],
                                              cvec::DOUBLE[])
                             / (sqrt(list_dot_product(embedding::DOUBLE[],
                                                      embedding::DOUBLE[]))
                                * sqrt(list_dot_product(cvec::DOUBLE[],
                                                        cvec::DOUBLE[]))), 9)
                       DESC, idx ASC) AS rn
              FROM embeddings CROSS JOIN cents),
            probe AS (
              SELECT idx FROM cents
              ORDER BY round(
                list_dot_product(cvec::DOUBLE[],
                                 {_sql_vec_lit(QUERY_VEC_A)})
                / (sqrt(list_dot_product(cvec::DOUBLE[], cvec::DOUBLE[]))
                   * {np.sqrt(sum(x * x for x in QUERY_VEC_A))!r}), 9)
                DESC, idx LIMIT {V.IVF_PROBE})
            SELECT vec_id, round({cos_a}, 6) AS score
            FROM (SELECT vec_id, embedding FROM assign
                  WHERE rn = 1 AND idx IN (SELECT idx FROM probe))
            ORDER BY score DESC, vec_id LIMIT {TOPK}""",
        "embedding_neardup": """
            SELECT vec_id AS id_a, vec_id + 1000000 AS id_b
            FROM embeddings""",
        "semdedup": f"""
            WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
                       FROM embeddings),
            cents AS (
              SELECT row_number() OVER (ORDER BY id) - 1 AS ci, v AS cv
              FROM (SELECT id, v FROM e ORDER BY id
                    LIMIT {V.SEMDEDUP_CENTROIDS})),
            assign AS (
              SELECT id, v, ci AS cl, s AS cs FROM (
                SELECT id, v, ci,
                       round(list_dot_product(v, cv)
                             / (sqrt(list_dot_product(v, v))
                                * sqrt(list_dot_product(cv, cv))), 9) AS s,
                       row_number() OVER (PARTITION BY id ORDER BY
                         round(list_dot_product(v, cv)
                               / (sqrt(list_dot_product(v, v))
                                  * sqrt(list_dot_product(cv, cv))), 9)
                         DESC, ci ASC) AS rk
                FROM e CROSS JOIN cents) WHERE rk = 1),
            dropped AS (
              SELECT DISTINCT r.id FROM assign l JOIN assign r
              ON l.cl = r.cl
                 AND (l.cs > r.cs OR (l.cs = r.cs AND l.id < r.id))
                 AND round(list_dot_product(l.v, r.v)
                           / (sqrt(list_dot_product(l.v, l.v))
                              * sqrt(list_dot_product(r.v, r.v))), 6)
                     >= CAST({V.SEMDEDUP_THRESHOLD!r} AS DOUBLE))
            SELECT a.id AS vec_id, a.cl::INT AS cluster,
                   (d.id IS NULL) AS kept
            FROM assign a LEFT JOIN dropped d ON a.id = d.id""",
        "cc_hosts": f"""
            WITH RECURSIVE nodes AS (
              SELECT unnest(range(0, {G.CC_N})) AS id),
            ks AS (SELECT unnest(range(0, 2)) AS k),
            e0 AS (
              SELECT id AS a,
                     (id - id % {G.CC_BLOCK})
                     + ((id * 13 + 7 * (k + 1) + k * k) % {G.CC_BLOCK}) AS b
              FROM nodes CROSS JOIN ks WHERE k <= id % 2),
            edges AS (SELECT a, b FROM e0 UNION SELECT b AS a, a AS b
                      FROM e0),
            reach(a, b) AS (
              SELECT id, id FROM nodes
              UNION
              SELECT r.a, e.b FROM reach r JOIN edges e ON e.a = r.b)
            SELECT a AS node, min(b) AS comp FROM reach GROUP BY a""",
        "stream_hll": f"""
            WITH h AS (
              SELECT date_trunc('hour', ts) AS ws,
                     ('0x' || substring(md5('{SK.HLL_SEED}:'
                          || user_id::VARCHAR), 1, 15))::BIGINT AS h
              FROM events)
            SELECT ws AS win_start, ws + INTERVAL 1 HOUR AS win_end,
                   (h // {SK.HLL_REST_MOD})::INT AS bucket,
                   max(CASE WHEN h % {SK.HLL_REST_MOD} = 0
                       THEN {SK.HLL_RHO_MAX}
                       ELSE {SK.HLL_RHO_MAX}
                            - length(bin(h % {SK.HLL_REST_MOD})) END)::INT
                   AS max_rho
            FROM h GROUP BY 1, 2, 3""",
        "stratified_sample": f"""
            SELECT source, doc_id, sample_rank FROM (
              SELECT source, doc_id,
                     row_number() OVER (PARTITION BY source ORDER BY
                       ('0x' || substring(md5('{PK.STRAT_SEED}:'
                            || doc_id::VARCHAR), 1, 15))::BIGINT,
                       doc_id) AS sample_rank
              FROM documents)
            WHERE sample_rank <= 5""",
        "group_quantiles": f"""
            WITH ranked AS (
              SELECT source, n_chars,
                     row_number() OVER (PARTITION BY source
                                        ORDER BY n_chars) AS rn,
                     count(*) OVER (PARTITION BY source) AS n
              FROM documents),
            qs AS (SELECT unnest([{", ".join(str(q) for q in S.QUANTILES_PCT)}
                          ]) AS q)
            SELECT source, q, n_chars AS value
            FROM ranked CROSS JOIN qs
            WHERE rn = (q * n + 99) // 100""",
        "hll_registers": f"""
            WITH w AS (SELECT {_sql_words()} AS w FROM documents),
            g AS (SELECT unnest({_sql_grams(3)}) AS gram
                  FROM w WHERE len(w) >= 3),
            h AS (SELECT ('0x' || substring(md5('{SK.HLL_SEED}:' || gram),
                                            1, 15))::BIGINT AS h FROM g),
            r AS (SELECT (h // {SK.HLL_REST_MOD})::INT AS bucket,
                         h % {SK.HLL_REST_MOD} AS rest FROM h)
            SELECT bucket,
                   max(CASE WHEN rest = 0 THEN {SK.HLL_RHO_MAX}
                       ELSE {SK.HLL_RHO_MAX} - length(bin(rest)) END)::INT
                   AS max_rho
            FROM r GROUP BY bucket""",
        "hll_card": f"""
            WITH w AS (SELECT {_sql_words()} AS w FROM documents),
            g AS (SELECT unnest({_sql_grams(3)}) AS gram
                  FROM w WHERE len(w) >= 3),
            h AS (SELECT ('0x' || substring(md5('{SK.HLL_SEED}:' || gram),
                                            1, 15))::BIGINT AS h FROM g),
            r AS (SELECT (h // {SK.HLL_REST_MOD})::INT AS bucket,
                         h % {SK.HLL_REST_MOD} AS rest FROM h),
            regs AS (SELECT bucket,
                            max(CASE WHEN rest = 0 THEN {SK.HLL_RHO_MAX}
                                ELSE {SK.HLL_RHO_MAX} - length(bin(rest))
                                END) AS max_rho
                     FROM r GROUP BY bucket),
            agg AS (SELECT count(*)::BIGINT AS n_nonempty,
                           sum((1::BIGINT << ({SK.HLL_RHO_MAX} - max_rho))
                               )::BIGINT AS part_numer
                    FROM regs),
            ex AS (SELECT count(DISTINCT h)::BIGINT AS exact_distinct
                   FROM h)
            SELECT {SK.HLL_M}::BIGINT AS m, n_nonempty,
                   (part_numer
                    + ({SK.HLL_M} - n_nonempty) * {SK.HLL_NUMER_SCALE}
                    )::BIGINT AS numer,
                   floor(CAST({SK.HLL_ALPHA!r} AS DOUBLE)
                         * CAST({float(SK.HLL_M * SK.HLL_M)!r} AS DOUBLE)
                         * CAST({float(SK.HLL_NUMER_SCALE)!r} AS DOUBLE)
                         / (part_numer + ({SK.HLL_M} - n_nonempty)
                            * {SK.HLL_NUMER_SCALE}))::BIGINT AS est_card,
                   exact_distinct
            FROM agg, ex""",
        "cms_heavy_hitters": f"""
            WITH wd AS (SELECT unnest(w) AS word
                        FROM (SELECT {_sql_words()} AS w FROM documents)),
            counts AS (SELECT word, count(*)::BIGINT AS exact_cnt
                       FROM wd WHERE length(word) > 0 GROUP BY word),
            ds AS (SELECT unnest(range(0, {SK.CMS_DEPTH})) AS d),
            grid AS (
              SELECT d, bucket, sum(exact_cnt)::BIGINT AS reg_cnt FROM (
                SELECT ds.d, c.exact_cnt,
                       ('0x' || substring(md5('{SK.CMS_SEED}:'
                            || ds.d::VARCHAR || ':' || c.word), 1, 15)
                        )::BIGINT % {SK.CMS_WIDTH} AS bucket
                FROM counts c CROSS JOIN ds)
              GROUP BY d, bucket),
            top AS (SELECT word, exact_cnt FROM counts
                    ORDER BY exact_cnt DESC, word LIMIT 10),
            est AS (
              SELECT p.word, min(g.reg_cnt)::BIGINT AS cms_est FROM (
                SELECT t.word, ds.d,
                       ('0x' || substring(md5('{SK.CMS_SEED}:'
                            || ds.d::VARCHAR || ':' || t.word), 1, 15)
                        )::BIGINT % {SK.CMS_WIDTH} AS bucket
                FROM top t CROSS JOIN ds) p
              JOIN grid g ON g.d = p.d AND g.bucket = p.bucket
              GROUP BY p.word)
            SELECT t.word, t.exact_cnt, e.cms_est
            FROM top t JOIN est e ON t.word = e.word
            ORDER BY t.exact_cnt DESC, t.word""",
        # cms_point_queries: grid over the top-20 words only (most cells
        # EMPTY), probed with present + absent keys; the LEFT JOIN +
        # coalesce(0) is the semantics under test (an inner join loses
        # empty-cell depth votes and overestimates / drops keys)
        "cms_point_queries": f"""
            WITH wd AS (SELECT unnest(w) AS word
                        FROM (SELECT {_sql_words()} AS w FROM documents)),
            counts AS (SELECT word, count(*)::BIGINT AS cnt
                       FROM wd WHERE length(word) > 0 GROUP BY word
                       ORDER BY cnt DESC, word LIMIT {CMS_GRID_TOP}),
            ds AS (SELECT unnest(range(0, {SK.CMS_DEPTH})) AS d),
            grid AS (
              SELECT d, bucket, sum(cnt)::BIGINT AS reg_cnt FROM (
                SELECT ds.d, c.cnt,
                       ('0x' || substring(md5('{SK.CMS_SEED}:'
                            || ds.d::VARCHAR || ':' || c.word), 1, 15)
                        )::BIGINT % {SK.CMS_WIDTH} AS bucket
                FROM counts c CROSS JOIN ds)
              GROUP BY d, bucket),
            probes AS (
              SELECT word FROM (SELECT word, cnt FROM counts
                                ORDER BY cnt DESC, word
                                LIMIT {CMS_PROBE_TOP})
              UNION ALL
              SELECT * FROM {_sql_values_table(
                  [(w,) for w in CMS_ABSENT_PROBES], ["word"])}),
            pb AS (SELECT p.word, ds.d,
                          ('0x' || substring(md5('{SK.CMS_SEED}:'
                               || ds.d::VARCHAR || ':' || p.word), 1, 15)
                           )::BIGINT % {SK.CMS_WIDTH} AS bucket
                   FROM probes p CROSS JOIN ds)
            SELECT pb.word, min(coalesce(g.reg_cnt, 0))::BIGINT AS cms_est
            FROM pb LEFT JOIN grid g ON g.d = pb.d AND g.bucket = pb.bucket
            GROUP BY pb.word ORDER BY pb.word""",
        "cursor_source": "SELECT doc_id, n_chars FROM documents",
        "image_roundtrip": """
            SELECT doc_id::VARCHAR AS image_id,
                   (16 + (doc_id % 3) * 8)::INT AS w, 16::INT AS h,
                   'png' AS fmt,
                   (doc_id % 256)::DOUBLE AS mean_r,
                   ((doc_id * 7) % 256)::DOUBLE AS mean_g,
                   ((doc_id * 13) % 256)::DOUBLE AS mean_b,
                   TRUE AS decode_ok
            FROM documents""",
        "recursive_chunks": rec_chunks_sql,
        "chunk_dispatch": chunk_dispatch_sql,
        "bin_pack": """
            WITH RECURSIVE seq AS (
              SELECT user_id, event_id, (event_id % 9)::INT AS w,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS rn
              FROM events),
            walk AS (
              SELECT user_id, event_id, rn, w, 0 AS bin, w AS acc
              FROM seq WHERE rn = 1
              UNION ALL
              SELECT s.user_id, s.event_id, s.rn, s.w,
                     CASE WHEN wk.acc > 0 AND wk.acc + s.w > 20
                          THEN wk.bin + 1 ELSE wk.bin END,
                     CASE WHEN wk.acc > 0 AND wk.acc + s.w > 20
                          THEN s.w ELSE wk.acc + s.w END
              FROM walk wk JOIN seq s
                ON s.user_id = wk.user_id AND s.rn = wk.rn + 1)
            SELECT user_id, event_id, bin::INT AS bin_index FROM walk""",
        "text_metrics": f"""
            SELECT doc_id, {wc}::BIGINT AS wc,
                   round({_sql_contains_count(lower, REL_KEYWORDS)}
                         / {float(len(REL_KEYWORDS))}, 6) AS rel_score,
                   len(regexp_extract_all(text,
                       '{X.TOKEN_REGEX}'))::BIGINT AS n_tokens,
                   round(
                     least({wc} / 100.0, 1.0) * 0.5
                     + least({qs_stop} / 3.0, 1.0) * 0.3
                     + (1.0 - least(
                         (len(regexp_extract_all(text, '[^\\w\\s]'))
                          / greatest(length(text), 1)) * 10.0, 1.0)) * 0.2,
                     6) AS qscore,
                   {lang_case} AS predicted,
                   md5(lower(text)) AS fp
            FROM (SELECT doc_id, text, {lang_scores} FROM documents)""",
        "metadata_sanitize": f"""
            WITH tagged AS (
              SELECT doc_id, topic, round(score, 6) AS score FROM (
                SELECT doc_id, topic, score,
                       row_number() OVER (PARTITION BY doc_id
                                          ORDER BY score DESC, tidx) AS rn
                FROM ({topic_scores_sql})
                WHERE score >= {X.TOPIC_MIN_SCORE})
              WHERE rn <= {X.TOPIC_TOP_N}),
            lists AS (
              SELECT doc_id,
                     list(topic ORDER BY score DESC, topic) AS tl
              FROM tagged GROUP BY doc_id)
            SELECT d.doc_id,
                   coalesce(array_to_string(l.tl, ','), '') AS topic_ids,
                   coalesce(l.tl[1], 'unclassified') AS primary_topic,
                   CASE WHEN d.doc_id % 7 = 0 THEN ''
                        ELSE strftime(DATE '2024-01-01'
                                      + (d.doc_id % 365)::INT, '%Y-%m-%d')
                   END AS content_date,
                   CASE WHEN d.doc_id % 5 = 0 THEN ''
                        ELSE coalesce(d.source, '') END AS source_type,
                   d.n_chars
            FROM documents d LEFT JOIN lists l ON d.doc_id = l.doc_id""",
        "query_analysis": f"""
            WITH base AS (
              SELECT doc_id,
                     lower(list_extract(regexp_split_to_array(trim(text),
                           '\\s+'), 1)) AS w1
              FROM documents),
            qs AS (SELECT doc_id, {qa_query_case} AS user_query FROM base),
            raws AS (
              SELECT doc_id, user_query,
                CASE doc_id % 6
                  WHEN 0 THEN body
                  WHEN 1 THEN '```json' || chr(10) || body || chr(10) || '```'
                  WHEN 2 THEN substr(body, 1, 40)
                  WHEN 3 THEN '```' || body || '```'
                  WHEN 4 THEN '  ' || chr(10) || body || chr(10) || '  '
                  ELSE 'LLM said: the answer is not JSON' END AS raw
              FROM (
                SELECT doc_id, user_query,
                       printf('{QA_JSON_TEMPLATE}',
                              CASE WHEN doc_id % 2 = 0 THEN 'factual'
                                   ELSE 'comparison' END,
                              doc_id, doc_id,
                              CASE WHEN doc_id % 2 = 0 THEN 'null'
                                   ELSE printf('"h%d"', doc_id) END,
                              doc_id) AS body
                FROM qs)),
            cleaned AS (
              SELECT doc_id, user_query,
                regexp_replace(CASE WHEN ends_with(c1, '```')
                          THEN substr(c1, 1, len(c1) - 3) ELSE c1 END,
                  '^\\s+|\\s+$', '', 'g') AS c
              FROM (
                SELECT doc_id, user_query,
                  CASE WHEN starts_with(c0, '```') THEN
                         CASE WHEN contains(c0, chr(10))
                              THEN substr(c0, instr(c0, chr(10)) + 1)
                              ELSE substr(c0, 4) END
                       ELSE c0 END AS c1
                FROM (SELECT doc_id, user_query,
                             regexp_replace(raw, '^\\s+|\\s+$', '', 'g')
                               AS c0
                      FROM raws))),
            parsed AS (
              SELECT doc_id, user_query, TRY_CAST(c AS JSON) AS j,
                     coalesce(json_type(TRY_CAST(c AS JSON)), 'INVALID')
                       != 'OBJECT' AS parse_failed
              FROM cleaned)
            SELECT doc_id, user_query, parse_failed,
              CASE WHEN parse_failed THEN '{QA.FALLBACK_INTENT}'
                   ELSE json_extract_string(j, '$.intent')
              END AS llm_intent,
              CASE WHEN parse_failed THEN ''
                   WHEN json_extract(j, '$.competitors_mentioned') IS NULL
                     THEN '<null>'
                   ELSE coalesce(array_to_string(CAST(json_extract(j,
                        '$.competitors_mentioned') AS VARCHAR[]), '|'), '')
              END AS llm_competitors,
              CASE WHEN parse_failed THEN user_query
                   WHEN json_extract(j, '$.sub_queries') IS NULL
                     THEN '<null>'
                   ELSE coalesce(array_to_string(CAST(json_extract(j,
                        '$.sub_queries') AS VARCHAR[]), '|'), '')
              END AS llm_sub_queries,
              CASE WHEN parse_failed THEN '<null>'
                   ELSE coalesce(json_extract_string(j, '$.hyde_passage'),
                                 '<null>') END AS llm_hyde,
              CASE WHEN parse_failed THEN '{QA.FALLBACK_REASONING}'
                   ELSE json_extract_string(j, '$.reasoning')
              END AS llm_reasoning,
              {qa_intent} AS rule_intent,
              {qa_comp_csv} AS rule_competitors,
              {qa_topic_csv} AS rule_topics,
              {qa_hint} AS rule_hint
            FROM parsed""",
        "audio_features": """
            SELECT doc_id::VARCHAR AS audio_id,
                   CASE WHEN doc_id % 13 = 0 THEN NULL
                        ELSE 0.5 END AS duration_s,
                   CASE WHEN doc_id % 13 = 0 THEN NULL
                        ELSE 8000 END AS sample_rate,
                   CASE WHEN doc_id % 13 = 0 THEN NULL
                        ELSE 1 END AS channels,
                   CASE WHEN doc_id % 13 = 0 THEN NULL
                        ELSE ((doc_id % 2000) * 16 + 16) / 32768.0
                   END AS rms,
                   doc_id % 13 <> 0 AS decode_ok
            FROM documents""",
        "video_frames": """
            WITH f AS (SELECT unnest([0, 4, 8]) AS fi)
            SELECT doc_id::VARCHAR AS video_id, fi::INT AS frame_index,
                   8::INT AS w, 8::INT AS h,
                   ((doc_id + fi) % 256)::DOUBLE AS mean_r,
                   ((doc_id * 3 + 7 * fi) % 256)::DOUBLE AS mean_g,
                   ((doc_id * 5) % 256)::DOUBLE AS mean_b,
                   TRUE AS decode_ok
            FROM documents CROSS JOIN f
            WHERE doc_id % 11 <> 0 AND fi < 8 + doc_id % 5
            UNION ALL
            SELECT doc_id::VARCHAR, NULL, NULL, NULL, NULL, NULL, NULL,
                   FALSE
            FROM documents WHERE doc_id % 11 = 0""",
        "bpe_tokens": f"""
            SELECT image_id, n_bytes, n_tokens, preview
            FROM {_sql_values_table(_bpe_expected(),
                                    ["image_id", "n_bytes", "n_tokens",
                                     "preview"])}""",
        "bpe_chunks": f"""
            SELECT image_id, chunk_index, token_count, chunk_text
            FROM {_sql_values_table(_bpe_chunks_expected(),
                                    ["image_id", "chunk_index",
                                     "token_count", "chunk_text"])}""",
        "crawl_frontier": f"""
            SELECT url, host, depth, round, discovery_seq
            FROM {_sql_values_table(_crawl_frontier_expected(),
                                    ["url", "host", "depth", "round",
                                     "discovery_seq"])}""",
        # authority_crawl: pure-Python oracle crawl under the authority
        # contract (integer-PR compose each round), fetch_slot included
        # so the hash pins the ranked order
        "authority_crawl": f"""
            SELECT url, host, depth, round, discovery_seq, fetch_slot
            FROM {_sql_values_table(_authority_crawl_expected(),
                                    ["url", "host", "depth", "round",
                                     "discovery_seq", "fetch_slot"])}""",
        "image_features": f"""
            SELECT image_id, w, h, fmt, mean_r, mean_g, mean_b, phash,
                   decode_ok
            FROM {_sql_values_table(_image_features_expected(),
                                    ["image_id", "w", "h", "fmt", "mean_r",
                                     "mean_g", "mean_b", "phash",
                                     "decode_ok"])}""",
        # webdataset_export: every shard tar rebuilt out of Spark, digest
        # compared — the sink's bytes themselves are value-checked.
        "image_pipeline": f"""
            SELECT shard_id, n_samples, size_bytes, tar_md5
            FROM {_sql_values_table(
                _pipeline_wds_rows(),
                ["shard_id", "n_samples", "size_bytes", "tar_md5"])}""",
        "webdataset_export": f"""
            SELECT shard_id, n_samples, size_bytes, tar_md5
            FROM {_sql_values_table(
                _wds_expected_rows(),
                ["shard_id", "n_samples", "size_bytes", "tar_md5"])}""",
        # byte-budget pack: the weight model, running start offsets, DIV
        # rule AND every tar rebuilt out of Spark (_wds_budget_rows)
        "webdataset_budget": f"""
            SELECT shard_id, n_samples, size_bytes, tar_md5
            FROM {_sql_values_table(
                _wds_budget_rows(),
                ["shard_id", "n_samples", "size_bytes", "tar_md5"])}""",
        # robots_sitemaps: DuckDB re-parses the SAME raw robots bodies
        # with its own regexp engine (cross-parser check); the bounded
        # generate_series + WHERE is the repo's lateral-posexplode trick
        # (bound derived from the literal rows, never a hardcoded cap).
        "robots_sitemaps": f"""
            WITH r AS (SELECT host,
                regexp_extract_all(body,
                  '{RB.ROBOTS_SITEMAP_RE}', 1) AS l
              FROM {_sql_values_table(_robots_lit_rows(),
                                      ["host", "body"])})
            SELECT host, (i - 1)::INT AS pos, l[i] AS sitemap_url
            FROM r, generate_series(1, {_robots_series_bound()}) t(i)
            WHERE i <= len(l)""",
        # sitemap_ingest: DuckDB re-parses the SAME literal bodies with
        # its own regexp/date machinery — cross-engine parser parity.
        "sitemap_ingest": f"""
            WITH sm AS (SELECT * FROM {_sql_values_table(
                _sitemap_fixture_rows(), ["host", "body"])}),
            b AS (SELECT host, unnest(regexp_extract_all(
                    body, '(?s)<url>(.*?)</url>', 1)) AS blk FROM sm)
            SELECT host, url, lastmod_day, priority_ppm FROM (
              SELECT host,
                regexp_extract(blk,
                  '<loc>\\s*([^<\\s][^<]*?)\\s*</loc>', 1) AS url,
                (try_cast(nullif(regexp_extract(blk,
                     '<lastmod>\\s*(\\d{{4}}-\\d{{2}}-\\d{{2}})', 1), '')
                   AS DATE) - DATE '1970-01-01')::INT AS lastmod_day,
                (CASE WHEN regexp_extract(blk,
                        '{SITEMAP_PRIORITY_RE}', 1) = ''
                      THEN {SITEMAP_DEFAULT_PPM}
                      ELSE least(regexp_extract(blk,
                        '{SITEMAP_PRIORITY_RE}', 1)::BIGINT * 1000000
                         + rpad(regexp_extract(blk,
                        '{SITEMAP_PRIORITY_RE}', 2), 6, '0')::BIGINT,
                        1000000)
                 END)::BIGINT AS priority_ppm
              FROM b) WHERE url != ''""",
        # pair_alignment / pair_filters: DuckDB recomputes the md5-60bit
        # alignment scores and the whole gate chain from the fixture's
        # (image_id, phash, caption, w, h) literal relation.
        "frontier_authority": _frontier_authority_sql(),
        "crossmodal_topk": _crossmodal_sql(),
        "audio_neardup": _audio_neardup_sql(),
        "warc_source": _warc_source_sql(),
        "pair_alignment": f"""
            WITH pg AS (SELECT * FROM {_sql_values_table(
                _pair_lit_rows(),
                ["image_id", "phash", "caption", "w", "h"])}),
            {",".join(_align_sql_parts())}
            SELECT image_id, align_score,
                   align_score >= {MM.ALIGN_KEEP_MIN} AS keep FROM sc""",
        "pair_filters": f"""
            WITH pg AS (SELECT * FROM {_sql_values_table(
                _pair_lit_rows(),
                ["image_id", "phash", "caption", "w", "h"])}),
            {",".join(_align_sql_parts())},
            g AS (SELECT pg.image_id, pg.w, pg.h,
                  len(list_filter(regexp_split_to_array(
                      lower(pg.caption), '\\s+'),
                      x -> x <> ''))::BIGINT AS cap_tokens,
                  sc.align_score,
                  least(pg.w, pg.h) >= {MM.PAIR_MIN_SIDE} AS side_ok,
                  (greatest(pg.w, pg.h) * 100) // least(pg.w, pg.h)
                      <= {MM.PAIR_MAX_ASPECT_PCT} AS aspect_ok,
                  cap_tokens BETWEEN {MM.PAIR_CAPTION_MIN_TOKENS}
                      AND {MM.PAIR_CAPTION_MAX_TOKENS} AS caption_ok,
                  sc.align_score >= {MM.ALIGN_KEEP_MIN} AS align_ok
                  FROM pg JOIN sc USING (image_id))
            SELECT image_id, w, h, cap_tokens, align_score, side_ok,
                   aspect_ok, caption_ok, align_ok,
                   (CASE WHEN NOT side_ok THEN 'dims'
                         WHEN NOT aspect_ok THEN 'aspect'
                         WHEN NOT caption_ok THEN 'caption'
                         WHEN NOT align_ok THEN 'alignment'
                         ELSE 'kept' END) AS dropped_at,
                   (side_ok AND aspect_ok AND caption_ok AND align_ok)
                       AS keep
            FROM g""",
        "host_blocklist": f"""
            WITH pg AS (SELECT * FROM {_sql_values_table(
                _pair_lit_rows(),
                ["image_id", "phash", "caption", "w", "h"])}),
            hm AS (SELECT * FROM {_sql_values_table(
                _host_map_lit_rows(), ["image_id", "host"])}),
            {",".join(_align_sql_parts())},
            g AS (SELECT pg.image_id,
                  (least(pg.w, pg.h) >= {MM.PAIR_MIN_SIDE}
                   AND (greatest(pg.w, pg.h) * 100) // least(pg.w, pg.h)
                       <= {MM.PAIR_MAX_ASPECT_PCT}
                   AND len(list_filter(regexp_split_to_array(
                       lower(pg.caption), '\\s+'), x -> x <> ''))
                       BETWEEN {MM.PAIR_CAPTION_MIN_TOKENS}
                           AND {MM.PAIR_CAPTION_MAX_TOKENS}
                   AND sc.align_score >= {MM.ALIGN_KEEP_MIN}) AS keep
                  FROM pg JOIN sc USING (image_id)),
            a AS (SELECT hm.host, count(*)::BIGINT AS n_pages,
                         sum(CASE WHEN g.keep THEN 1 ELSE 0 END)::BIGINT
                             AS n_keep
                  FROM g JOIN hm USING (image_id) GROUP BY hm.host)
            SELECT host, n_pages, n_keep,
                   (n_keep * 1000 // n_pages)::BIGINT AS keep_permille,
                   (n_keep * 1000 // n_pages)
                       < {HOST_BLOCK_KEEP_PERMILLE} AS blocked
            FROM a""",
        # image_text_qa: independent SQL recompute of the QA labels from
        # the fixture's (image_id, phash, caption) literal relation.
        "image_text_qa": f"""
            WITH pg AS (SELECT * FROM {_sql_values_table(
                _pages_qa_lit_rows(), ["image_id", "phash", "caption"])}),
            sp AS (SELECT caption,
                          count(DISTINCT phash)::BIGINT AS caption_spread
                   FROM pg GROUP BY caption)
            SELECT pg.image_id,
                   (count(*) OVER (PARTITION BY phash))::BIGINT
                       AS phash_dups,
                   sp.caption_spread,
                   (row_number() OVER (PARTITION BY phash, pg.caption
                                       ORDER BY pg.image_id) = 1
                    AND sp.caption_spread
                        <= {MM.CAPTION_SPREAD_MAX}) AS keep
            FROM pg JOIN sp USING (caption)""",
        "phash_neardup": f"""
            WITH ph AS (SELECT * FROM {_sql_values_table(
                _phash_lit_rows(), ["image_id", "phash"])})
            SELECT a.image_id AS id_a, b.image_id AS id_b,
                   bit_count(xor(a.phash, b.phash))::INT AS hamming
            FROM ph a JOIN ph b ON a.image_id < b.image_id
            WHERE bit_count(xor(a.phash, b.phash)) <= 6""",
        # Brute-force over ground-truth phashes + the engine's crc32
        # parity split replayed in Python; (a.is_new OR b.is_new) states
        # the incremental contract — index-vs-index pairs never emitted.
        "incremental_image_dedup": f"""
            WITH ph AS (SELECT * FROM {_sql_values_table(
                _incr_phash_lit_rows(), ["image_id", "phash", "is_new"])})
            SELECT a.image_id AS id_a, b.image_id AS id_b,
                   bit_count(xor(a.phash, b.phash))::INT AS hamming,
                   (a.is_new <> b.is_new) AS vs_index
            FROM ph a JOIN ph b ON a.image_id < b.image_id
            WHERE bit_count(xor(a.phash, b.phash)) <= 6
              AND (a.is_new OR b.is_new)""",
        # The STREAMING loop must land on the batching-free brute force:
        # same relation as incremental_image_dedup, vs_index dropped
        # (which batch boundary a new-new pair straddles is a scheduling
        # artifact, not data).
        "stream_image_dedup": f"""
            WITH ph AS (SELECT * FROM {_sql_values_table(
                _incr_phash_lit_rows(), ["image_id", "phash", "is_new"])})
            SELECT a.image_id AS id_a, b.image_id AS id_b,
                   bit_count(xor(a.phash, b.phash))::INT AS hamming
            FROM ph a JOIN ph b ON a.image_id < b.image_id
            WHERE bit_count(xor(a.phash, b.phash)) <= 6
              AND (a.is_new OR b.is_new)""",
        # The WHOLE signature chain recomputed inside DuckDB (unrolled
        # integer CTEs, the kmeans/PageRank convention): lowbias32 mix
        # -> 8x8 phash (sum/64.0 is integer-exact) -> frame-vote SimHash
        # assembled into a signed BIGINT -> brute-force O(n^2) pairs.
        # Independent of the engine's codec/decode path AND of its
        # guaranteed-recall block join; runs at ANY sf via the
        # documents view.
        "video_neardup": """
            WITH vids AS (
              SELECT doc_id AS d, doc_id // 20 AS g, (doc_id % 20) // 5 AS m,
                     6 + 4 * ((doc_id // 20) % 2) AS n
              FROM documents WHERE doc_id % 5 = 0 AND doc_id % 55 <> 0),
            px0 AS (
              SELECT d, g, m, n, i, idx,
                     (g * 1000003 + i * 10007 + idx) % 4294967296 AS x0
              FROM vids,
                   LATERAL unnest(generate_series(0, n - 1, 2)) f(i),
                   LATERAL unnest(generate_series(0, 63)) p(idx)),
            px1 AS (SELECT *, (xor(x0, x0 >> 16) * 73244475)
                              % 4294967296 AS x1 FROM px0),
            px2 AS (SELECT *, (xor(x1, x1 >> 16) * 73244475)
                              % 4294967296 AS x2 FROM px1),
            pxv AS (
              SELECT d, i, idx,
                     CASE WHEN i = n - 2 AND idx % 16 = 0
                          THEN ((xor(x2, x2 >> 16) >> 24) + 29 * m) % 256
                          ELSE xor(x2, x2 >> 16) >> 24 END AS v
              FROM px2),
            means AS (SELECT d, i, sum(v) / 64.0 AS mean
                      FROM pxv GROUP BY d, i),
            votes AS (
              SELECT pxv.d, 63 - idx AS j,
                     sum(CASE WHEN v > mean THEN 1 ELSE -1 END) AS votes
              FROM pxv JOIN means ON pxv.d = means.d AND pxv.i = means.i
              GROUP BY pxv.d, 63 - idx),
            sigs AS (
              SELECT d::VARCHAR AS video_id,
                     sum(CASE WHEN votes > 0 THEN
                           CASE WHEN j = 63 THEN -9223372036854775807 - 1
                                ELSE (1::BIGINT << j) END
                         ELSE 0 END)::BIGINT AS signature
              FROM votes GROUP BY d)
            SELECT a.video_id AS id_a, b.video_id AS id_b,
                   bit_count(xor(a.signature, b.signature))::INT AS hamming
            FROM sigs a JOIN sigs b ON a.video_id < b.video_id
            WHERE bit_count(xor(a.signature, b.signature)) <= 6""",
        "stream_sessions": """
            WITH o AS (
              SELECT user_id, ts, CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
                     lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS pts
              FROM events),
            f AS (SELECT *, CASE WHEN pts IS NULL
                                   OR ts - pts >= INTERVAL 30 MINUTE
                                 THEN 1 ELSE 0 END AS brk FROM o),
            g AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                                           ROWS UNBOUNDED PRECEDING) AS sid
                  FROM f)
            SELECT min(ts) AS sess_start,
                   max(ts) + INTERVAL 30 MINUTE AS sess_end,
                   user_id, count(*)::BIGINT AS n_events,
                   round(sum(cents)::DOUBLE, 4) AS session_value
            FROM g GROUP BY user_id, sid""",
    }
