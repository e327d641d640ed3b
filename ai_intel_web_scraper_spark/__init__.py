"""ai_intel_web_scraper_spark — a from-scratch PySpark-native crawl/analytics engine.

Re-expresses the capabilities of the reference `xbsd/ai_intel_web_scraper`
(a sequential single-threaded Python scrape pipeline) as a round-based,
DataFrame-first, snapshot-checkpointed frontier scheduler plus a library of
Spark operators (dedup, tagging, ranking, vector search, chunking).

Nothing here is a port: the reference's while-loop becomes one DataFrame job
per scheduling round; its in-memory `visited: set` becomes a bucketed
`url_seen` table with a partitioned-bloom fast path; its `time.sleep`
politeness becomes per-host quota windows.
"""

from . import zipcache

# every Python worker imports the package when it unpickles a package UDF:
# from then on its per-task importlib.invalidate_caches() stops re-reading
# pyspark.zip (see zipcache)
zipcache.install()

__version__ = "0.1.0"
