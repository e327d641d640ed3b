"""Re-read a zip archive's directory only when the archive changed.

Why: a reused PySpark Python worker calls ``importlib.invalidate_caches()``
before every task (``setup_spark_files`` in ``pyspark/worker_util.py``).
On CPython < 3.13 that calls ``zipimport.zipimporter.invalidate_caches``
on every cached zipimporter, and each one re-reads its archive's whole
central directory. The workers import pyspark from
``$SPARK_HOME/python/lib/pyspark.zip`` (1,328 entries), through 16
zipimporters (one per package dir imported), so every task re-parses that
directory 16 times before its first row: ~60-70 ms per task on a 4-vCPU
VM, several times the work of a resolve or probe UDF over a round's rows.
Measured there (CPython 3.11, Spark 4.1): a job running a trivial pandas
UDF over 500 rows on a warm ``local[1]`` session took 0.25-0.40 s before
and 0.15-0.21 s after (median of 20 warm runs, in each of three sessions;
a JVM-only job takes 0.05-0.07 s), the worker-side ``Times: total`` per
task fell from 107-216 ms to 11-65 ms, and the benchmark's ``sched``
round went from 38.5k to 46.5k URLs/s (medians of 12 interleaved pairs).

What: ``install()`` replaces that method with one keyed on the archive's
``(st_mtime_ns, st_size)`` -- the rule CPython itself uses to validate a
cached ``.pyc`` against its source. An archive whose stamp matches the one
recorded at its last read keeps its cached directory; a rewritten (or
unstat-able) archive is re-read exactly as before, so a module added to a
rewritten zip is still found after ``invalidate_caches()``. All the
importers of one archive share one read.

The package ``__init__`` installs it, so every worker that unpickles a
package UDF has it from then on (also under ``--py-files``): a worker's
first task still pays the re-read. CPython 3.13 made the method lazy (it
drops the cache entry; the next lookup re-reads once), so there
``install()`` does nothing.

The recorded stamps are process-wide, like ``zipimport``'s own directory
cache that they validate.
"""

from __future__ import annotations

import os
import sys
import zipimport

_ORIGINAL = zipimport.zipimporter.invalidate_caches

# archive path -> (st_mtime_ns, st_size) when its cached directory was read
_stamps: dict[str, tuple[int, int]] = {}


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_caches(self) -> None:
    """zipimporter.invalidate_caches, re-reading the archive's directory
    only if the archive changed since it was last read."""
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None \
            and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _ORIGINAL(self)
    # record only a read that is known to match the stamp taken before it
    if stamp is not None and stamp == _stamp(self.archive) \
            and self.archive in zipimport._zip_directory_cache:
        _stamps[self.archive] = stamp
    else:
        _stamps.pop(self.archive, None)


def install() -> None:
    """Replace zipimporter.invalidate_caches on CPython < 3.13 (idempotent)."""
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = _invalidate_caches
