"""Session tuning + plan inspection.

The driver hands us an arbitrary ``SparkSession``; every query entry point
calls :func:`prep_session` first so results are deterministic regardless of
the ambient config (timezone for timestamp->pandas conversion, nanosecond
parquet handling, AQE for runtime re-planning at scale).
"""

from __future__ import annotations

import io
import os
import sys
import threading
import weakref
from contextlib import redirect_stdout

from pyspark.sql import DataFrame, SparkSession

# Runtime-settable confs applied to any session we receive. Everything here
# is a deliberate scale/determinism choice:
#  - UTC session tz: value-hash parity with the DuckDB oracle on timestamps.
#  - nanosAsLong: driver testdata writes timestamp[ns] parquet (events.ts),
#    which Spark 4 otherwise refuses to read; sources/ converts to micros.
#  - AQE + coalesce + skew-join: runtime re-planning is the 100 TB story for
#    shuffle sizing and skewed keys.
#  - Arrow: vectorized Python<->JVM transfer for the few pandas-UDF paths.
_SESSION_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # exact ANSI-interval/ansi off: keep permissive defaults for oracle parity
    "spark.sql.parquet.aggregatePushdown": "true",
    # dimension tables up to 64MB broadcast instead of shuffling the fact
    # side — the standard production bump over the conservative 10MB
    # default (measured: fact-dim join 2.2s -> 1.9s at sf0.1; at cluster
    # scale it removes an exchange of the large side entirely)
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # collect_set/collect_list run as ObjectHashAggregate, which silently
    # falls back to SORT-BASED aggregation past 128 groups per partition —
    # the default turns every sketch aggregation (chargram bottom-k,
    # minhash signatures, centroid assembly) into a sort. Our per-group
    # state is bounded and small (grams-per-doc / k centroids), so a high
    # threshold is safe; measured 2.5-3.1s -> 2.4s stable on the chargram
    # sketch at sf0.1. At 100 TB keep state bounded per group before
    # raising this (it exists to cap memory for giant groups).
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold": "1000000",
    # wrapping two's-complement long arithmetic (Spark's pre-4.0 default):
    # the minhash affine hash family g_i = p1 + i*p2 relies on mod-2^64
    # wraparound, which the DuckDB oracle mirrors with HUGEINT % 2^64.
    # ANSI error-on-overflow would make that a 32x-md5 computation instead
    # (measured 3.9s vs 0.9s at sf0.1).
    "spark.sql.ansi.enabled": "false",
}


#: Determinism-critical subset, RE-ASSERTED on every prep_session call
#: (ADVICE r12): the documented contract is that every query entry point
#: re-establishes hash parity regardless of ambient config mutations
#: between queries — memoizing these three would let an external driver
#: that flips timezone/ansi/nanos mid-session silently break oracle
#: parity where the old per-call application self-healed. Three py4j
#: set-roundtrips (~1ms) per call is the price of the contract; only
#: the tuning-only confs ride the once-per-session memo.
_DETERMINISM_CONFS: tuple[str, ...] = (
    "spark.sql.session.timeZone",
    "spark.sql.ansi.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
)

#: r12 opt: sessions already prepped — each conf.set is a py4j
#: round-trip and prep_session runs on EVERY read_table call (2-5x per
#: query); applying the identical TUNING values repeatedly is pure
#: driver overhead. Weak so a stopped session's entry is collected;
#: lock-guarded (ADVICE r12 — WeakSet is not thread-safe under GC
#: callbacks and the repo documents concurrent sessions).
_PREPPED: "weakref.WeakSet[SparkSession]" = weakref.WeakSet()
_PREP_LOCK = threading.Lock()


def prep_session(spark: SparkSession) -> SparkSession:
    """Apply deterministic/tuning confs to an externally-provided session.
    Tuning confs are applied once per session per process (the values are
    constants, so re-application could only ever write the same bytes);
    the determinism-critical trio (timezone/ansi/nanos) is re-asserted on
    EVERY call — see ``_DETERMINISM_CONFS``."""
    with _PREP_LOCK:
        seen = spark in _PREPPED
        if not seen:
            _PREPPED.add(spark)
    keys = _SESSION_CONFS if not seen else _DETERMINISM_CONFS
    for k in keys:
        try:
            spark.conf.set(k, _SESSION_CONFS[k])
        except Exception:
            # Non-runtime conf on this build: keep going, defaults are sane.
            pass
    return spark


def _stat_key(path: str):
    """``(st_ino, st_size, st_mtime_ns)`` of ``path``, None if missing."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def prep_worker() -> None:
    """Worker-side twin of :func:`prep_session`, called at the top of
    every Python function the package ships to Spark's Python workers.

    Every Python task starts with ``importlib.invalidate_caches()``
    (``pyspark.worker_util.setup_spark_files``). On CPython < 3.12 that
    makes each cached ``zipimporter`` re-read its archive's whole
    directory: 16 re-reads of the 1,328-entry ``pyspark.zip`` per task,
    most of a trivial task's time. This installs, once per worker
    process, an ``invalidate_caches`` that re-reads an archive only when
    its ``(st_ino, st_size, st_mtime_ns)`` changed. The keys of the
    archives already cached are taken at install time, which is right
    after the task's own invalidation re-read every one of them. The
    marker (the keys dict) lives on the ``zipimporter`` class: this
    module's globals ship by value, so they are fresh in every task,
    while the class lives as long as the (reused) worker. From 3.12 the
    invalidation is lazy and this does nothing. The first task of a
    fresh worker still pays once; every later task in it does not."""
    if sys.version_info >= (3, 12):
        return
    import zipimport

    cls = zipimport.zipimporter
    if "_archive_keys" in cls.__dict__:
        return
    keys = {a: _stat_key(a) for a in list(zipimport._zip_directory_cache)}
    reread = cls.invalidate_caches

    def invalidate_caches(self):
        key = _stat_key(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if key is not None and files is not None and keys.get(self.archive) == key:
            self._files = files
            return
        reread(self)
        keys[self.archive] = key

    cls.invalidate_caches = invalidate_caches
    cls._archive_keys = keys


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    """Capture ``df.explain(mode)`` output as a string (for tests/CI checks
    asserting on pushed filters, broadcast joins, codegen spans)."""
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()
