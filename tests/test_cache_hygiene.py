"""Executor-storage hygiene: query functions must not leak persisted
RDDs across invocations in a long-lived session (round-5 dd12 kept a
corpus-sized `.persist()` with no unpersist point).

Documented exceptions: dd03/dd05/dd09/dd13 eagerly persist signature
frames as SESSION-LIFETIME caches (multiple consumers of an expensive
kernel; the trade is stated at each call site). Those caches are
created once per plan and re-running the query re-reads them — the
assertion here is that repeated invocations do not GROW storage
unboundedly.
"""

from __future__ import annotations

from datapipeline_template_spark.queries import load_all

SF_DIR = "/root/testdata/sf0.001"


def _persisted_ids(spark) -> set[int]:
    """Ids of the RDDs persisted right now. Compared as sets, not
    counts: Spark's ContextCleaner may unpersist an RDD that an
    earlier test left cached at any moment, which lowers a count but
    never adds an id."""
    return {int(i) for i in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


def test_dd12_does_not_leak_persisted_rdds(spark):
    """dd12 twice in one session: no RDD persisted during the second
    call is still persisted after it (the shared shingle projection is
    recomputed per consumer, not cached)."""
    fn = load_all()["dd12_dup_span_stats"].fn
    fn(spark, SF_DIR).count()  # warm any session-level machinery
    before = _persisted_ids(spark)
    fn(spark, SF_DIR).count()
    leaked = _persisted_ids(spark) - before
    assert leaked == set(), f"dd12 left RDDs {sorted(leaked)} persisted"


def test_dd13_storage_growth_bounded(spark):
    """dd13's documented session cache is now KEYED by (application,
    sf_dir): the first call pays the two documented persists
    (enrichment frame + eager banded copy); every re-invocation returns
    the same lazy frame and re-reads those caches — no RDD may become
    persisted during the second call (no per-call stacking, the leak
    class the dd12 fix removed)."""
    fn = load_all()["dd13_jaccard_estimate"].fn
    fn(spark, SF_DIR).count()
    after_first = _persisted_ids(spark)
    fn(spark, SF_DIR).count()
    grown = _persisted_ids(spark) - after_first
    assert grown == set(), f"dd13 persisted RDDs {sorted(grown)} on re-invocation"
