"""Operator unit tests (SURVEY.md §5 item 3) on tiny in-memory frames."""

from __future__ import annotations

import threading
import time

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datapipeline_template_spark.operators.cdc import drop_soft_deleted
from datapipeline_template_spark.operators.dedup import (
    keep_latest,
    keep_latest_window,
    minhash_signature,
    shingle_tokens,
    simhash64,
)
from datapipeline_template_spark.operators.expectations import expect_all_or_drop
from datapipeline_template_spark.operators.multimodal import (
    attach_media_meta,
    sample_frames,
)
from datapipeline_template_spark.operators.projection import (
    apply_renames,
    upcast_int_to_bigint,
)
from datapipeline_template_spark.functions import token_poly_hash
from datapipeline_template_spark.plans.dag import Dag, Dataset


def test_upcast_covers_all_narrow_ints(spark):
    df = spark.createDataFrame(
        [(1, 2, 3, 4.0, "x")],
        T.StructType(
            [
                T.StructField("a", T.IntegerType()),
                T.StructField("b", T.ShortType()),
                T.StructField("c", T.LongType()),
                T.StructField("d", T.DoubleType()),
                T.StructField("e", T.StringType()),
            ]
        ),
    )
    out = dict(upcast_int_to_bigint(df).dtypes)
    assert out == {"a": "bigint", "b": "bigint", "c": "bigint", "d": "double", "e": "string"}


def test_apply_renames_missing_column_fails_fast(spark):
    df = spark.range(1).select(F.col("id").alias("a"))
    with pytest.raises(ValueError, match="missing columns"):
        apply_renames(df, {"nope": "b"})


def test_keep_latest_forms_agree(spark):
    rows = [
        Row(k=1, v="old", o=1),
        Row(k=1, v="new", o=2),
        Row(k=2, v="only", o=1),
        Row(k=1, v="tie_hi", o=2),  # tie on o → needs tiebreaker
    ]
    df = spark.createDataFrame(rows).withColumn("tb", F.monotonically_increasing_id())
    a = keep_latest(df, ["k"], ["o", "tb"]).drop("tb")
    b = keep_latest_window(df, ["k"], ["o", "tb"]).drop("tb")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    assert a.count() == 2


def test_keep_latest_salted_equals_plain_on_hot_key_feed(spark):
    """The salted two-phase form must equal keep_latest AND the
    window form on a 90 %-hot-key feed (the SURVEY §7.3 skew shape),
    at several salt counts including the degenerate n_salts=1, and
    across ties broken by the unique order column. Duplicated order
    keys sharing one salt is the documented-harmless case — rows that
    tie under the total order are interchangeable, and the feed here
    has none (event ids are unique)."""
    import pytest

    from datapipeline_template_spark.operators.dedup import keep_latest_salted

    n = 2000
    base = spark.range(n).select(
        # 90% of rows collapse onto key 0.
        F.when(F.col("id") % 10 < 9, F.lit(0))
        .otherwise(F.col("id") % 37)
        .cast("long")
        .alias("k"),
        (F.col("id") % 97).cast("long").alias("o"),  # heavy order ties
        F.col("id").alias("uid"),  # unique tiebreaker
        (F.col("id") * 3 % 1000).cast("long").alias("v"),
    )
    want = sorted(
        map(tuple, keep_latest(base, ["k"], ["o", "uid"]).collect())
    )
    assert sorted(
        map(tuple, keep_latest_window(base, ["k"], ["o", "uid"]).collect())
    ) == want
    for n_salts in (1, 4, 16):
        got = sorted(
            map(
                tuple,
                keep_latest_salted(
                    base, ["k"], ["o", "uid"], n_salts=n_salts
                ).collect(),
            )
        )
        assert got == want, f"n_salts={n_salts}"
    with pytest.raises(ValueError, match="n_salts"):
        keep_latest_salted(base, ["k"], ["o", "uid"], n_salts=0)


def test_soft_delete_drops_null_op(spark):
    df = spark.createDataFrame(
        [Row(id=1, op="U"), Row(id=2, op="D"), Row(id=3, op=None)]
    )
    kept = {r["id"] for r in drop_soft_deleted(df).collect()}
    assert kept == {1}  # 'D' AND NULL both dropped (R17 3VL semantics)


def test_soft_delete_noop_without_op_column(spark):
    df = spark.range(3)
    assert drop_soft_deleted(df).count() == 3


def test_expectations_metrics(spark):
    df = spark.createDataFrame(
        [Row(x=1, y="a"), Row(x=None, y="b"), Row(x=3, y=None), Row(x=None, y=None)]
    )
    out, obs = expect_all_or_drop(
        df, {"has_x": "x IS NOT NULL", "has_y": "y IS NOT NULL"}, with_metrics=True
    )
    assert out.count() == 1
    assert obs.get == {"has_x": 2, "has_y": 2}


def test_shingles_and_minhash_similarity_ordering(spark):
    # Near-identical docs share most shingles → identical/close minhash;
    # a different doc does not.
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="the quick brown fox jumps over the lazy dog"),
            Row(doc_id=2, text="the quick brown fox jumps over the lazy cat"),
            Row(doc_id=3, text="completely different words in this one here now"),
        ]
    )
    toks = F.split("text", " ")
    sigs = df.select(
        "doc_id", minhash_signature(shingle_tokens(toks, k=3), num_hashes=32).alias("sig")
    ).collect()
    by_id = {r["doc_id"]: r["sig"] for r in sigs}
    agree_12 = sum(a == b for a, b in zip(by_id[1], by_id[2]))
    agree_13 = sum(a == b for a, b in zip(by_id[1], by_id[3]))
    assert agree_12 > agree_13
    assert agree_13 == 0


def test_simhash_near_for_near_texts(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="alpha beta gamma delta epsilon zeta eta theta"),
            Row(doc_id=2, text="alpha beta gamma delta epsilon zeta eta iota"),
            Row(doc_id=3, text="one two three four five six seven eight"),
        ]
    )
    hs = df.select(
        "doc_id", simhash64(token_poly_hash(F.split("text", " "))).alias("h")
    ).collect()
    by_id = {r["doc_id"]: r["h"] for r in hs}
    ham = lambda a, b: bin(a ^ b).count("1")  # noqa: E731
    assert ham(by_id[1], by_id[2]) < ham(by_id[1], by_id[3])


def test_multimodal_meta_and_frames(spark):
    df = spark.createDataFrame([Row(media_id=1, payload=b"x" * 5000)])
    meta = attach_media_meta(df, "payload", "video", "mp4").select("media_meta.*").collect()[0]
    assert meta["n_bytes"] == 5000 and meta["media_type"] == "video"
    frames = sample_frames(df, "media_id", "payload", every_n_bytes=1024)
    assert frames.count() == 5  # offsets 0,1024,...,4096


def test_ivf_recall_vs_exact(spark, sf_dir):
    """IVF with 16 cells / 2 probes must recover most of the exact
    top-5 neighborhood (approximate, but not arbitrarily wrong)."""
    from pyspark.sql import functions as F

    from datapipeline_template_spark.catalog import table as cat_table
    from datapipeline_template_spark.operators.similarity import cosine_topk_blas, ivf_topk

    emb = cat_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    exact = cosine_topk_blas(emb, queries, "vec_id", "embedding", k=5).collect()
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact}

    def recall(n_probe):
        approx = ivf_topk(
            emb, queries, "vec_id", "embedding", k=5, n_cells=8, n_probe=n_probe
        ).collect()
        return (
            len(exact_set & {(r["query_id"], r["neighbor_id"]) for r in approx})
            / len(exact_set),
            approx,
        )

    # The recall/cost dial: more probes → recall can only help, and a
    # full probe IS brute force (recall exactly 1). These invariants
    # hold for ANY data distribution — the synthetic embeddings here
    # are near-uniform, the worst case for IVF locality, so a fixed
    # recall floor at low n_probe would just test the RNG.
    r2, _ = recall(2)
    r8, approx_full = recall(8)
    assert r8 == 1.0, f"full probe must equal brute force, got {r8}"
    assert r2 <= r8
    # Scores of overlapping pairs are IDENTICAL (same quantized math).
    exact_scores = {(r["query_id"], r["neighbor_id"]): r["score"] for r in exact}
    for r in approx_full:
        assert r["score"] == exact_scores[(r["query_id"], r["neighbor_id"])]


def test_driver_collect_paths_reject_large_query_side(spark, sf_dir):
    """The BLAS matmul and IVF probe paths hold the query side on the
    driver — a query side over the cap must raise cleanly instead of
    OOMing the driver (round-2 advice). limit(cap+1) also bounds what
    the failing job itself materializes."""
    from pyspark.sql import functions as F

    from datapipeline_template_spark.catalog import table as cat_table
    from datapipeline_template_spark.operators.similarity import cosine_topk_blas, ivf_topk

    emb = cat_table(spark, sf_dir, "embeddings")
    with pytest.raises(ValueError, match="max_query_rows"):
        cosine_topk_blas(emb, emb, "vec_id", "embedding", k=5, max_query_rows=10)
    with pytest.raises(ValueError, match="max_query_rows"):
        ivf_topk(emb, emb, "vec_id", "embedding", k=5, max_query_rows=10)
    # At (or under) the cap the path still works.
    small = emb.where(F.col("vec_id") < 3)
    assert cosine_topk_blas(emb, small, "vec_id", "embedding", k=2, max_query_rows=3).count() == 6


def test_dag_topo_and_cycle(spark):
    order = []
    dag = Dag()
    dag.add(Dataset("b", lambda: order.append("b"), deps=("a",)))
    dag.add(Dataset("a", lambda: order.append("a")))
    dag.add(Dataset("c", lambda: order.append("c"), deps=("a", "b")))
    dag.run()
    assert order == ["a", "b", "c"]

    bad = Dag()
    bad.add(Dataset("x", lambda: None, deps=("y",)))
    bad.add(Dataset("y", lambda: None, deps=("x",)))
    with pytest.raises(ValueError, match="cycle"):
        bad.topo_order()


def test_dag_runs_independent_nodes_concurrently():
    """Two independent nodes each wait for the other at one barrier:
    only a scheduler that runs them at once gets both past it."""
    barrier = threading.Barrier(2, timeout=10)
    dag = Dag()
    dag.add(Dataset("a", barrier.wait))
    dag.add(Dataset("b", barrier.wait))
    assert sorted(dag.run(workers=2).values()) == [0, 1]


def test_dag_node_starts_after_all_its_deps():
    """A node starts once every one of its own deps has returned, not
    when its whole topological level has: ``after_fast`` runs while
    its level-0 peer ``slow`` is still waiting for it."""
    events = []
    lock = threading.Lock()
    after_fast_ran = threading.Event()

    def node(name, body=lambda: None):
        def build():
            with lock:
                events.append(("start", name))
            out = body()
            with lock:
                events.append(("end", name))
            return out

        return build

    dag = Dag()
    dag.add(Dataset("slow", node("slow", lambda: after_fast_ran.wait(10))))
    dag.add(Dataset("fast", node("fast")))
    dag.add(Dataset("after_fast", node("after_fast", after_fast_ran.set), deps=("fast",)))
    dag.add(Dataset("join", node("join"), deps=("slow", "after_fast")))
    out = dag.run(workers=4)

    assert out["slow"] is True  # did not time out
    assert list(out) == [d.name for d in dag.topo_order()]
    pos = {ev: i for i, ev in enumerate(events)}
    for d in dag.nodes.values():
        for dep in d.deps:
            assert pos[("end", dep)] < pos[("start", d.name)], (dep, d.name)


def test_dag_failure_stops_new_nodes_and_reraises():
    """A failing node: its dependent never starts, an in-flight sibling
    completes, nothing starts after the failure, and the caller gets
    the original exception."""
    events = []
    failed = threading.Event()

    def boom():
        events.append("bad")
        failed.set()
        raise ValueError("boom")

    def sibling():
        assert failed.wait(10)
        time.sleep(0.2)
        events.append("sibling")

    dag = Dag()
    dag.add(Dataset("bad", boom))
    dag.add(Dataset("sibling", sibling))
    dag.add(Dataset("child", lambda: events.append("child"), deps=("bad",)))
    dag.add(Dataset("after_sibling", lambda: events.append("after_sibling"), deps=("sibling",)))
    with pytest.raises(ValueError, match="boom") as exc:
        dag.run(workers=2)
    assert type(exc.value) is ValueError
    assert events == ["bad", "sibling"]


def test_dag_nodes_inherit_caller_job_group(spark):
    """Pool threads see the caller's job group (pinned-thread mode does
    not inherit local properties by itself)."""
    sc = spark.sparkContext

    def probe():
        return threading.current_thread() is threading.main_thread(), sc.getLocalProperty(
            "spark.jobGroup.id"
        )

    dag = Dag()
    dag.add(Dataset("a", probe))
    dag.add(Dataset("b", probe, deps=("a",)))
    sc.setJobGroup("caller", "dag context test")
    try:
        out = dag.run(workers=2)
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert out == {"a": (False, "caller"), "b": (False, "caller")}


def test_dag_single_worker_runs_in_topo_order():
    order = []
    dag = Dag()
    for name, deps in (("a", ()), ("b", ("a",)), ("c", ()), ("d", ("b", "c")), ("e", ("c",))):
        dag.add(Dataset(name, lambda name=name: order.append(name), deps=deps))
    out = dag.run(workers=1)
    topo = [d.name for d in dag.topo_order()]
    assert topo == ["a", "c", "b", "e", "d"]
    assert order == topo and list(out) == topo


def test_dag_stress_many_nodes_more_workers_than_cores():
    """A random 300-node graph on 16 threads with a tiny switch
    interval: every node runs once, after all of its deps."""
    import random
    import sys

    rng = random.Random(7)
    names = [f"n{i}" for i in range(300)]
    lock = threading.Lock()
    finished: list[str] = []

    def build(name):
        with lock:
            done = set(finished)
        assert all(dep in done for dep in dag.nodes[name].deps), name
        with lock:
            finished.append(name)

    dag = Dag()
    for i, name in enumerate(names):
        deps = tuple(rng.sample(names[:i], k=min(i, rng.randint(0, 3))))
        dag.add(Dataset(name, lambda name=name: build(name), deps=deps))
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        out = dag.run(workers=16)
    finally:
        sys.setswitchinterval(old)
    assert sorted(finished) == sorted(names) and len(out) == len(names)


def test_connected_components_known_graphs(spark):
    """Chain, triangle, and isolated pair must resolve to min-id
    components; a long chain exercises multi-round propagation."""
    from datapipeline_template_spark.operators.dedup import connected_components

    edges = [
        # chain 1-2-3-4-5 (diameter 4 → several propagation rounds)
        (1, 2), (2, 3), (3, 4), (4, 5),
        # triangle 10-11-12
        (10, 11), (11, 12), (10, 12),
        # isolated pair
        (20, 21),
    ]
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    got = {
        r["node"]: r["component"]
        for r in connected_components(df, "id_a", "id_b").collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_asof_join_boundaries_ties_and_inner(spark):
    """As-of join semantics on a hand-checkable frame: non-strict takes
    the same-instant right row, strict takes the one before; right
    ties on (key, ts) resolve to the max payload tuple; inner drops
    unmatched lefts; an unknown key column raises."""
    from datapipeline_template_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [("a", 10, "l1"), ("a", 20, "l2"), ("a", 5, "l0"), ("b", 10, "lb")],
        "k string, t long, lab string",
    )
    right = spark.createDataFrame(
        [("a", 10, 100), ("a", 10, 101), ("a", 15, 200), ("c", 1, 999)],
        "k string, t long, rid int",
    )
    loose = {
        (r["lab"]): (r["r_t"], r["r_rid"])
        for r in asof_join(left, right, ["k"], "t", "t", ["rid"]).collect()
    }
    # non-strict: l1@10 sees the tied right rows at t=10 → max payload (10,101)
    assert loose == {"l1": (10, 101), "l2": (15, 200), "l0": (None, None), "lb": (None, None)}
    strict = {
        (r["lab"]): (r["r_t"], r["r_rid"])
        for r in asof_join(left, right, ["k"], "t", "t", ["rid"], strict=True).collect()
    }
    # strict: l1@10 must NOT see the t=10 rows (l2@20 still sees t=15)
    assert strict == {"l1": (None, None), "l2": (15, 200), "l0": (None, None), "lb": (None, None)}
    inner = asof_join(left, right, ["k"], "t", "t", ["rid"], how="inner").collect()
    assert sorted(r["lab"] for r in inner) == ["l1", "l2"]
    with pytest.raises(ValueError, match="key column"):
        asof_join(left, right.withColumnRenamed("k", "kk"), ["k"], "t", "t", ["rid"])


def test_cascade_rollup_levels_equal_direct_aggregation(spark):
    """Every cascade level must equal the same-grain aggregate computed
    directly from raw — the decomposability contract (count folds as
    sum, min/max as themselves); non-decomposable kinds raise."""
    from datapipeline_template_spark.operators.rollup import cascade_rollup

    rows = [
        ("a", "2024-01-01 10:15:00", 5),
        ("a", "2024-01-01 10:45:00", 3),
        ("a", "2024-01-01 11:05:00", 7),
        ("a", "2024-01-02 09:00:00", 2),
        ("b", "2024-02-10 23:59:59", 11),
        ("b", "2024-01-01 10:15:00", None),
    ]
    df = spark.createDataFrame(rows, "k string, ts_s string, v int").withColumn(
        "ts", F.to_timestamp("ts_s")
    )
    measures = {
        "n": ("count", F.lit(1)),
        "s": ("sum", F.col("v")),
        "mn": ("min", F.col("v")),
        "mx": ("max", F.col("v")),
    }
    levels = cascade_rollup(df, "ts", ["k"], measures, levels=("hour", "day", "month"))
    for lvl, got in levels.items():
        direct = df.groupBy(
            F.date_trunc(lvl, "ts").alias("bucket"), "k"
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v").alias("s"),
            F.min("v").alias("mn"),
            F.max("v").alias("mx"),
        )
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, direct.collect())), lvl
    # k=a: 3 events on Jan 1 + 1 on Jan 2 → day counts {3,1}, one
    # January month row of 4.
    assert {r["n"] for r in levels["day"].where(F.col("k") == "a").collect()} == {3, 1}
    assert [r["n"] for r in levels["month"].where(F.col("k") == "a").collect()] == [4]
    with pytest.raises(ValueError, match="non-decomposable"):
        cascade_rollup(df, "ts", ["k"], {"a": ("avg", F.col("v"))})


def _union_find(edges):
    """Ground-truth components: plain union-find, min id per set."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def _cc_cases():
    import random

    rng = random.Random(20260813)
    cases = {
        "two_chains": [(i, i + 1) for i in range(1, 12)] + [(100, 101), (101, 102)],
        "star": [(1, i) for i in range(2, 20)],
        "dense_plus_singleton_edge": [
            (a, b) for a in range(1, 10) for b in range(a + 1, 10)
        ] + [(50, 51)],
    }
    for trial in range(3):
        n = 40
        edges = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(30)
        ]
        cases[f"random_{trial}"] = [(a, b) for a, b in edges if a != b]
    return cases


@pytest.mark.parametrize("case", sorted(_cc_cases()))
def test_connected_components_forms_agree_with_union_find(spark, case):
    """Both CC forms (min-label propagation and large-star/small-star
    contraction) must equal a union-find ground truth."""
    from datapipeline_template_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    edges = _cc_cases()[case]
    truth = _union_find(edges)
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    for fn in (connected_components, connected_components_star):
        got = {r["node"]: r["component"] for r in fn(df, "id_a", "id_b").collect()}
        assert got == truth, f"{fn.__name__} diverged on {case}"


def test_connected_components_long_chain_raises_star_converges(spark):
    """A 60-hop chain exceeds the propagation form's default max_iter
    → loud RuntimeError (round-2 advice: silent wrong components);
    the star form needs only O(log n) rounds and must solve it."""
    from datapipeline_template_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    edges = [(i, i + 1) for i in range(60)]
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, "id_a", "id_b", max_iter=5)
    got = {
        r["node"]: r["component"]
        for r in connected_components_star(df, "id_a", "id_b", max_iter=12).collect()
    }
    assert got == {i: 0 for i in range(61)}


def test_pack_sequences_invariants(spark):
    """Training-layout packing: deterministic under repartitioning and
    salt-stable; contiguous within shard (each row's offset = previous
    row's offset+tokens mod budget, seq strictly non-decreasing);
    different salts give different layouts; NULL/empty text weighs 0."""
    from datapipeline_template_spark.operators.packing import (
        pack_sequences,
        whitespace_token_count,
    )

    rows = [(i, " ".join(["w"] * (i % 7))) for i in range(200)]
    rows += [(200, None), (201, ""), (202, "   ")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    out = pack_sequences(
        df, "doc_id", whitespace_token_count("text"), n_shards=4, budget=10, salt="s1"
    )
    got = {r["doc_id"]: r for r in out.collect()}
    assert len(got) == 203
    assert got[200]["n_tokens"] == 0 and got[201]["n_tokens"] == 0 and got[202]["n_tokens"] == 0

    # Determinism under physical layout changes.
    out2 = pack_sequences(
        df.repartition(13), "doc_id", whitespace_token_count("text"),
        n_shards=4, budget=10, salt="s1",
    )
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, out2.collect()))

    # A different salt reshuffles: some document changes position.
    out3 = pack_sequences(
        df, "doc_id", whitespace_token_count("text"), n_shards=4, budget=10, salt="s2"
    )
    assert sorted(map(tuple, out.collect())) != sorted(map(tuple, out3.collect()))

    # Within every shard, replaying the TRUE shuffle order (the poly
    # hash the operator sorts by) must reproduce (seq, offset) via the
    # contiguous-concat rule.
    from collections import defaultdict

    from datapipeline_template_spark.functions import poly_hash

    skey_rows = df.select(
        "doc_id", poly_hash(F.concat(F.lit("s1:"), F.col("doc_id").cast("string"))).alias("k")
    ).collect()
    skey = {r["doc_id"]: r["k"] for r in skey_rows}
    by_shard = defaultdict(list)
    for r in out.collect():
        by_shard[r["shard"]].append(r)
    for shard, rs in by_shard.items():
        rs.sort(key=lambda r: (skey[r["doc_id"]], r["doc_id"]))
        cum = 0
        for r in rs:
            assert skey[r["doc_id"]] % 4 == shard
            assert r["seq_in_shard"] == cum // 10, r
            assert r["offset_in_seq"] == cum % 10, r
            cum += r["n_tokens"]

    with pytest.raises(ValueError):
        pack_sequences(df, "doc_id", whitespace_token_count("text"), 0, 10)


def test_mix_sources_epoch_weights(spark):
    """Epoch-weighted mixing: integer part = full repeats, fractional
    part = deterministic hash subset, 0 excludes, default applies to
    unlisted strata; stable under repartitioning."""
    from datapipeline_template_spark.functions import POLY_P
    from datapipeline_template_spark.operators.packing import mix_sources

    rows = [(i, f"s{i % 4}") for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, src string")
    out = mix_sources(
        df, "doc_id", "src", {"s0": 3.0, "s1": 0.5, "s2": 0.0}, default_epochs=1.0
    )
    got = out.groupBy("src").count().collect()
    by_src = {r["src"]: r["count"] for r in got}
    assert by_src["s0"] == 300  # 3 full epochs x 100 docs
    assert "s2" not in by_src  # excluded
    assert by_src["s3"] == 100  # default 1.0
    assert 20 <= by_src["s1"] <= 80  # ~50% hash subset
    # Fractional membership is exactly the documented predicate.
    kept_s1 = {r["doc_id"] for r in out.where(F.col("src") == "s1").collect()}
    expect_s1 = {
        i for i in range(1, 400, 4) if (i * 2_654_435_761) % POLY_P < POLY_P // 2
    }
    assert kept_s1 == expect_s1
    # Epoch tags: s0 docs carry epochs {0,1,2}.
    eps = {r["epoch"] for r in out.where(F.col("src") == "s0").collect()}
    assert eps == {0, 1, 2}
    # Deterministic under physical layout.
    out2 = mix_sources(
        df.repartition(7), "doc_id", "src", {"s0": 3.0, "s1": 0.5, "s2": 0.0}
    )
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, out2.collect()))
    with pytest.raises(ValueError, match="negative"):
        mix_sources(df, "doc_id", "src", {"s0": -1.0})


def test_train_split_partition_and_determinism(spark):
    """Hash split: exhaustive (every row gets exactly one split),
    proportions roughly honored, membership is the documented
    bucket-threshold predicate, stable under repartitioning, and the
    fractions must sum to 1."""
    from datapipeline_template_spark.functions import POLY_P
    from datapipeline_template_spark.operators.packing import train_split

    df = spark.createDataFrame([(i,) for i in range(1000)], "doc_id long")
    fr = {"train": 0.8, "val": 0.1, "test": 0.1}
    out = df.select("doc_id", train_split("doc_id", fr))
    counts = {r["split"]: r["count"] for r in out.groupBy("split").count().collect()}
    assert sum(counts.values()) == 1000
    assert counts["train"] > counts["val"] and counts["train"] > counts["test"]
    # Membership is the documented predicate.
    t1, t2 = int(0.8 * POLY_P), int(0.9 * POLY_P)
    for r in out.collect():
        b = (r["doc_id"] * 2_654_435_761) % POLY_P
        want = "train" if b < t1 else ("val" if b < t2 else "test")
        assert r["split"] == want, r
    out2 = df.repartition(7).select("doc_id", train_split("doc_id", fr))
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, out2.collect()))
    with pytest.raises(ValueError, match="sum to 1"):
        train_split("doc_id", {"train": 0.5, "val": 0.1})
    # Sums to 1 but a negative/oversized fraction would yield an empty
    # or overlapping split — must be rejected, not silently accepted.
    with pytest.raises(ValueError, match="in \\(0, 1\\]"):
        train_split("doc_id", {"train": 1.2, "test": -0.2})


def test_length_bucket_boundaries(spark):
    """Length bucketing: exact boundary rows land in the lower bucket
    (cap is inclusive), overflow -> -1, zero-weight rows land in the
    smallest bucket; caps must be strictly increasing."""
    from datapipeline_template_spark.operators.packing import length_bucket

    df = spark.createDataFrame(
        [(0,), (1,), (16,), (17,), (32,), (33,), (64,), (65,), (1000,)], "tok long"
    )
    out = df.select("tok", length_bucket(F.col("tok"), [16, 32, 64]))
    got = {r["tok"]: r["bucket_cap"] for r in out.collect()}
    assert got == {0: 16, 1: 16, 16: 16, 17: 32, 32: 32, 33: 64, 64: 64, 65: -1, 1000: -1}
    with pytest.raises(ValueError, match="strictly increasing"):
        length_bucket(F.col("tok"), [32, 16])
    with pytest.raises(ValueError, match="strictly increasing"):
        length_bucket(F.col("tok"), [])


def test_quota_sample_exact_sizes_and_determinism(spark):
    """Quota sampling: exact per-stratum sizes (capped at stratum
    size), membership is the first-N-by-hash-order set, stable under
    repartitioning, negative quotas rejected."""
    from datapipeline_template_spark.functions import POLY_P
    from datapipeline_template_spark.operators.sampling import quota_sample

    rows = [(i, f"s{i % 3}") for i in range(90)]
    df = spark.createDataFrame(rows, "doc_id long, src string")
    out = quota_sample(df, "doc_id", "src", {"s0": 7, "s1": 100}, default_quota=3)
    counts = {r["src"]: r["count"] for r in out.groupBy("src").count().collect()}
    assert counts == {"s0": 7, "s1": 30, "s2": 3}  # s1 quota > stratum size
    # Membership = first N in (hash, id) order.
    s0_ids = sorted(
        (i for i in range(0, 90, 3)),
        key=lambda i: ((i * 2_654_435_761) % POLY_P, i),
    )[:7]
    got_s0 = {r["doc_id"] for r in out.where(F.col("src") == "s0").collect()}
    assert got_s0 == set(s0_ids)
    out2 = quota_sample(
        df.repartition(11), "doc_id", "src", {"s0": 7, "s1": 100}, default_quota=3
    )
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, out2.collect()))
    with pytest.raises(ValueError, match="non-negative"):
        quota_sample(df, "doc_id", "src", {"s0": -1})


def test_certified_topk_exact_and_certification(spark):
    """certified_topk equals the exact groupBy top-k when certifiable;
    raises (instead of silently approximating) when the per-partition
    threshold bound could hide a winner; validates parameters."""
    import pytest as _pytest

    from datapipeline_template_spark.operators.sketch import certified_topk

    rows = []
    for i in range(100):
        rows += [(f"hot{j}",) for j in range(5) if i % (j + 1) == 0]
        rows.append((f"cold{i}",))
    df = spark.createDataFrame(rows, "item string").repartition(8)
    got = [tuple(r) for r in certified_topk(df, "item", k=3, local_k=50).collect()]
    want = [
        tuple(r)
        for r in df.groupBy("item")
        .count()
        .selectExpr("item", "count as n")
        .orderBy(F.col("n").desc(), "item")
        .limit(3)
        .collect()
    ]
    assert got == want
    # Uniform data + tiny local_k: every partition drops items at the
    # same count as the winners — certification must refuse.
    uni = spark.createDataFrame(
        [(f"u{i}",) for i in range(2000)], "item string"
    ).repartition(8)
    with _pytest.raises(ValueError, match="not certifiable"):
        certified_topk(uni, "item", k=3, local_k=5)
    with _pytest.raises(ValueError, match="local_k"):
        certified_topk(df, "item", k=10, local_k=5)


def test_certified_topk_misra_gries_local_phase(spark):
    """The strict-memory MG local phase must return the identical
    certified-exact answer when distinct items per partition vastly
    exceed mg_capacity — the memory regime the exact phase can't
    enter — and refuse certification when the decrement bound could
    hide a winner."""
    import pytest as _pytest

    from datapipeline_template_spark.operators.sketch import certified_topk

    # 4000 distinct cold items + 5 heavy hitters, 8 partitions ->
    # ~500 distinct per partition, far beyond capacity 64.
    rows = []
    for i in range(4000):
        rows.append((f"cold{i}",))
        if i % 8 < 5:
            rows.append((f"hot{i % 8}",))
    df = spark.createDataFrame(rows, "item string").repartition(8)
    want = [
        tuple(r)
        for r in df.groupBy("item")
        .count()
        .selectExpr("item", "count as n")
        .orderBy(F.col("n").desc(), "item")
        .limit(3)
        .collect()
    ]
    got = [
        tuple(r)
        for r in certified_topk(
            df, "item", k=3, local_k=8, local_phase="mg", mg_capacity=64
        ).collect()
    ]
    assert got == want
    # Flat input at tiny capacity: decrements dominate, the bound
    # exceeds any candidate count -> must raise, never approximate.
    uni = spark.createDataFrame(
        [(f"u{i}",) for i in range(2000)], "item string"
    ).repartition(4)
    with _pytest.raises(ValueError, match="not certifiable"):
        certified_topk(uni, "item", k=3, local_k=4, local_phase="mg", mg_capacity=8)
    with _pytest.raises(ValueError, match="mg_capacity"):
        certified_topk(df, "item", k=3, local_k=64, local_phase="mg", mg_capacity=8)
    with _pytest.raises(ValueError, match="local_phase"):
        certified_topk(df, "item", k=3, local_k=8, local_phase="bogus")


def test_incremental_lsh_equals_full_restricted(spark):
    """Incremental candidates must equal the full-corpus pairs
    restricted to pairs touching the batch — including new×new pairs
    (within-batch dups) — and produce nothing when the batch has no
    near-dups."""
    from datapipeline_template_spark.operators.dedup import (
        lsh_candidate_pairs,
        lsh_candidate_pairs_incremental,
        minhash_signatures_kernel,
    )

    texts = []
    for i in range(40):
        base = f"alpha beta gamma delta epsilon zeta eta theta {i % 5} " * 4
        texts.append((i, base))
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    sigs = minhash_signatures_kernel(docs, "doc_id", "text").persist()
    full = {
        (r["id_a"], r["id_b"])
        for r in lsh_candidate_pairs(sigs, "doc_id", "sig", eager=False).collect()
    }
    assert full, "fixture must produce near-dup pairs"
    batch_ids = {i for i in range(40) if i % 7 == 0}
    new = sigs.where(F.col("doc_id") % 7 == 0)
    existing = sigs.where(F.col("doc_id") % 7 != 0)
    inc = {
        (r["id_a"], r["id_b"])
        for r in lsh_candidate_pairs_incremental(
            existing, new, "doc_id", "sig"
        ).collect()
    }
    want = {(a, b) for a, b in full if a in batch_ids or b in batch_ids}
    assert inc == want
    # The non-broadcast path — what a large backfill batch takes —
    # must return identical pairs, and without the forced hint the
    # optimizer must be free NOT to broadcast: with the auto-broadcast
    # threshold disabled, no BroadcastHashJoin may appear. (With the
    # hint, Catalyst broadcasts regardless of the threshold — that was
    # the OOM risk being fixed.)
    prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        inc_shuffle_df = lsh_candidate_pairs_incremental(
            existing, new, "doc_id", "sig", broadcast=False
        )
        assert {(r["id_a"], r["id_b"]) for r in inc_shuffle_df.collect()} == want
        plan = inc_shuffle_df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan
        # Auto mode: a batch bigger than the row gate must fall back too.
        auto_df = lsh_candidate_pairs_incremental(
            existing, new, "doc_id", "sig", broadcast_max_rows=8
        )
        assert {(r["id_a"], r["id_b"]) for r in auto_df.collect()} == want
        plan_auto = auto_df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan_auto
        # And the forced-hint path must broadcast even below threshold,
        # pinning that the gate (not luck) controls the strategy.
        forced = lsh_candidate_pairs_incremental(
            existing, new, "doc_id", "sig", broadcast=True
        )
        plan_forced = forced._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan_forced or "BroadcastExchange" in plan_forced
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
    # Batch disjoint from every bucket -> empty increment.
    lonely = spark.createDataFrame(
        [(999, "totally unrelated vocabulary nothing shared here at all")],
        "doc_id long, text string",
    )
    lone_sigs = minhash_signatures_kernel(lonely, "doc_id", "text")
    assert (
        lsh_candidate_pairs_incremental(sigs, lone_sigs, "doc_id", "sig").count() == 0
    )


def test_select_survivors_semantics(spark):
    """Survivor per cluster = max quality, ties to min id; docs absent
    from the component map are singletons (excluded at the default
    min_cluster_size=2, included at 1); deterministic under
    repartitioning."""
    from datapipeline_template_spark.operators.dedup import select_survivors

    docs = spark.createDataFrame(
        [(1, 10), (2, 30), (3, 30), (4, 5), (5, 99)], "doc_id long, q long"
    )
    comp = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4)], "node long, component long"
    )  # cluster {1,2,3}; 4 labeled singleton; 5 unlabeled singleton
    out = select_survivors(docs, comp, "doc_id", "q").collect()
    assert len(out) == 1
    r = out[0]
    # Quality tie between 2 and 3 at q=30 → min doc_id wins.
    assert (r["component"], r["survivor_id"], r["cluster_size"], r["survivor_quality"]) == (
        1, 2, 3, 30
    )
    all_out = {
        (r["component"], r["survivor_id"])
        for r in select_survivors(docs, comp, "doc_id", "q", min_cluster_size=1).collect()
    }
    assert all_out == {(1, 2), (4, 4), (5, 5)}
    out2 = select_survivors(docs.repartition(5), comp, "doc_id", "q").collect()
    assert [tuple(r) for r in out2] == [tuple(r) for r in out]


def test_decontaminate_flags_overlap_semantics(spark):
    """A corpus doc is flagged iff it shares ≥1 shingle with the eval
    set; n_shared counts DISTINCT shared shingles; clean docs absent."""
    from datapipeline_template_spark.operators.dedup import (
        decontaminate_flags,
        shingle_tokens,
    )
    from datapipeline_template_spark.operators.text import tokenize

    eval_df = spark.createDataFrame(
        [(100, "the quick brown fox jumps")], "doc_id long, text string"
    ).select("doc_id", shingle_tokens(tokenize("text"), k=3).alias("sh"))
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps high"),  # shares several 3-grams
            (2, "a quick brown fox appears"),       # shares exactly one
            (3, "completely unrelated words here"),  # clean
        ],
        "doc_id long, text string",
    ).select("doc_id", shingle_tokens(tokenize("text"), k=3).alias("sh"))

    got = {r["doc_id"]: r["n_shared"] for r in
           decontaminate_flags(corpus, eval_df, "doc_id", "sh").collect()}
    assert 3 not in got
    # doc1: 'the quick brown','quick brown fox','brown fox jumps' = 3
    assert got[1] == 3
    # doc2: only 'quick brown fox'
    assert got[2] == 1


def test_repetition_ratio_degenerate_docs(spark, tmp_path):
    """tx11 semantics on controlled docs: pure repetition → ratio → 1,
    all-distinct → 0, short docs (0/1 token) → 0 with 0 bigrams."""
    import os

    from datapipeline_template_spark.queries import load_all

    docs = spark.createDataFrame(
        [
            (0, "spam " * 50 + "spam", "en", "s", 1),   # one bigram repeated
            (1, " ".join(f"w{i}" for i in range(20)), "en", "s", 1),  # all distinct
            (2, "single", "en", "s", 1),
            (3, "", "en", "s", 0),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path / "sf")
    os.makedirs(d)
    docs.write.parquet(os.path.join(d, "documents.parquet"))
    out = {r["doc_id"]: r for r in
           load_all()["tx11_repetition_ratio"].fn(spark, d).collect()}
    assert out[0]["n_distinct"] == 1 and out[0]["dup_ratio"] > 0.97
    assert out[1]["dup_ratio"] == 0.0 and out[1]["n_distinct"] == 19
    assert out[2]["n_bigrams"] == 0 and out[2]["dup_ratio"] == 0.0
    assert out[3]["n_bigrams"] == 0 and out[3]["dup_ratio"] == 0.0


def test_gopher_rules_flag_degenerate_docs(spark):
    """Each Gopher rule trips on the failure mode it screens for and
    passes a healthy document (integer cross-multiplied thresholds)."""
    from pyspark.sql import functions as F

    from datapipeline_template_spark.operators.text import gopher_rules

    # 40 distinct-bigram words with a stopword and ordinary word lengths
    healthy = "the " + " ".join(f"word{i}" for i in range(39))
    docs = spark.createDataFrame(
        [
            (0, healthy),                       # passes everything
            (1, "too short of the doc"),        # < 30 words
            (2, ("internationalization " * 40).strip()),  # mean word len > 12, no stopwords
            (3, ("1 2 3 4 5 . ; ! ? - " * 6).strip()),    # no alpha words, short words
            (4, ("spam and " * 40).strip()),    # one bigram pair repeated -> dup ratio ~1
        ],
        "doc_id long, text string",
    )
    rules = gopher_rules("text")
    got = {
        r["doc_id"]: r
        for r in docs.select(
            "doc_id", *(c.alias(n) for n, c in rules.items())
        ).collect()
    }
    assert all(got[0][n] for n in rules)
    assert not got[1]["ok_min_words"]
    assert not got[2]["ok_mean_word_len"] and not got[2]["ok_stopwords"]
    assert not got[3]["ok_alpha_words"] and not got[3]["ok_mean_word_len"]
    assert not got[4]["ok_repetition"]
    # gate composition: AND-of-rules keeps exactly the healthy doc
    all_ok = F.lit(True)
    for n, c in rules.items():
        all_ok = all_ok & c
    assert [r["doc_id"] for r in docs.filter(all_ok).collect()] == [0]


def test_tx13_green_under_both_local_phases(spark):
    """tx13's certified heavy hitters must produce the identical
    exact top-20 whether the local phase counts exactly or runs the
    strict-memory Misra-Gries summary."""
    from datapipeline_template_spark.operators.sketch import certified_topk
    from datapipeline_template_spark.queries.text import _bigram_stream

    sf = "/root/testdata/sf0.001"
    exact = [
        tuple(r)
        for r in certified_topk(
            _bigram_stream(spark, sf), "bigram", k=20, local_k=1024
        ).collect()
    ]
    mg = [
        tuple(r)
        for r in certified_topk(
            _bigram_stream(spark, sf), "bigram", k=20, local_k=1024,
            local_phase="mg", mg_capacity=4096,
        ).collect()
    ]
    assert exact == mg


def test_chunk_dedup_first_occurrence_and_rebuild(spark):
    """chunk_dedup keeps each chunk value only at its min (id, chunk_no)
    occurrence and rebuilds docs in order; docs made entirely of
    already-seen chunks collapse to ''."""
    from datapipeline_template_spark.operators.dedup import chunk_dedup

    a = "w1 w2 w3"          # doc 1 chunk 0 (first occurrence)
    b = "w4 w5 w6"          # doc 1 chunk 1
    rows = [
        (1, f"{a} {b}"),
        (2, f"{b} {a}"),      # both chunks seen in doc 1 -> empty
        (3, f"w7 w8 w9 {a}"), # second chunk duplicates a -> only first kept
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in chunk_dedup(docs, "doc_id", "text", chunk_tokens=3).collect()
    }
    assert out[1]["clean_text"] == f"{a} {b}" and out[1]["n_dropped"] == 0
    assert out[2]["clean_text"] == "" and out[2]["n_dropped"] == 2
    assert out[3]["clean_text"] == "w7 w8 w9" and out[3]["n_dropped"] == 1
    assert out[3]["n_chunks"] == 2


def test_chunk_dedup_window_sees_only_contested_chunks(spark):
    """Scale-shape guard: the first-occurrence window must run on the
    chunks JOINED to the contested-value set, not on the full corpus
    — the full chunk explosion feeds only a partial-agg count."""
    from datapipeline_template_spark.operators.dedup import chunk_dedup

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c"), (3, "x y z")], "doc_id long, text string"
    )
    plan = chunk_dedup(docs, chunk_tokens=3)._jdf.queryExecution().optimizedPlan().toString()
    win = plan.find("Window")
    assert win != -1
    # Below the window there must be a Join (chunks x contested values);
    # a window directly over the exploded scan would shuffle everything.
    assert "Join" in plan[win:], plan


def test_pii_redact_counts_and_idempotence(spark):
    from datapipeline_template_spark.operators.text import pii_redact
    from pyspark.sql import functions as F

    rows = [
        (1, "mail me at bob@example.com or jane.doe@corp.io today"),
        (2, "call +1-555-0123 or +1-555-9999 x bob@a.io"),
        (3, "nothing sensitive here"),
    ]
    df = spark.createDataFrame(rows, "id long, s string")
    cols = pii_redact("s")
    out = {
        r["id"]: r
        for r in df.select(
            "id",
            cols["n_emails"].alias("ne"),
            cols["n_phones"].alias("np"),
            cols["redacted"].alias("red"),
        ).collect()
    }
    assert out[1]["ne"] == 2 and out[1]["np"] == 0
    assert "<EMAIL>" in out[1]["red"] and "@" not in out[1]["red"]
    assert out[2]["ne"] == 1 and out[2]["np"] == 2
    assert "+1-555" not in out[2]["red"]
    assert out[3]["ne"] == 0 and out[3]["np"] == 0 and out[3]["red"] == rows[2][1]
    # Idempotent: redacting the redacted text changes nothing.
    red = df.select(cols["redacted"].alias("s"))
    again = pii_redact("s")
    assert red.select(
        (again["n_emails"] + again["n_phones"]).alias("n")
    ).agg(F.sum("n")).collect()[0][0] == 0


def test_interval_point_join_boundaries_and_plan(spark):
    """Inclusive bounds, bin-straddling intervals matched exactly once,
    and the physical plan is a hash join on the bin — never a
    BroadcastNestedLoopJoin."""
    import datetime as dt

    from pyspark.sql import functions as F

    from datapipeline_template_spark.operators.interval import interval_point_join

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def ts(s):
        return t0 + dt.timedelta(seconds=s)

    points = spark.createDataFrame(
        [(1, ts(0)), (2, ts(599)), (3, ts(600)), (4, ts(1800))],
        "pid long, ts timestamp",
    )
    # Interval [0, 600] straddles the 600s bin edge; [550, 650] lives in
    # two bins; [1799, 1801] catches only point 4.
    intervals = spark.createDataFrame(
        [(10, ts(0), ts(600)), (20, ts(550), ts(650)), (30, ts(1799), ts(1801))],
        "iid long, lo timestamp, hi timestamp",
    )
    out = interval_point_join(points, intervals, "ts", "lo", "hi", bin_width_s=600)
    pairs = sorted((r["pid"], r["iid"]) for r in out.collect())
    assert pairs == [(1, 10), (2, 10), (2, 20), (3, 10), (3, 20), (4, 30)]
    # Exactly-once: no pair duplicated despite multi-bin intervals.
    assert len(pairs) == len(set(pairs))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # extra_on residual predicate via the _p/_i aliases.
    filt = interval_point_join(
        points, intervals, "ts", "lo", "hi", bin_width_s=600,
        extra_on=F.col("_p.pid") != F.lit(2),
    )
    assert sorted((r["pid"], r["iid"]) for r in filt.collect()) == [
        (1, 10), (3, 10), (3, 20), (4, 30)
    ]


def test_bloom_semi_join_exact_and_pruning(spark):
    """bloom_semi_join ≡ plain left-semi join (the bitmap only prunes),
    the probe predicate never misses a true key (no false negatives),
    and a tight bitmap actually filters."""
    from pyspark.sql import functions as F

    from datapipeline_template_spark.operators.bloom import (
        bloom_bitmap_row,
        bloom_might_contain,
        bloom_semi_join,
    )

    fact = spark.range(0, 5000).select(F.col("id").alias("fk"))
    dim = spark.range(0, 5000, 50).select(F.col("id").alias("dk"))  # 100 keys
    out = bloom_semi_join(fact, dim, "fk", "dk", m_bits=1 << 12, k=3)
    expected = fact.join(dim, fact.fk == dim.dk, "left_semi")
    assert sorted(r["fk"] for r in out.collect()) == sorted(
        r["fk"] for r in expected.collect()
    )
    # No false negatives: every dim key passes its own bitmap.
    bm = bloom_bitmap_row(dim, "dk", m_bits=1 << 12, k=3)
    hits = (
        dim.crossJoin(F.broadcast(bm))
        .where(bloom_might_contain(F.col("_bloom"), F.col("dk"), m_bits=1 << 12, k=3))
        .count()
    )
    assert hits == dim.count()
    # Real pruning: survivors far below the fact count (fpp at
    # m/n ≈ 41 bits/key is < 1e-3, so ~100 of 5000 rows survive).
    survivors = (
        fact.crossJoin(F.broadcast(bm))
        .where(bloom_might_contain(F.col("_bloom"), F.col("fk"), m_bits=1 << 12, k=3))
        .count()
    )
    assert survivors < 300, survivors

    import pytest as _pytest

    with _pytest.raises(ValueError):
        bloom_bitmap_row(dim, "dk", m_bits=100)


def test_bloom_bitmap_row_shape(spark):
    from datapipeline_template_spark.operators.bloom import bloom_bitmap_row

    bm = bloom_bitmap_row(
        spark.range(10).selectExpr("id AS k"), "k", m_bits=256, k=2
    ).collect()
    assert len(bm) == 1 and len(bm[0]["_bloom"]) == 4  # 256 bits / 64


def test_bloom_auto_bypass_decision(spark):
    """should_use_bloom: a broadcast-sized dim bypasses the bitmap; a
    dim past the threshold (or with broadcast disabled) keeps it; and
    both pinned paths return identical rows."""
    from pyspark.sql import functions as F

    from datapipeline_template_spark.operators.bloom import (
        _parse_byte_size,
        bloom_semi_join,
        should_use_bloom,
    )

    assert _parse_byte_size("10485760b") == 10 * (1 << 20)
    assert _parse_byte_size("10MB") == 10 * (1 << 20)
    assert _parse_byte_size("-1") == -1
    assert _parse_byte_size("512k") == 512 * (1 << 10)

    dim = spark.read.parquet("/root/testdata/sf0.001/orders.parquet").select(
        "o_orderkey"
    )
    assert should_use_bloom(dim) is False  # tiny file, default 10MB threshold

    prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1b")
        assert should_use_bloom(dim) is True  # estimate exceeds 1 byte
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        assert should_use_bloom(dim) is True  # broadcast disabled → fact would shuffle
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)

    fact = spark.range(0, 2000).select(F.col("id").alias("fk"))
    small = spark.range(0, 2000, 40).select(F.col("id").alias("dk"))
    with_bloom = bloom_semi_join(fact, small, "fk", "dk", use_bloom=True)
    without = bloom_semi_join(fact, small, "fk", "dk", use_bloom=False)
    assert sorted(r["fk"] for r in with_bloom.collect()) == sorted(
        r["fk"] for r in without.collect()
    )


def test_scd2_history_intervals_and_deletes(spark):
    """Versions chain lead-closed intervals; a delete closes the prior
    version but emits none; a trailing delete leaves no current row;
    NULL ops remain versions."""
    from datapipeline_template_spark.operators.cdc import scd2_history

    rows = [
        # key A: U@1, U@3, D@5  -> two versions, none current
        ("A", 1, 10.0, "U"),
        ("A", 3, 11.0, "U"),
        ("A", 5, 0.0, "D"),
        # key B: U@2, NULL@4    -> two versions, NULL-op one current
        ("B", 2, 20.0, "U"),
        ("B", 4, 21.0, None),
        # key C: D@1, U@2       -> delete first (no prior), one current
        ("C", 1, 0.0, "D"),
        ("C", 2, 30.0, "U"),
    ]
    df = spark.createDataFrame(rows, "k string, seq long, v double, op string")
    out = {
        (r["k"], r["seq"]): r
        for r in scd2_history(df, ["k"], ["seq"], op_col="op").collect()
    }
    assert set(out) == {("A", 1), ("A", 3), ("B", 2), ("B", 4), ("C", 2)}
    assert out[("A", 1)]["seq_end"] == 3 and not out[("A", 1)]["is_current"]
    # Closed by the delete, which itself never appears.
    assert out[("A", 3)]["seq_end"] == 5 and not out[("A", 3)]["is_current"]
    assert out[("B", 2)]["seq_end"] == 4
    assert out[("B", 4)]["seq_end"] is None and out[("B", 4)]["is_current"]
    assert out[("C", 2)]["is_current"]

    import pytest as _pytest

    with _pytest.raises(ValueError):
        scd2_history(df.withColumn("seq_end", df.seq), ["k"], ["seq"])


def test_lsh_multi_table_pairs_monotone_and_table0_equals_single(spark):
    """OR-construction: table 0 alone reproduces the single-table pair
    set; adding tables only ever ADDS (distinct) verified pairs."""
    from pyspark.sql import functions as F

    from datapipeline_template_spark.catalog import table as cat_table
    from datapipeline_template_spark.operators.similarity import (
        lsh_bucket,
        lsh_multi_table_pairs,
        near_dup_pairs,
    )

    emb = cat_table(spark, "/root/testdata/sf0.001", "embeddings")
    single = near_dup_pairs(
        emb.select(
            "vec_id", "embedding",
            lsh_bucket(F.col("embedding"), n_planes=8, dim=64).alias("_blk"),
        ),
        id_col="vec_id", vec_col="embedding", threshold=0.3, block_col="_blk",
    ).select("id_a", "id_b")
    got1 = {(r["id_a"], r["id_b"]) for r in lsh_multi_table_pairs(
        emb, "vec_id", "embedding", threshold=0.3, n_tables=1
    ).collect()}
    assert got1 == {(r["id_a"], r["id_b"]) for r in single.collect()}
    got2 = {(r["id_a"], r["id_b"]) for r in lsh_multi_table_pairs(
        emb, "vec_id", "embedding", threshold=0.3, n_tables=2
    ).collect()}
    got4 = {(r["id_a"], r["id_b"]) for r in lsh_multi_table_pairs(
        emb, "vec_id", "embedding", threshold=0.3, n_tables=4
    ).collect()}
    assert got1 <= got2 <= got4
    assert len(got4) == len(set(got4))  # distinct pairs


def test_tables_for_recall_math():
    import pytest

    from datapipeline_template_spark.operators.similarity import tables_for_recall

    assert tables_for_recall(0.9, 0.5) == 4  # ceil(ln .1 / ln .5) = 3.32 -> 4
    assert tables_for_recall(0.4, 0.5) == 1  # single table already suffices
    assert tables_for_recall(0.5, 0.5) == 1
    with pytest.raises(ValueError, match="max_tables"):
        tables_for_recall(0.99, 0.001, max_tables=64)  # needs ~4603 tables
    with pytest.raises(ValueError):
        tables_for_recall(1.5, 0.5)
    with pytest.raises(ValueError):
        tables_for_recall(0.5, 0.0)


def test_recall_target_achieved_on_eval_slice(spark, sf_dir):
    """lsh_pairs_for_recall: measure the single-table recall p on the
    eval slice (the ss08 step), ask for modest multiples of it, and
    the chosen L must actually deliver the target — the closed loop
    the operator exists for. Targets sit under the independence
    prediction's measured undershoot, so this is a real guarantee
    check, not a tautology."""
    from pyspark.sql import functions as F

    from datapipeline_template_spark.catalog import table
    from datapipeline_template_spark.operators.similarity import (
        lsh_multi_table_pairs,
        lsh_pairs_for_recall,
    )
    from datapipeline_template_spark.operators.similarity import near_dup_pairs

    emb = table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 500)
    truth = near_dup_pairs(
        emb, id_col="vec_id", vec_col="embedding", threshold=0.3, block_col=None
    )
    n_truth = truth.count()
    p1 = (
        lsh_multi_table_pairs(
            emb, "vec_id", "embedding", threshold=0.3, n_planes=8, n_tables=1
        ).count()
        / n_truth
    )
    assert p1 > 0
    for mult in (1.6, 3.2):  # the L=2 and L=4 regimes at measured p
        target = p1 * mult
        got = (
            lsh_pairs_for_recall(
                emb,
                "vec_id",
                "embedding",
                threshold=0.3,
                target_recall=target,
                p_single=p1,
                n_planes=8,
            ).count()
            / n_truth
        )
        assert got >= target, (target, got, p1)


def test_exact_grouped_quantiles_multipass_vs_sorted(spark):
    """Histogram refinement equals the sorted-order interpolating
    quantile on a WIDE value domain (forces > 1 refinement pass at
    branch=16) and on degenerate single-value groups."""
    import math
    import random

    from datapipeline_template_spark.operators.sketch import exact_grouped_quantiles

    rng = random.Random(7)
    rows = [("a", rng.randrange(-10**12, 10**12)) for _ in range(500)]
    rows += [("b", 42)] * 5  # single-value group
    rows += [("c", v) for v in (1, 2, 3)]
    df = spark.createDataFrame(rows, "g string, v long")
    probs = [0.0, 0.25, 0.5, 0.9, 1.0]
    got = exact_grouped_quantiles(df, "g", "v", probs, branch=16)

    by_g = {}
    for g, v in rows:
        by_g.setdefault(g, []).append(v)
    for g, vals in by_g.items():
        vals.sort()
        n = len(vals)
        for p, actual in zip(probs, got[g]):
            h = (n - 1) * p
            f, c = math.floor(h), math.ceil(h)
            want = float(vals[f]) + (h - f) * (float(vals[c]) - float(vals[f]))
            assert actual == want, (g, p, actual, want)


def test_exact_grouped_quantiles_long_group_key(spark):
    """Non-string group columns join correctly against the broadcast
    task frame (the r05 advice: a hardcoded string schema silently
    required string keys)."""
    import math

    from datapipeline_template_spark.operators.sketch import exact_grouped_quantiles

    rows = [(7, v) for v in range(100)] + [(8, v * 3) for v in range(33)]
    df = spark.createDataFrame(rows, "g long, v long")
    probs = [0.0, 0.5, 1.0]
    got = exact_grouped_quantiles(df, "g", "v", probs, branch=8)
    by_g: dict = {}
    for g, v in rows:
        by_g.setdefault(g, []).append(v)
    for g, vals in by_g.items():
        vals.sort()
        n = len(vals)
        for p, actual in zip(probs, got[g]):
            h = (n - 1) * p
            f, c = math.floor(h), math.ceil(h)
            want = float(vals[f]) + (h - f) * (float(vals[c]) - float(vals[f]))
            assert actual == want, (g, p, actual, want)


@pytest.mark.slow
def test_exact_grouped_quantiles_extreme_domain(spark):
    """Bucket indexing stays exact past 2^53 (integer DIV in-plan, not
    a double quotient), and a range wider than int64 raises instead of
    silently wrapping."""
    import pytest

    from datapipeline_template_spark.operators.sketch import exact_grouped_quantiles

    # Range 2^62 — legal, but every bucket width exceeds 2^53 in the
    # first pass, where double division would lose exactness.
    big = [-(2**61), -(2**61) + 12345, 0, 2**61 - 98765, 2**61]
    df = spark.createDataFrame([("w", v) for v in big], "g string, v long")
    got = exact_grouped_quantiles(df, "g", "v", [0.0, 0.5, 1.0], branch=16)
    assert got["w"] == [float(-(2**61)), 0.0, float(2**61)]

    # Range > int64: in-plan (_v - _lo) would wrap — must raise.
    over = spark.createDataFrame(
        [("x", -(2**62)), ("x", 2**62)], "g string, v long"
    )
    with pytest.raises(ValueError, match="int64"):
        exact_grouped_quantiles(over, "g", "v", [0.5], branch=16)


def test_remove_dup_spans_edits_exactly_covered_positions(spark):
    """dd14's operator: only positions covered by a corpus-duplicated
    k-window are removed; untouched docs pass through byte-identical;
    a fully duplicated doc empties."""
    from datapipeline_template_spark.operators.dedup import remove_dup_spans

    dup_span = "a b c d e f g h i j"  # exactly one 10-token window
    docs = spark.createDataFrame(
        [
            (0, dup_span + " tail0 x y z"),
            (1, dup_span + " tail1 p q r"),
            (2, "completely unrelated words seven eight nine ten eleven twelve thirteen"),
            (3, dup_span),
            (4, dup_span),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in remove_dup_spans(docs, k=10).collect()}
    # Docs 0/1: the shared 10-token prefix window is duplicated →
    # positions 0..9 removed, tails kept.
    assert out[0]["clean_text"] == "tail0 x y z"
    assert out[1]["clean_text"] == "tail1 p q r"
    assert out[0]["n_removed"] == 10 and out[0]["n_tokens"] == 14
    # Doc 2: unique content, untouched.
    assert out[2]["clean_text"].startswith("completely unrelated")
    assert out[2]["n_removed"] == 0
    # Docs 3/4: fully duplicated → emptied.
    assert out[3]["clean_text"] == "" and out[4]["clean_text"] == ""
    assert out[3]["n_removed"] == 10


def test_content_defined_chunks_resynchronize_after_insert(spark):
    """The property that justifies content-defined over fixed-size
    chunking: inserting a token EARLY in a document re-chunks only the
    neighborhood of the edit — every chunk after the first boundary
    past the insertion is byte-identical, while fixed-size chunking
    (chunk_split semantics) shifts every later chunk."""
    from datapipeline_template_spark.operators.dedup import (
        content_defined_chunks,
    )

    base_tokens = [f"tok{i}" for i in range(200)]
    original = " ".join(base_tokens)
    edited = " ".join(base_tokens[:3] + ["INSERTED"] + base_tokens[3:])
    df = spark.createDataFrame(
        [(1, original), (2, edited)], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: list(r["chunks"])
        for r in df.select(
            "doc_id", content_defined_chunks("text", divisor=8).alias("chunks")
        ).collect()
    }
    orig, new = out[1], out[2]
    # Longest common suffix of the two chunk lists.
    suffix = 0
    while (
        suffix < min(len(orig), len(new))
        and orig[-1 - suffix] == new[-1 - suffix]
    ):
        suffix += 1
    # The edit sits in the first chunk (token position 3); all chunks
    # after the boundary that closes it must resynchronize — i.e. at
    # most the single edited chunk differs, and the doc has many chunks
    # (expected length ≈ divisor → ~25 chunks of 200 tokens).
    assert len(orig) > 5, f"fixture degenerate: only {len(orig)} chunks"
    assert suffix >= len(orig) - 1, (
        f"chunks failed to resynchronize: {len(orig) - suffix} head chunks "
        f"differ (expected at most 1)"
    )
    # Contrast: the tokens themselves shifted, so FIXED-size chunks
    # would share no aligned suffix — verify the premise by checking
    # the first chunk really did change.
    assert orig[0] != new[0]


def test_remove_dup_spans_min_span_len_keeps_short_spans(spark):
    """Span-grain ExactSubstr: a duplicated run shorter than
    min_span_len SURVIVES; a long lifted block is excised whole; the
    span count is reported. Doc layout (k=3 windows):
      docs 1/2 share a 20-token block (covered run = 20) and a
      4-token phrase (covered run = 4 < min_span_len=10 -> kept)."""
    from datapipeline_template_spark.operators.dedup import (
        remove_dup_spans,
    )

    block = " ".join(f"b{i}" for i in range(20))
    phrase = "p0 p1 p2 p3"
    rows = [
        (1, f"{block} x1 x2 x3 x4 x5 {phrase} x6 x7 x8"),
        (2, f"y1 y2 y3 y4 y5 {block} y6 y7 y8 {phrase}"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in remove_dup_spans(
            docs, "doc_id", "text", k=3, min_span_len=10
        ).collect()
    }
    # The 20-token block is removed from both docs; the 4-token phrase
    # is covered but below the span threshold, so it stays.
    assert out[1]["n_spans_removed"] == 1 and out[2]["n_spans_removed"] == 1
    assert out[1]["n_removed"] == 20 and out[2]["n_removed"] == 20
    assert phrase in out[1]["clean_text"] and phrase in out[2]["clean_text"]
    assert "b0" not in out[1]["clean_text"] and "b19" not in out[2]["clean_text"]
    # Position grain (min_span_len=None) removes BOTH covered runs.
    pos = {
        r["doc_id"]: r
        for r in remove_dup_spans(docs, "doc_id", "text", k=3).collect()
    }
    assert pos[1]["n_removed"] == 24 and "p0" not in pos[1]["clean_text"]


def test_multi_probe_full_ball_equals_brute_force(spark):
    """Exhaustiveness property: probing the ENTIRE Hamming ball
    (probe_bits = n_planes) makes every pair a candidate, so the
    result must equal the brute-force all-pairs threshold filter —
    and each pair must surface exactly once (the operator has NO
    distinct stage for a single table; mask uniqueness + id_a < id_b
    is the dedup)."""
    from datapipeline_template_spark.operators.similarity import (
        lsh_multi_probe_pairs,
        near_dup_pairs,
        probe_masks,
    )

    assert len(probe_masks(8, 0)) == 1
    assert len(probe_masks(8, 1)) == 9
    assert len(probe_masks(8, 2)) == 37
    assert len(probe_masks(8, 3)) == 93
    assert len(probe_masks(4, 4)) == 16

    from datapipeline_template_spark.catalog import table as cat_table

    emb = cat_table(spark, "/root/testdata/sf0.001", "embeddings").where(
        "vec_id < 60"
    )
    probed = lsh_multi_probe_pairs(
        emb, "vec_id", "embedding", threshold=0.3, n_planes=4, probe_bits=4
    ).select("id_a", "id_b")
    brute = near_dup_pairs(
        emb, id_col="vec_id", vec_col="embedding", threshold=0.3, block_col=None
    ).select("id_a", "id_b")
    p = sorted(tuple(r) for r in probed.collect())
    b = sorted(tuple(r) for r in brute.collect())
    assert p == b and len(p) == len(set(p)), (
        f"probed {len(p)} pairs vs brute {len(b)}"
    )


def test_lsh_buckets_kernel_matches_catalyst_form(spark):
    """The Arrow matmul bucket kernel must be bit-equal to the
    Catalyst per-plane fold (the DuckDB-replayable reference) for
    every vector and every table slice — the dd03/dd05 twin contract,
    here for sign-LSH buckets."""
    from pyspark.sql import functions as F

    from datapipeline_template_spark.catalog import table as cat_table
    from datapipeline_template_spark.functions import quantize_vec
    from datapipeline_template_spark.operators.similarity import (
        lsh_bucket_prequantized,
        lsh_buckets_kernel,
    )

    emb = cat_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.select("vec_id", quantize_vec("embedding").alias("_qv"))
    mism = q.select(
        lsh_buckets_kernel(F.col("_qv"), n_planes=8, dim=64, n_tables=3).alias("k"),
        F.array(
            *[lsh_bucket_prequantized(F.col("_qv"), 8, 64, 8 * t) for t in range(3)]
        ).alias("h"),
    ).where(F.expr("k != h"))
    assert mism.count() == 0


def test_tx20b_pinned_rounds_match_live_stop_rule(spark):
    """tx20b/tx21b train a PINNED _TX20B_ROUNDS merges (a
    data-dependent stop can't be replayed by static SQL, and parity
    runs at multiple scale factors where the stop diverges — sf0.001
    stops earlier). This re-derives the pin from the LIVE
    vocab-size stop at the sf0.01 GATE corpus: if the corpus, the
    pre-tokenization, or the stop rule changes, the executed round
    count moves and this fails loudly. Also pins that the pinned-count
    run reproduces the stopped run's merges exactly, and the query's
    alphabet accounting rows."""
    from datapipeline_template_spark.operators.text import bpe_train
    from datapipeline_template_spark.queries import load_all
    from datapipeline_template_spark.queries.text import (
        _TX20B_CAP,
        _TX20B_ROUNDS,
        _TX20B_VOCAB_SIZE,
        _tx20b_vocab,
    )

    vocab = _tx20b_vocab(spark, "/root/testdata/sf0.01").localCheckpoint(
        eager=True
    )
    stopped, _ = bpe_train(
        vocab, "rep", "freq", n_merges=_TX20B_CAP,
        vocab_size=_TX20B_VOCAB_SIZE,
    )
    assert len(stopped) == _TX20B_ROUNDS, (
        f"vocab-size stop executed {len(stopped)} rounds at the gate "
        f"corpus but _TX20B_ROUNDS pins {_TX20B_ROUNDS} — re-measure and "
        "update the pin + re-derive the oracle"
    )
    pinned, _ = bpe_train(vocab, "rep", "freq", n_merges=_TX20B_ROUNDS)
    assert pinned == stopped

    rows = (
        load_all()["tx20b_bpe_train_bytes"]
        .fn(spark, "/root/testdata/sf0.01")
        .collect()
    )
    merges = [r for r in rows if r["step"] >= 0]
    acct = {r["x"]: r["cnt"] for r in rows if r["step"] == -2}
    assert len(merges) == _TX20B_ROUNDS
    assert [(r["x"], r["y"], r["cnt"]) for r in
            sorted(merges, key=lambda r: r["step"])] == stopped
    # The stop's evidence: the alphabet reached the target exactly when
    # training stopped, growing from the corpus's 24 distinct bytes.
    assert acct["init_symbols"] == 24
    assert acct["final_symbols"] == _TX20B_VOCAB_SIZE == 36


def test_bpe_vocab_size_stop_equals_fixed_count(spark):
    """The vocab-size stop must execute exactly the merges a fixed
    n_merges run of the same length would — the stop changes WHEN
    training ends, never WHAT each round learns — including rounds
    where the alphabet stays flat (a merged pair whose parts are
    exhausted removes symbols)."""
    from datapipeline_template_spark.operators.text import bpe_train

    rows = [
        (" " + " ".join("aaaa") + " ", 10),
        (" " + " ".join("aabb") + " ", 7),
        (" " + " ".join("ab") + " ", 5),
    ]
    vocab = spark.createDataFrame(rows, "rep string, freq long")
    stopped, _ = bpe_train(vocab, "rep", "freq", n_merges=16, vocab_size=4)
    fixed, _ = bpe_train(vocab, "rep", "freq", n_merges=len(stopped))
    assert stopped == fixed
    assert len(stopped) >= 2  # alphabet {a,b} -> needs growth to 4
    # Cap respected: with an unreachable target the safety cap stops it.
    capped, _ = bpe_train(vocab, "rep", "freq", n_merges=3, vocab_size=99)
    assert len(capped) == 3


def test_bpe_oracle_round_fragment_survives_pair_exhaustion(spark):
    """Oracle/Spark fixpoint parity when merges EXHAUST before the
    pinned round count: bpe_train breaks and keeps the vocabulary;
    the unrolled DuckDB rounds must carry it forward unchanged — a
    CROSS JOIN against the empty argmax CTE silently EMPTIED it (the
    pipe14 risk: composed oracles over small curated subsets sit
    close to exhaustion). Both engines run the same 8-round spec over
    a corpus whose only pair merges in round one."""
    import duckdb

    from datapipeline_template_spark.operators.text import bpe_train
    from datapipeline_template_spark.queries.text import _tx20_ctes

    # Words: 'ab' ×3, 'a' ×2 — round 0 merges (a,b); afterwards no
    # adjacent pairs exist anywhere.
    vocab = spark.createDataFrame(
        [(" a b ", 3), (" a ", 2)], "rep string, freq long"
    )
    merges, final_v = bpe_train(vocab, "rep", "freq", n_merges=8)
    assert merges == [("a", "b", 3)]
    got = {(r["rep"], r["freq"]) for r in final_v.collect()}

    con = duckdb.connect()
    con.sql(
        "CREATE TABLE documents(text VARCHAR);"
        "INSERT INTO documents VALUES ('ab ab ab a a')"
    )
    rows = con.sql(
        f"WITH {_tx20_ctes()} SELECT rep, freq FROM v8"
    ).fetchall()
    assert {(r, f) for r, f in rows} == got == {(" ab ", 3), (" a ", 2)}
    # The exhausted rounds' argmax CTEs are empty — the merge-table
    # rows only exist for executed rounds, matching Spark's break.
    assert con.sql(f"WITH {_tx20_ctes()} SELECT * FROM m1").fetchall() == []


def test_duplicate_discount_weights(spark):
    """Soft-dedup weights: clustered docs get 1/cluster_size, docs
    absent from the component map are singletons at weight 1.0, and
    sum(weight) equals the cluster count (the effective corpus size
    select_survivors would keep)."""
    from datapipeline_template_spark.operators.dedup import (
        duplicate_discount_weights,
    )

    docs = spark.createDataFrame([(i,) for i in range(1, 7)], "doc_id long")
    # {1,2,3} one cluster, {4,5} another, 6 a singleton.
    comp = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4), (5, 4)], "node long, component long"
    )
    rows = {
        r["doc_id"]: (r["component"], r["cluster_size"], r["weight"])
        for r in duplicate_discount_weights(docs, comp, "doc_id").collect()
    }
    third = 1.0 / 3
    assert rows == {
        1: (1, 3, third), 2: (1, 3, third), 3: (1, 3, third),
        4: (4, 2, 0.5), 5: (4, 2, 0.5), 6: (6, 1, 1.0),
    }
    assert abs(sum(w for _, _, w in rows.values()) - 3.0) < 1e-12


def test_pack_sequences_nosplit_semantics(spark):
    """No-split shelf packing: docs never cross a sequence boundary;
    a doc that doesn't fit opens a fresh sequence at offset 0; an
    OVERSIZE doc (> budget) sits alone in its own overflowing
    sequence without leaving an empty one behind; and the layout
    matches a hand-computed recurrence on one shard."""
    from pyspark.sql import functions as F

    from datapipeline_template_spark.operators.packing import (
        pack_sequences_nosplit,
    )

    # One shard (n_shards=1): order is by (skey, id). Weights chosen
    # so with budget 10: fit/fit/break/oversize/fresh patterns occur.
    df = spark.createDataFrame(
        [(1, 4), (2, 5), (3, 3), (4, 25), (5, 2)], "doc_id long, w long"
    )
    out = {
        r["doc_id"]: (r["seq_in_shard"], r["offset_in_seq"], r["n_tokens"])
        for r in pack_sequences_nosplit(
            df, "doc_id", F.col("w"), n_shards=1, budget=10, salt="t"
        ).collect()
    }
    # Recompute the expected layout with the same recurrence over the
    # same (skey, id) order the operator uses.
    from datapipeline_template_spark.functions import POLY_BASE, POLY_P

    def _ph(text):
        acc = 0
        for ch in text:
            acc = (acc * POLY_BASE + ord(ch)) % POLY_P
        return acc

    order = sorted(out, key=lambda d: (_ph(f"t:{d}"), d))
    weights = dict((r["doc_id"], r["w"]) for r in df.collect())
    seq = cum = 0
    expect = {}
    for d in order:
        t = weights[d]
        if cum > 0 and cum + t > 10:
            seq, cum = seq + 1, 0
        expect[d] = (seq, cum, t)
        cum += t
    assert out == expect
    # Structural invariants: no non-oversize doc crosses a boundary,
    # every oversize doc sits at offset 0.
    for d, (s, off, t) in out.items():
        if t <= 10:
            assert off + t <= 10
        else:
            assert off == 0


# ---------------------------------------------------------------------------
# KMV distinct-count sketch
# ---------------------------------------------------------------------------


def test_kmv_partial_form_matches_catalyst_form(spark, sf_dir):
    """The map-side-combined mapInPandas form produces bit-identical
    sketches to the Catalyst dedup+window form (the k-min-of-union
    identity, exercised over real multi-partition input)."""
    from datapipeline_template_spark.catalog import table
    from datapipeline_template_spark.operators.sketch import (
        kmv_sketch,
        kmv_sketch_partial,
    )

    orders = table(spark, sf_dir, "orders").repartition(5)
    a = {
        r["o_orderpriority"]: r["kmv"]
        for r in kmv_sketch(orders, "o_orderpriority", "o_custkey", k=16).collect()
    }
    b = {
        r["o_orderpriority"]: r["kmv"]
        for r in kmv_sketch_partial(
            orders, "o_orderpriority", "o_custkey", k=16
        ).collect()
    }
    assert a == b and len(a) == 5
    assert all(v == sorted(set(v)) and len(v) == 16 for v in a.values())


def test_kmv_merge_equals_sketch_of_union(spark, sf_dir):
    """Mergeability is exact: merging the halves' sketches equals the
    sketch of the whole — the property the streaming maintainer and
    any persist-then-combine usage rest on."""
    from pyspark.sql import functions as F

    from datapipeline_template_spark.catalog import table
    from datapipeline_template_spark.operators.sketch import kmv_merge, kmv_sketch

    orders = table(spark, sf_dir, "orders")
    lo = orders.where(F.col("o_orderkey") % 2 == 0)
    hi = orders.where(F.col("o_orderkey") % 2 == 1)
    k = 16
    whole = {
        r["o_orderpriority"]: r["kmv"]
        for r in kmv_sketch(orders, "o_orderpriority", "o_custkey", k=k).collect()
    }
    sa = kmv_sketch(lo, "o_orderpriority", "o_custkey", k=k)
    sb = kmv_sketch(hi, "o_orderpriority", "o_custkey", k=k).withColumnRenamed(
        "kmv", "kmv_b"
    )
    merged = {
        r["o_orderpriority"]: r["m"]
        for r in sa.join(sb, "o_orderpriority")
        .select("o_orderpriority", kmv_merge("kmv", "kmv_b", k).alias("m"))
        .collect()
    }
    assert merged == whole


def test_kmv_estimate_exact_below_k_and_ignores_nulls(spark):
    """size < k ⇒ the estimate IS the distinct count (every hash kept);
    NULL values are ignored, matching COUNT(DISTINCT)."""
    from pyspark.sql import functions as F

    from datapipeline_template_spark.operators.sketch import (
        kmv_estimate,
        kmv_sketch,
    )

    df = spark.createDataFrame(
        [("g", v) for v in [1, 2, 3, 2, 1, None, 7]], "grp string, v long"
    )
    got = (
        kmv_sketch(df, "grp", "v", k=64)
        .select("grp", kmv_estimate("kmv", 64).alias("est"), F.size("kmv").alias("n"))
        .collect()
    )
    assert [(r["grp"], r["est"], r["n"]) for r in got] == [("g", 4, 4)]


def test_kmv_estimate_accuracy_at_k(spark, sf_dir):
    """Sanity on the estimator itself (not just parity): at k=64 over
    the sf0.001 orders custkeys the estimate lands within 3/sqrt(k-1)
    (~38%) of truth — loose enough to be noise-proof, tight enough to
    catch a broken estimator or a degenerate hash."""
    from pyspark.sql import functions as F

    from datapipeline_template_spark.catalog import table
    from datapipeline_template_spark.operators.sketch import (
        kmv_estimate,
        kmv_sketch,
    )

    orders = table(spark, sf_dir, "orders").withColumn("g", F.lit("all"))
    est = (
        kmv_sketch(orders, "g", "o_custkey", k=64)
        .select(kmv_estimate("kmv", 64).alias("est"))
        .first()["est"]
    )
    exact = orders.select("o_custkey").distinct().count()
    assert exact > 64  # the estimator branch, not the exact branch
    assert abs(est - exact) / exact < 3 / (63 ** 0.5)


def test_kmv_set_ops_exact_when_underfull(spark):
    """merged size < k ⇒ both sketches are complete: intersection and
    Jaccard come out EXACT (the q44 exact branch)."""
    from pyspark.sql import functions as F

    from datapipeline_template_spark.operators.sketch import (
        kmv_intersect_estimate,
        kmv_jaccard_estimate,
        kmv_sketch,
    )

    a_vals = [1, 2, 3, 4, 5, 6]
    b_vals = [4, 5, 6, 7, 8]
    df = spark.createDataFrame(
        [("a", v) for v in a_vals] + [("b", v) for v in b_vals],
        "grp string, v long",
    )
    sk = kmv_sketch(df, "grp", "v", k=64)
    row = (
        sk.where(F.col("grp") == "a")
        .select(F.col("kmv").alias("ka"))
        .crossJoin(sk.where(F.col("grp") == "b").select(F.col("kmv").alias("kb")))
        .select(
            kmv_intersect_estimate("ka", "kb", 64).alias("i"),
            kmv_jaccard_estimate("ka", "kb", 64).alias("j"),
        )
        .first()
    )
    assert row["i"] == 3  # |{4,5,6}| exactly
    assert row["j"] == 3 / 8  # |A∩B| / |A∪B| exactly


def test_kmv_intersect_estimate_accuracy_at_k(spark, sf_dir):
    """Estimating-regime sanity on the theta-style intersection: two
    half-overlapping custkey cohorts at k=64; the estimate lands
    within 4/sqrt(k·J) of truth (J ≈ 1/3 here) — loose enough to be
    noise-proof, tight enough to catch a broken θ or sample count."""
    from pyspark.sql import functions as F

    from datapipeline_template_spark.catalog import table
    from datapipeline_template_spark.operators.sketch import (
        kmv_intersect_estimate,
        kmv_sketch,
    )

    cust = table(spark, sf_dir, "orders").select("o_custkey").distinct()
    # Cohort A = keys with residue 0/1 mod 3, cohort B = residue 1/2:
    # overlap = residue-1 keys, about a third of the union.
    lab = cust.select(
        "o_custkey", (F.col("o_custkey") % 3).alias("r")
    )
    df = (
        lab.where(F.col("r") < 2).select(F.lit("a").alias("grp"), "o_custkey")
        .unionByName(
            lab.where(F.col("r") > 0).select(
                F.lit("b").alias("grp"), "o_custkey"
            )
        )
    )
    sk = kmv_sketch(df, "grp", "o_custkey", k=64)
    est = (
        sk.where(F.col("grp") == "a")
        .select(F.col("kmv").alias("ka"))
        .crossJoin(sk.where(F.col("grp") == "b").select(F.col("kmv").alias("kb")))
        .select(kmv_intersect_estimate("ka", "kb", 64).alias("i"))
        .first()["i"]
    )
    exact = lab.where(F.col("r") == 1).count()
    # The regime switch is the UNION filling the merged sketch (the
    # intersection itself may be under k and still be estimated).
    assert cust.count() > 64
    assert exact > 0
    assert abs(est - exact) / exact < 4 / ((64 / 3) ** 0.5)


def test_sq_encode_codes_bounded_and_affine(spark):
    """SQ codes land in [0, levels] with min→0 and max→levels per
    dimension; constant dimensions (rng clamp) encode to 0."""
    from datapipeline_template_spark.operators.similarity import (
        sq_dim_stats,
        sq_encode,
    )

    df = spark.createDataFrame(
        [
            (1, [0, 10, 7]),
            (2, [100, 10, -3]),
            (3, [50, 10, 2]),
        ],
        "vec_id long, _qv array<long>",
    )
    stats = sq_dim_stats(df)
    row = stats.first()
    assert row["lo_l"] == [0, 10, -3] and row["rng_l"] == [100, 1, 10]
    codes = {
        r["vec_id"]: r["cv"] for r in sq_encode(df, stats, 255).collect()
    }
    assert codes[1] == [0, 0, 255]  # mins -> 0; max of dim 3 -> 255
    assert codes[2] == [255, 0, 0]
    assert codes[3] == [127, 0, 127]  # (50*255)//100, const, (5*255)//10


# ---------------------------------------------------------------------------
# Count-Min frequency sketch
# ---------------------------------------------------------------------------


def test_cm_estimate_overestimates_every_key(spark, sf_dir):
    """The CM guarantee: est ≥ true count for EVERY key (counters only
    add; collisions inflate, never deflate) — checked over all distinct
    custkeys at a deliberately tiny width so collisions actually
    occur, plus an absent key (estimate ≥ 0, never negative/null)."""
    from pyspark.sql import functions as F

    from datapipeline_template_spark.catalog import table
    from datapipeline_template_spark.operators.sketch import cm_estimate, cm_sketch

    keys = table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("k")
    )
    sk = cm_sketch(keys, "k", depth=4, width=64)
    exact = keys.groupBy("k").agg(F.count(F.lit(1)).cast("long").alias("n"))
    est = cm_estimate(sk, exact, "k", depth=4, width=64)
    bad = est.where(F.col("est") < F.col("n")).count()
    assert bad == 0
    collided = est.where(F.col("est") > F.col("n")).count()
    assert collided > 0  # width 64 << distinct keys: collisions must show
    absent = spark.createDataFrame([(10**12 + 7,)], "k long")
    got = cm_estimate(sk, absent, "k", depth=4, width=64).collect()
    assert len(got) == 1 and got[0]["est"] >= 0


def test_cm_sketch_additive_and_fold_matches_direct(spark, sf_dir):
    """Grid cells of disjoint halves SUM to the whole corpus grid (the
    mergeability the streaming maintainer rests on), and cm_fold of a
    width-1024 grid down to 256 equals the direct width-256 build —
    the g mod w == (g mod W) mod w identity that lets one corpus pass
    price every narrower resolution."""
    from pyspark.sql import functions as F

    from datapipeline_template_spark.catalog import table
    from datapipeline_template_spark.operators.sketch import cm_fold, cm_sketch

    keys = table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k"))

    def cells(df):
        return {(r["r"], r["b"]): r["cnt"] for r in df.collect()}

    whole = cells(cm_sketch(keys, "k", depth=3, width=1024))
    lo = cm_sketch(keys.where(F.col("k") % 2 == 0), "k", depth=3, width=1024)
    hi = cm_sketch(keys.where(F.col("k") % 2 == 1), "k", depth=3, width=1024)
    summed = cells(
        lo.unionByName(hi)
        .groupBy("r", "b")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )
    assert summed == whole

    direct = cells(cm_sketch(keys, "k", depth=3, width=256))
    folded = cells(
        cm_fold(cm_sketch(keys, "k", depth=3, width=1024), 1024, 256)
    )
    assert folded == direct


def test_cm_sketch_guards(spark):
    """NULL keys raise (a silent drop would undercount and void the
    overestimate guarantee); cm_fold refuses non-divisor widths;
    non-positive dims refused."""
    import pytest
    from pyspark.errors.exceptions.base import PySparkException

    from datapipeline_template_spark.operators.sketch import cm_fold, cm_sketch

    df = spark.createDataFrame([(1,), (None,)], "k long")
    with pytest.raises(PySparkException, match="non-null"):
        cm_sketch(df, "k", depth=2, width=16).collect()
    ok = spark.createDataFrame([(1,), (2,)], "k long")
    sk = cm_sketch(ok, "k", depth=2, width=16)
    with pytest.raises(ValueError, match="must divide"):
        cm_fold(sk, 16, 5)
    with pytest.raises(ValueError, match="depth > 0"):
        cm_sketch(ok, "k", depth=0, width=16)

    # cm_estimate mirrors the build-time guards (ADVICE r09): NULL item
    # keys raise instead of quietly estimating 0 for an unhashable key,
    # and a depth larger than the build's — the one parameter mismatch
    # that SILENTLY breaks the overestimate guarantee by flooring every
    # min to a phantom row's empty cell — is detected from the grid
    # itself. A depth SMALLER than the build's stays legal (fewer min
    # candidates, still an overestimate), as does an empty sketch
    # (empty build stream: every 0 estimate is exact).
    from datapipeline_template_spark.operators.sketch import cm_estimate

    with pytest.raises(PySparkException, match="non-null"):
        cm_estimate(sk, df, "k", depth=2, width=16).collect()
    with pytest.raises(ValueError, match="exceeds the sketch's build depth"):
        cm_estimate(sk, ok, "k", depth=3, width=16)
    assert cm_estimate(sk, ok, "k", depth=1, width=16).count() == 2
    empty = spark.createDataFrame([], "r int, b long, cnt long")
    assert cm_estimate(empty, ok, "k", depth=2, width=16).count() == 2


def test_cm_inner_product_join_size(spark, sf_dir):
    """The AMS/CM join-cardinality estimator (q49's primitive):
    est >= |A JOIN B| always (collision cross-terms only add), est ==
    exact when the width is collision-free for both key sets, and an
    empty side estimates the exact answer 0."""
    from pyspark.sql import functions as F

    from datapipeline_template_spark.catalog import table
    from datapipeline_template_spark.operators.sketch import (
        cm_inner_product,
        cm_sketch,
    )

    ev = (
        table(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .select(F.col("user_id").alias("k"))
    )
    od = table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k"))
    exact = ev.join(od, "k").count()
    assert exact > 0

    # Tiny width: collisions guaranteed, estimate must stay >= truth.
    a16 = cm_sketch(ev, "k", depth=4, width=16)
    b16 = cm_sketch(od, "k", depth=4, width=16)
    est16 = cm_inner_product(a16, b16).first()["est"]
    assert est16 > exact  # width 16 << distinct keys: collision mass shows

    # A synthetic collision-free pair: keys land in distinct cells at
    # width 4096, so every depth row's inner product IS the true join
    # size: sum_k f_A(k) * f_B(k) = 3*2 + 1*5 = 11.
    a = spark.createDataFrame([(7,)] * 3 + [(9,)] * 1, "k long")
    b = spark.createDataFrame([(7,)] * 2 + [(9,)] * 5 + [(11,)] * 4, "k long")
    got = cm_inner_product(
        cm_sketch(a, "k", depth=3, width=4096),
        cm_sketch(b, "k", depth=3, width=4096),
    ).first()["est"]
    assert got == 11 == a.join(b, "k").count()

    # Empty side: empty grid -> empty cell join -> exact 0.
    empty = spark.createDataFrame([], "k long")
    got0 = cm_inner_product(
        cm_sketch(empty, "k", depth=3, width=16),
        cm_sketch(b, "k", depth=3, width=16),
    ).first()["est"]
    assert got0 == 0


# ---------------------------------------------------------------------------
# Rademacher random projection
# ---------------------------------------------------------------------------


def test_rademacher_projection_nests(spark, sf_dir):
    """The sign matrix is dimension-nested (row j depends only on j),
    so the narrow code is a prefix of the wide one — one encode pass
    serves every budget."""
    from datapipeline_template_spark.catalog import table
    from datapipeline_template_spark.functions import quantize_vec
    from datapipeline_template_spark.operators.similarity import (
        rademacher_project,
        rademacher_signs,
    )

    emb = table(spark, sf_dir, "embeddings").limit(50)
    qv = emb.select("vec_id", quantize_vec("embedding").alias("_qv"))
    a = {r["vec_id"]: r["pv"] for r in rademacher_project(qv, 16, 64).collect()}
    assert len(a) == 50

    assert rademacher_signs(64, 32)[:8] == rademacher_signs(64, 8)
    narrow = {
        r["vec_id"]: r["pv"] for r in rademacher_project(qv, 8, 64).collect()
    }
    assert all(a[v][:8] == narrow[v] for v in narrow)

    import pytest

    with pytest.raises(ValueError, match="101"):
        rademacher_signs(64, 102)


# ---------------------------------------------------------------------------
# Integer BM25 lexical retrieval
# ---------------------------------------------------------------------------


def test_bm25_ranks_rare_term_matches_above_common(spark):
    """BM25 semantics on a constructed corpus: a neighbor sharing the
    query's RARE term outranks one sharing only a more common term;
    stopwords (df·2 > N) are pruned from the spec so a doc matching
    ONLY on a stopword never appears; self-matches excluded; rk is a
    1..k total order."""
    from datapipeline_template_spark.operators.text import bm25_topk

    rows = [
        (0, "zebra quark the the"),      # query: rare 'zebra', mid 'quark'
        (1, "zebra lion the the"),       # shares rare 'zebra'
        (2, "quark lion the the"),       # shares 'quark' (df=3)
        (3, "quark moose the the"),      # shares 'quark'
        (4, "moose lion the the"),       # shares only stopword 'the'
        (5, "moose bison the the"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = bm25_topk(
        docs, docs.where("doc_id = 0"), "doc_id", "text", k=5
    ).collect()
    ranked = [r["neighbor_id"] for r in sorted(got, key=lambda r: r["rk"])]
    assert ranked[0] == 1  # the rare-term match wins
    assert set(ranked[1:]) == {2, 3}  # quark matches follow (df=3 of 6)
    assert 4 not in ranked and 5 not in ranked  # stopword-only: pruned
    assert 0 not in ranked  # no self-match
    assert [r["rk"] for r in sorted(got, key=lambda r: r["rk"])] == [1, 2, 3]
    assert all(r["score"] > 0 for r in got)


def test_bm25_length_normalization_prefers_shorter_doc(spark):
    """Two neighbors with the same tf of the same matched term: the
    SHORTER one scores higher (the b·dl/avgdl denominator) — the
    length-normalization behavior that separates BM25 from raw
    tf·idf."""
    from datapipeline_template_spark.operators.text import bm25_topk

    rows = [
        (0, "zebra alpha"),
        (1, "zebra beta gamma delta epsilon eta theta iota kappa"),
        (2, "zebra beta"),
        # padding docs keep df(zebra)·2 ≤ N so it isn't stopword-pruned
        (3, "moose bison"),
        (4, "moose lion"),
        (5, "bison lion"),
        (6, "moose deer"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["neighbor_id"]: r["score"]
        for r in bm25_topk(
            docs, docs.where("doc_id = 0"), "doc_id", "text", k=5
        ).collect()
    }
    assert got[2] > got[1]


# ---------------------------------------------------------------------------
# Nearest-event (bidirectional as-of) join
# ---------------------------------------------------------------------------


def test_asof_join_nearest_picks_closer_side_and_tie_prefers_before(spark):
    """Nearest semantics on constructed numeric timelines: closer
    after-row beats farther before-row; exact tie prefers the
    at-or-before side; gap-0 (equal ts) matches backward; a key with
    no right rows keeps the left row with NULLs; a left row before
    every right row takes the first following one."""
    from datapipeline_template_spark.operators.asof import asof_join_nearest

    left = spark.createDataFrame(
        [("a", 100), ("a", 10), ("a", 55), ("b", 7), ("c", 1)],
        "k string, lts long",
    )
    right = spark.createDataFrame(
        [("a", 90, 1), ("a", 104, 2), ("a", 50, 3), ("a", 60, 4),
         ("a", 10, 5), ("c", 30, 6)],
        "k string, rts long, rid long",
    )
    got = {
        (r["k"], r["lts"]): (r["n_rid"], r["n_gap"])
        for r in asof_join_nearest(
            left, right, ["k"], "lts", "rts", ["rid"]
        ).collect()
    }
    assert got[("a", 100)] == (2, 4)   # after@104 (gap 4) beats before@90 (10)
    assert got[("a", 10)] == (5, 0)    # equal ts matches backward, gap 0
    assert got[("a", 55)] == (3, 5)    # exact tie 50/60: before side wins
    assert got[("b", 7)] == (None, None)  # no rights for key
    assert got[("c", 1)] == (6, 29)    # before every right: first following


def test_asof_join_nearest_matches_brute_force(spark, sf_dir):
    """The one-sort union form equals the brute-force theta-join
    nearest (min |gap|, tie → earlier right ts, then payload order)
    over real event data — the asof_join property-test discipline
    applied to the bidirectional form."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from datapipeline_template_spark.catalog import table
    from datapipeline_template_spark.operators.asof import asof_join_nearest

    ev = table(spark, sf_dir, "events")
    left = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "event_id", F.unix_micros("ts").alias("lts")
    )
    right = ev.where(F.col("event_type") == "click").select(
        "user_id", F.unix_micros("ts").alias("rts"),
        F.col("event_id").alias("rid"),
    )
    got = {
        r["event_id"]: (r["n_rts"], r["n_rid"], r["n_gap"])
        for r in asof_join_nearest(
            left, right, ["user_id"], "lts", "rts", ["rid"]
        ).collect()
    }
    # Brute force: enumerate all same-user pairs, rank by the spec.
    gap = F.abs(F.col("rts") - F.col("lts"))
    before = (F.col("rts") <= F.col("lts")).cast("int")
    # Within a gap tie: before-side wins; equal-ts duplicates resolve
    # by payload order (before side: MAX payload, after side: MIN) —
    # the operator's documented tie spec.
    w = Window.partitionBy("event_id").orderBy(
        gap.asc(),
        before.desc(),
        F.when(before == 1, -F.col("rid")).otherwise(F.col("rid")).asc(),
    )
    brute = (
        left.join(right, "user_id")
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
    )
    want = {
        r["event_id"]: (r["rts"], r["rid"], abs(r["rts"] - r["lts"]))
        for r in brute.collect()
    }
    lefts_with_rights = set(want)
    assert all(got[e] == want[e] for e in lefts_with_rights)
    # Lefts whose user has no clicks carry NULLs.
    for e, v in got.items():
        if e not in lefts_with_rights:
            assert v == (None, None, None)


def test_unigram_viterbi_spec(spark):
    """The pinned Viterbi spec: cheapest total millibit cost wins;
    ties on cost break to the SMALLEST piece at the boundary (the
    forward pass keeps the first (shortest) achieving length, the
    oracle's MIN(l)-over-achieving-edges twin); unsegmentable words
    (char missing from the model) raise loudly; words longer than the
    pinned DP unroll raise loudly."""
    import pytest

    from datapipeline_template_spark.operators.text import (
        unigram_viterbi_segment,
    )

    words = spark.createDataFrame([("abc", 2)], "word string, freq long")
    # 'abc' as one piece (cost 5) beats 'ab'+'c' (3+3) and chars (9).
    seg = unigram_viterbi_segment(
        words, {"a": 3, "b": 3, "c": 3, "ab": 3, "abc": 5}
    ).collect()
    assert [(r["pos"], r["piece"]) for r in seg] == [(0, "abc")]
    assert seg[0]["freq"] == 2
    # Exact tie 'ab'+'c' == 'a'+'bc' == 6: backward read-back hits the
    # boundary at position 3 first, where the smallest achieving piece
    # ('c', l=1) wins over 'bc' (l=2) — pinned.
    seg = unigram_viterbi_segment(
        words, {"a": 3, "b": 3, "c": 3, "ab": 3, "bc": 3}
    ).collect()
    assert sorted((r["pos"], r["piece"]) for r in seg) == [(0, "ab"), (2, "c")]
    with pytest.raises(Exception, match="not segmentable"):
        unigram_viterbi_segment(words, {"a": 3, "b": 3}).collect()
    with pytest.raises(Exception, match="pinned DP unroll"):
        unigram_viterbi_segment(
            words, {"a": 3, "b": 3, "c": 3}, max_word_len=2
        ).collect()


def test_unigram_train_model_invariants(spark):
    """Structural invariants of the trained model on a toy corpus:
    every single char survives (the floor rule), every count is
    positive, costs are the exact milli_log2 spec over the final
    counts, and high-frequency whole words (<= lmax chars) win their
    own piece."""
    from datapipeline_template_spark.operators.text import unigram_train

    vocab = spark.createDataFrame(
        [("spark", 50), ("spar", 3), ("park", 40), ("ark", 7)],
        "word string, freq long",
    )
    model = {r["piece"]: r for r in unigram_train(vocab).collect()}
    for ch in "spark":
        assert ch in model
    assert all(r["cnt"] >= 1 for r in model.values())
    assert "park" in model  # freq-40 4-gram wins a piece
    t = sum(r["cnt"] for r in model.values())

    def ml2(x):
        f = x.bit_length() - 1
        return 1000 * f + ((x - (1 << f)) * 1000) // (1 << f)

    for r in model.values():
        assert r["cost_mb"] == ml2(t) - ml2(r["cnt"])


def test_unigram_encode_matches_train_segmentation(spark):
    """unigram_encode under the trained model reproduces, for every
    word, a segmentation whose pieces concatenate back to the word
    and whose piece count is consistent with the model's vocabulary
    (every piece a model key)."""
    from datapipeline_template_spark.operators.text import (
        unigram_encode,
        unigram_train,
    )

    vocab = spark.createDataFrame(
        [("banana", 10), ("bandana", 5), ("nab", 2)],
        "word string, freq long",
    )
    model = unigram_train(vocab)
    pieces = {r["piece"] for r in model.collect()}
    enc = unigram_encode(vocab, model).collect()
    assert len(enc) == 3
    for r in enc:
        segs = r["seg"].split(" ")
        assert "".join(segs) == r["word"]
        assert len(segs) == r["n_pieces"]
        assert all(p in pieces for p in segs)


# ---------------------------------------------------------------------------
# Weighted sampling (Efraimidis–Spirakis integer race)
# ---------------------------------------------------------------------------


def test_weighted_sample_matches_pure_python_spec(spark, sf_dir):
    """The integer race spec pinned INDEPENDENTLY of DuckDB: a pure-
    Python replication of hash → millibit exponential → weight
    division → per-stratum top-k must produce the identical winner
    set, ranks and race values as the Spark operator over the real
    documents corpus."""
    from pyspark.sql import functions as F

    from datapipeline_template_spark.catalog import table
    from datapipeline_template_spark.operators.packing import (
        whitespace_token_count,
    )
    from datapipeline_template_spark.operators.sampling import (
        _ml2,
        weighted_sample_topk,
    )
    from datapipeline_template_spark.operators.sketch import (
        KMV_A,
        KMV_B,
        KMV_C,
        KMV_P,
    )

    docs = (
        table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "source",
            whitespace_token_count(F.col("text")).alias("n_tok"),
        )
        .where(F.col("n_tok") > 0)
    )
    got = {
        (r["source"], r["rk"]): (r["doc_id"], r["race"])
        for r in weighted_sample_topk(
            docs, key="doc_id", weight_col="n_tok", k=7, stratum_cols="source"
        ).collect()
    }

    def race(key: int, w: int) -> int:
        x0 = ((key % KMV_P) + KMV_P) % KMV_P
        h = ((x0 * x0 % KMV_P) * KMV_A % KMV_P + x0 * KMV_B % KMV_P + KMV_C) % KMV_P
        return ((_ml2(KMV_P) - _ml2(h + 1)) * 1_000_000) // w

    by_src: dict[str, list] = {}
    for r in docs.collect():
        by_src.setdefault(r["source"], []).append(
            (race(r["doc_id"], r["n_tok"]), r["doc_id"])
        )
    want = {}
    for src, rows in by_src.items():
        for rk, (rc, did) in enumerate(sorted(rows)[:7], start=1):
            want[(src, rk)] = (did, rc)
    assert got == want


def test_weighted_sample_mergeable_and_biased(spark):
    """Top-k of per-part top-k's == top-k of the union (the identity
    the streaming maintainer rests on), and the race actually FAVORS
    weight: over 200 independent strata with one weight-90 item
    against nine weight-1 items (true win probability 90/99 ≈ 0.91),
    the heavy item must win the clear majority."""
    from pyspark.sql import functions as F

    from datapipeline_template_spark.operators.sampling import (
        weighted_sample_topk,
    )

    rows = []
    for t in range(200):
        for i in range(10):
            rows.append((f"t{t:03d}", t * 1000 + i, 90 if i == 0 else 1))
    df = spark.createDataFrame(rows, "stratum string, key long, w long")

    whole = weighted_sample_topk(
        df, key="key", weight_col="w", k=3, stratum_cols="stratum"
    )
    lo = weighted_sample_topk(
        df.where(F.col("key") % 2 == 0),
        key="key", weight_col="w", k=3, stratum_cols="stratum",
    ).drop("rk")
    hi = weighted_sample_topk(
        df.where(F.col("key") % 2 == 1),
        key="key", weight_col="w", k=3, stratum_cols="stratum",
    ).drop("rk")
    merged = weighted_sample_topk(
        lo.unionByName(hi).drop("race"),
        key="key", weight_col="w", k=3, stratum_cols="stratum",
    )
    assert sorted(
        (r["stratum"], r["rk"], r["key"], r["race"]) for r in merged.collect()
    ) == sorted(
        (r["stratum"], r["rk"], r["key"], r["race"]) for r in whole.collect()
    )

    wins = (
        whole.where(F.col("rk") == 1)
        .where(F.col("key") % 1000 == 0)
        .count()
    )
    assert wins > 120  # ~0.91 expected; far above the 0.1 of uniform


def test_weighted_sample_guards(spark):
    """Non-positive / NULL weights raise loudly (a zero weight would
    be an always-wins sentinel); k <= 0 refused."""
    import pytest
    from pyspark.errors.exceptions.base import PySparkException

    from datapipeline_template_spark.operators.sampling import (
        weighted_sample_topk,
    )

    bad = spark.createDataFrame(
        [("a", 1, 5), ("a", 2, 0)], "s string, key long, w long"
    )
    with pytest.raises(PySparkException, match="positive"):
        weighted_sample_topk(
            bad, key="key", weight_col="w", k=2, stratum_cols="s"
        ).collect()
    null = spark.createDataFrame(
        [("a", 1, 5), ("a", 2, None)], "s string, key long, w long"
    )
    with pytest.raises(PySparkException, match="positive"):
        weighted_sample_topk(
            null, key="key", weight_col="w", k=2, stratum_cols="s"
        ).collect()
    with pytest.raises(ValueError, match="k > 0"):
        weighted_sample_topk(bad, key="key", weight_col="w", k=0)
    # NULL keys raise: a NULL race sorts FIRST ascending and would
    # silently WIN every race.
    nullkey = spark.createDataFrame(
        [("a", None, 5), ("a", 2, 5)], "s string, key long, w long"
    )
    with pytest.raises(PySparkException, match="non-null keys"):
        weighted_sample_topk(
            nullkey, key="key", weight_col="w", k=2, stratum_cols="s"
        ).collect()


# ---------------------------------------------------------------------------
# Prefix-filtered set-similarity join (dd21)
# ---------------------------------------------------------------------------


def test_prefix_filter_join_equals_brute_force(spark, sf_dir):
    """The prefix lemma in practice: candidates ⊇ every qualifying
    pair (recall 1.0 — the property LSH only approaches), the
    verified output EQUALS the unblocked all-pairs brute force, and
    the filter actually prunes (candidates < all pairs). Repeated
    array elements must not perturb sizes (set semantics)."""
    import pytest
    from pyspark.sql import functions as F

    from datapipeline_template_spark.catalog import table
    from datapipeline_template_spark.operators.dedup import (
        prefix_filter_candidates,
        prefix_filter_pairs,
        shingle_tokens,
    )
    from datapipeline_template_spark.operators.text import tokenize

    t = 500
    docs = table(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id", shingle_tokens(tokenize("text"), k=3).alias("shingles")
    )
    n = sh.count()

    dedup = sh.select(
        "doc_id", F.array_distinct("shingles").alias("shingles")
    )
    a = dedup.select(
        F.col("doc_id").alias("id_a"), F.col("shingles").alias("sa")
    )
    b = dedup.select(
        F.col("doc_id").alias("id_b"), F.col("shingles").alias("sb")
    )
    brute = (
        a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "inter_n", F.size(F.array_intersect("sa", "sb")).cast("long")
        )
        .withColumn(
            "union_n",
            F.size("sa").cast("long")
            + F.size("sb").cast("long")
            - F.col("inter_n"),
        )
        .where(F.col("inter_n") * 1000 >= F.lit(t) * F.col("union_n"))
    )
    truth = {
        (r["id_a"], r["id_b"], r["inter_n"], r["union_n"])
        for r in brute.collect()
    }

    got = {
        (r["id_a"], r["id_b"], r["inter_n"], r["union_n"])
        for r in prefix_filter_pairs(sh, "doc_id", "shingles", t).collect()
    }
    assert got == truth

    cand = {
        (r["id_a"], r["id_b"])
        for r in prefix_filter_candidates(sh, "doc_id", "shingles", t).collect()
    }
    assert {(x[0], x[1]) for x in truth} <= cand
    assert len(cand) < n * (n - 1) // 2  # the filter must actually prune

    # Set semantics: arrays with repeats == their distinct versions.
    dup = sh.withColumn(
        "shingles", F.concat("shingles", F.slice("shingles", 1, 2))
    )
    got_dup = {
        (r["id_a"], r["id_b"], r["inter_n"], r["union_n"])
        for r in prefix_filter_pairs(dup, "doc_id", "shingles", t).collect()
    }
    assert got_dup == truth

    with pytest.raises(ValueError, match="t_milli"):
        prefix_filter_pairs(sh, "doc_id", "shingles", 0)


def test_verify_jaccard_excludes_empty_sets(spark):
    """J(∅,∅) is 0/0 — undefined. The verify guard (union_n > 0)
    keeps an empty-empty candidate out instead of emitting a
    divide-by-zero jac_milli, and empty sets never survive the
    prefix-filter path end-to-end (no prefix element to block on)."""
    from pyspark.sql import functions as F

    from datapipeline_template_spark.operators.dedup import (
        prefix_filter_pairs,
        verify_jaccard_candidates,
    )

    sets = spark.createDataFrame(
        [(1, []), (2, []), (3, [7, 8])],
        "_vid long, _vset array<long>",
    )
    cand = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    # Direct verify of an empty-empty candidate: excluded, not null/error.
    assert verify_jaccard_candidates(cand, sets, 500).count() == 0

    df = sets.select(F.col("_vid").alias("doc_id"), F.col("_vset").alias("s"))
    assert prefix_filter_pairs(df, "doc_id", "s", 500).count() == 0


# ---------------------------------------------------------------------------
# Integer PageRank (ss36)
# ---------------------------------------------------------------------------


def test_pagerank_integer_matches_pure_python(spark):
    """The integer walk spec pinned independently of DuckDB: a pure-
    Python replication (same truncating divisions, same round count)
    must produce identical micro-ranks on a small asymmetric graph —
    and the walk must separate nodes that raw degree ties."""
    import pytest

    from datapipeline_template_spark.operators.graph import pagerank_integer

    # Undirected: a star 0-{1,2,3} plus a tail 3-4-5. Degrees tie
    # (1,2 have deg 1; 4 has deg 2) but centrality must not.
    und = [(0, 1), (0, 2), (0, 3), (3, 4), (4, 5)]
    directed = und + [(b, a) for a, b in und]
    df = spark.createDataFrame(directed, "src long, dst long")
    got = {
        r["node"]: (r["deg"], r["rank_micro"])
        for r in pagerank_integer(df, iters=5).collect()
    }

    deg: dict[int, int] = {}
    for s, _ in directed:
        deg[s] = deg.get(s, 0) + 1
    r = {n: 1_000_000 for n in deg}
    for _ in range(5):
        s: dict[int, int] = {n: 0 for n in deg}
        for a, b in directed:
            s[b] += r[a] // deg[a]
        r = {n: 150_000 + (850 * s[n]) // 1000 for n in deg}
    want = {n: (deg[n], r[n]) for n in deg}
    assert got == want

    # Degree ties, walk doesn't: node 5 (deg 1, hangs off the tail)
    # vs nodes 1/2 (deg 1, hang off the hub).
    assert got[1] == got[2]
    assert got[5][1] != got[1][1]

    with pytest.raises(ValueError, match="iters"):
        pagerank_integer(df, iters=0)
    with pytest.raises(ValueError, match="damping"):
        pagerank_integer(df, damping_milli=1001)
    # NULL endpoints raise — a phantom NULL node would absorb/emit
    # rank mass silently.
    from pyspark.errors.exceptions.base import PySparkException

    nulledge = spark.createDataFrame([(1, None), (1, 2)], "src long, dst long")
    with pytest.raises(PySparkException, match="non-null edge"):
        pagerank_integer(nulledge, iters=1)


def test_grouped_median_mad_order_statistics(spark):
    """The lower-median spec: rank (n+1) div 2 — an actual data value
    for both odd and EVEN group sizes (n=4 must pick the 2nd smallest,
    not the 3rd or an interpolated .5) — and MAD over |x − med| with
    the same statistic; verified against a pure-Python replication."""
    from datapipeline_template_spark.operators.text import grouped_median_mad

    rows = [
        # odd group: values 1..5 -> med 3; devs 0,1,1,2,2 -> mad 1
        *[("odd", i, v) for i, v in enumerate([5, 3, 1, 4, 2])],
        # even group: 10,20,30,40 -> LOWER med 20; devs 10,0,10,20 ->
        # sorted 0,10,10,20 -> lower med (rank 2) = 10
        *[("even", i, v) for i, v in enumerate([40, 10, 30, 20])],
        # ties: 7,7,7,9 -> med 7; devs 0,0,0,2 -> mad 0
        *[("tie", i, v) for i, v in enumerate([7, 9, 7, 7])],
    ]
    df = spark.createDataFrame(rows, "g string, id long, v long")
    got = {
        r["g"]: (r["n"], r["med"], r["mad"])
        for r in grouped_median_mad(df, "g", "v", "id").collect()
    }
    assert got == {"odd": (5, 3, 1), "even": (4, 20, 10), "tie": (4, 7, 0)}

    # NULL values raise — they would sort first and shift the order
    # statistic silently. (AQE may wrap the raise in a
    # stage-materialization error, so match on the message only.)
    import pytest

    withnull = spark.createDataFrame(
        [("g", 0, 1), ("g", 1, None)], "g string, id long, v long"
    )
    with pytest.raises(Exception, match="non-null"):
        grouped_median_mad(withnull, "g", "v", "id").collect()


def test_byte_phash64_reencode_twins_and_banding_recall(spark, sf_dir):
    """pHash contract on the mm06 fixture: every re-encoded twin
    (in-place 'e'→'f' noise) sits within hamming ≤ 3 of its original
    (the verify threshold), NO control pair does, and the 4×16-bit
    banding's candidate set contains every pair the brute-force
    verify would keep (pigeonhole recall at t=3, checked against an
    unblocked XOR scan). Also pins the integer DCT basis's shape
    invariants."""
    from pyspark.sql import functions as F

    from datapipeline_template_spark.catalog import table
    from datapipeline_template_spark.operators.multimodal import (
        PHASH_DCT_1024,
        byte_phash64,
    )

    assert len(PHASH_DCT_1024) == 8 and all(len(r) == 8 for r in PHASH_DCT_1024)
    # Row 0 is the flat (DC) basis vector: identical entries.
    assert len(set(PHASH_DCT_1024[0])) == 1

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    twins = docs.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.translate("text", "e", "f").alias("text"),
    )
    blobs = docs.unionByName(twins).withColumn(
        "blob", F.encode("text", "UTF-8")
    )
    ph = (
        byte_phash64(blobs, "blob")
        .select("doc_id", "phash")
        .localCheckpoint(eager=True)
    )
    a, b = ph.alias("a"), ph.alias("b")
    brute = (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.bit_count(
                F.col("a.phash").bitwiseXOR(F.col("b.phash"))
            ).cast("long").alias("h"),
        )
        .localCheckpoint(eager=True)
    )
    n_docs = docs.count()
    kept = brute.where(F.col("h") <= 3)
    twin_rows = kept.where(F.col("id_b") == F.col("id_a") + 1_000_000)
    assert twin_rows.count() == n_docs  # every twin found
    assert kept.count() == n_docs  # ...and nothing else (controls >= 4)

    # Banding recall: candidates ⊇ every kept pair.
    bands = ph.select(
        "doc_id",
        "phash",
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("band"),
    ).select(
        "doc_id",
        "band",
        F.expr("shiftright(phash, CAST(band * 16 AS INT))")
        .bitwiseAND(F.lit(65535))
        .alias("key"),
    )
    ba, bb = bands.alias("a"), bands.alias("b")
    cand = {
        (r["id_a"], r["id_b"])
        for r in ba.join(
            bb,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .distinct()
        .collect()
    }
    want = {(r["id_a"], r["id_b"]) for r in kept.collect()}
    assert want <= cand


def test_lit_long_array_matrix_equal_per_element_form(spark):
    """The expr-rendered literal helpers (r13 optimization: one parsed
    expression instead of one py4j lit/cast round trip per element)
    must be value- AND schema-identical to the per-element
    construction they replaced, across negatives and int64 extremes —
    both forms constant-fold to the same Literal."""
    from pyspark.sql import functions as F

    from datapipeline_template_spark.functions import (
        lit_long_array,
        lit_long_matrix,
    )

    vals = [0, -5, 7, 2**62, -(2**62), 9999]
    rows = [vals, [1, 2, 3, 4, 5, 6], [-(10**12), 10**12, 0, 1, -1, 42]]
    df = spark.range(1).select(
        lit_long_array(vals).alias("new_a"),
        F.array(*[F.lit(int(v)).cast("long") for v in vals]).alias("old_a"),
        lit_long_matrix(rows).alias("new_m"),
        F.array(
            *[
                F.array(*[F.lit(int(v)).cast("long") for v in r])
                for r in rows
            ]
        ).alias("old_m"),
    )
    assert df.schema["new_a"].dataType == df.schema["old_a"].dataType
    assert df.schema["new_m"].dataType == df.schema["old_m"].dataType
    r = df.collect()[0]
    assert r["new_a"] == r["old_a"] == vals
    assert r["new_m"] == r["old_m"] == rows

    import pytest as _pytest

    with _pytest.raises(ValueError):
        lit_long_array([])
    with _pytest.raises(ValueError):
        lit_long_matrix([[1], []])


@pytest.mark.slow
def test_mutual_knn_edges_kernel_bit_equal_reference(spark, sf_dir):
    """The per-block Arrow mutual-kNN kernel (r13 verdict item 2) must
    be BIT-equal to the Catalyst reference form — same edges, same
    IEEE-double cosines (compared via float hex, not approx) — on both
    the blocked form and the unblocked eval-slice form, including a
    k larger than the smallest block (the -inf validity-mask path) and
    a zero-norm row (filtered identically in both forms)."""
    from pyspark.sql import functions as F

    from datapipeline_template_spark.catalog import table
    from datapipeline_template_spark.operators.similarity import (
        mutual_knn_edges,
        mutual_knn_edges_kernel,
    )

    emb = table(spark, sf_dir, "embeddings")

    def rows(df):
        return sorted(
            (r.id_a, r.id_b, float(r.cosine).hex()) for r in df.collect()
        )

    # blocked (label) at a k exceeding some block sizes at sf0.001
    a = rows(mutual_knn_edges(emb, "vec_id", "embedding", k=5, block_col="label"))
    b = rows(
        mutual_knn_edges_kernel(emb, "vec_id", "embedding", k=5, block_col="label")
    )
    assert a == b and len(a) > 0

    # unblocked slice, with an injected zero vector (must vanish in both)
    sl = emb.where(F.col("vec_id") < 40).select("vec_id", "embedding")
    zero = spark.createDataFrame(
        [(99999, [0.0] * 64)], "vec_id long, embedding array<double>"
    )
    both = sl.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding")).unionByName(zero)
    a = rows(mutual_knn_edges(both, "vec_id", "embedding", k=3))
    b = rows(mutual_knn_edges_kernel(both, "vec_id", "embedding", k=3))
    assert a == b and len(a) > 0
    assert all(x[0] != 99999 and x[1] != 99999 for x in a)


def test_shingle_rows_kernel_bit_equal_reference(spark, sf_dir):
    """shingle_rows_kernel must emit exactly the rows of
    explode(shingle_tokens(tokenize(text), k)) — same multiset of
    (key, hash) pairs, incl. short docs (the padded 1-shingle case)
    and k=3 — on the real documents table."""
    from pyspark.sql import functions as F

    from datapipeline_template_spark.catalog import table
    from datapipeline_template_spark.operators.dedup import (
        shingle_rows_kernel,
        shingle_tokens,
    )
    from datapipeline_template_spark.operators.text import tokenize

    docs = table(spark, sf_dir, "documents")
    ref = sorted(
        (r.source, r.g)
        for r in docs.select(
            "source",
            F.explode(shingle_tokens(tokenize("text"), k=3)).alias("g"),
        ).collect()
    )
    ker = sorted(
        (r.source, r.g)
        for r in shingle_rows_kernel(docs, "source", "text", k=3).collect()
    )
    assert ref == ker and len(ref) > 0

    extra = spark.createDataFrame(
        [("s1", "one"), ("s2", "two words"), ("s3", None), ("s4", "")],
        "source string, text string",
    )
    ref = sorted(
        (r.source, r.g)
        for r in extra.select(
            "source",
            F.explode(shingle_tokens(tokenize("text"), k=3)).alias("g"),
        ).collect()
    )
    ker = sorted(
        (r.source, r.g)
        for r in shingle_rows_kernel(extra, "source", "text", k=3).collect()
    )
    assert ref == ker


def test_shingle_arrays_kernel_bit_equal_reference(spark, sf_dir):
    """shingle_arrays_kernel must equal shingle_tokens(tokenize(text))
    row-for-row (k=5, the dd19 shape) with other columns preserved,
    and give NULL arrays for NULL text."""
    from datapipeline_template_spark.catalog import table
    from datapipeline_template_spark.operators.dedup import (
        shingle_arrays_kernel,
        shingle_tokens,
    )
    from datapipeline_template_spark.operators.text import tokenize

    docs = table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    ref = {
        r.doc_id: (r.source, r.sh)
        for r in docs.select(
            "doc_id", "source",
            shingle_tokens(tokenize("text"), k=5).alias("sh"),
        ).collect()
    }
    ker = {
        r.doc_id: (r.source, r.sh)
        for r in shingle_arrays_kernel(docs, "text", k=5).collect()
    }
    assert ref == ker and len(ref) > 0

    extra = spark.createDataFrame(
        [(1, "one"), (2, "two words here now"), (3, None), (4, "")],
        "doc_id long, text string",
    )
    ref = {
        r.doc_id: r.sh
        for r in extra.select(
            "doc_id", shingle_tokens(tokenize("text"), k=5).alias("sh")
        ).collect()
    }
    ker = {
        r.doc_id: r.sh
        for r in shingle_arrays_kernel(extra, "text", k=5).collect()
    }
    assert ref == ker


def test_bigram_hash_rows_kernel_bit_equal_reference(spark, sf_dir):
    """bigram_hash_rows_kernel must emit exactly the rows of
    _bigram_stream + poly_hash — same multiset of (bigram, h) — on the
    real documents table plus NULL/empty/single-token edges and
    non-ASCII code points (the JVM form hashes codePointAt; the kernel
    decodes UTF-32)."""
    from pyspark.sql import functions as F

    from datapipeline_template_spark.catalog import table
    from datapipeline_template_spark.functions import poly_hash
    from datapipeline_template_spark.operators.text import (
        bigram_hash_rows_kernel,
    )
    from datapipeline_template_spark.queries.text import _bigram_stream

    ref = sorted(
        (r.bigram, r.h)
        for r in _bigram_stream(spark, sf_dir)
        .select("bigram", poly_hash("bigram").alias("h"))
        .collect()
    )
    docs = table(spark, sf_dir, "documents")
    ker = sorted(
        (r.bigram, r.h)
        for r in bigram_hash_rows_kernel(docs, "text").collect()
    )
    assert ref == ker and len(ref) > 0

    extra = spark.createDataFrame(
        [
            (1, "solo"),
            (2, "two words"),
            (3, None),
            (4, ""),
            (5, "a  b"),
            (6, "café naïve 中文 \U0001F600"),
        ],
        "doc_id long, text string",
    )
    # reference chain inline (the _bigram_stream shape over `extra`)
    toks = F.split(F.col("text"), " ")
    bigrams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(toks, i), F.element_at(toks, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    ref = sorted(
        (r.bigram, r.h)
        for r in extra.select(F.explode(bigrams).alias("bigram"))
        .select("bigram", poly_hash("bigram").alias("h"))
        .collect()
    )
    ker = sorted(
        (r.bigram, r.h)
        for r in bigram_hash_rows_kernel(extra, "text").collect()
    )
    assert ref == ker
