"""Connected components / dedup clustering (operators/graph.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from yaetl_spark.operators import (
    connected_components,
    dedup_clusters,
    drop_duplicate_members,
)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "id_a long, id_b long")


def _cc_dict(df):
    return {r.node: r.comp for r in df.collect()}


def test_two_components_and_singleton_edge(spark):
    # {1,2,3} chained, {10,11} direct, self-loop 20-20 dropped entirely
    got = _cc_dict(
        connected_components(
            _edges(spark, [(1, 2), (2, 3), (10, 11), (20, 20)])
        )
    )
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_long_chain_converges_via_pointer_doubling(spark):
    # a 40-node path: plain neighbor propagation needs 40 rounds;
    # pointer doubling must finish well inside max_iter=10
    # (local_threshold=0 forces the distributed loop)
    pairs = [(i, i + 1) for i in range(40)]
    got = _cc_dict(connected_components(
        _edges(spark, pairs), max_iter=10, local_threshold=0))
    assert set(got.values()) == {0}
    assert len(got) == 41


def test_direction_and_duplicates_are_irrelevant(spark):
    got = _cc_dict(
        connected_components(
            _edges(spark, [(5, 2), (2, 5), (5, 2), (7, 5)])
        )
    )
    assert got == {2: 2, 5: 2, 7: 2}


def test_reliable_checkpoint_dir_converges(spark, tmp_path):
    # checkpoint_dir switches lineage truncation from localCheckpoint to
    # reliable checkpoint(); the loop must still converge to the same
    # fixpoint and must actually materialize checkpoint data in the dir
    pairs = [(i, i + 1) for i in range(40)]
    got = _cc_dict(connected_components(
        _edges(spark, pairs), max_iter=10, local_threshold=0,
        checkpoint_dir=str(tmp_path)))
    assert set(got.values()) == {0}
    assert len(got) == 41
    ckpt_files = list(tmp_path.rglob("*"))
    assert ckpt_files, "reliable checkpoint wrote nothing to checkpoint_dir"


def test_checkpoint_dir_same_fixpoint_as_local(spark, tmp_path):
    pairs = [(1, 2), (2, 3), (10, 11), (20, 20)]
    local = _cc_dict(connected_components(
        _edges(spark, pairs), local_threshold=0))
    durable = _cc_dict(connected_components(
        _edges(spark, pairs), local_threshold=0,
        checkpoint_dir=str(tmp_path)))
    assert local == durable == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_checkpoint_dir_small_graph_writes_no_checkpoint(spark, tmp_path):
    # a graph under the default local_threshold localizes to driver
    # union-find; the reliable checkpoint must not have written the
    # edge set before the probe decided that
    got = _cc_dict(connected_components(
        _edges(spark, [(1, 2), (2, 3), (10, 11)]),
        checkpoint_dir=str(tmp_path)))
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    assert not list(tmp_path.rglob("rdd-*"))


def test_max_iter_guard_raises(spark):
    with pytest.raises(RuntimeError, match="no fixpoint"):
        connected_components(
            _edges(spark, [(i, i + 1) for i in range(300)]),
            max_iter=2, local_threshold=0,
        )


def test_dedup_clusters_and_canonical_keep(spark):
    docs = spark.createDataFrame(
        [(i, f"doc{i}") for i in range(8)], "doc_id long, text string"
    )
    clusters = dedup_clusters(_edges(spark, [(0, 3), (3, 6), (2, 4)]))
    assert {r.doc_id: r.cluster for r in clusters.collect()} == {
        0: 0, 3: 0, 6: 0, 2: 2, 4: 2,
    }
    kept = drop_duplicate_members(docs, clusters)
    assert sorted(r.doc_id for r in kept.collect()) == [0, 1, 2, 5, 7]


def test_no_cartesian_in_cc_plan(spark):
    clusters = dedup_clusters(_edges(spark, [(0, 1), (1, 2)]))
    plan = clusters._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_inverted_index_pruning_and_order(spark):
    from yaetl_spark.operators import inverted_index

    docs = spark.createDataFrame(
        [
            (3, "b a"),
            (1, "a c"),
            (2, "a a a"),  # repeated token counts once per doc
        ],
        "doc_id long, text string",
    )
    got = {
        r.token: (r.df, r.postings)
        for r in inverted_index(docs).collect()
    }
    assert got == {"a": (3, "1,2,3"), "b": (1, "3"), "c": (1, "1")}
    pruned = {
        r.token for r in inverted_index(docs, min_df=2).collect()
    }
    assert pruned == {"a"}


def test_gap_fill_strategies(spark):
    import datetime

    from yaetl_spark.operators import gap_fill

    daily = spark.createDataFrame(
        [
            ("a", datetime.date(2024, 1, 1), 10.0, 2),
            ("a", datetime.date(2024, 1, 4), 40.0, 1),
        ],
        "k string, day date, v double, n long",
    )
    got = {
        (r.k, str(r.day)): (r.v, r.n)
        for r in gap_fill(daily, ["k"], "day", {"v": "ffill", "n": "zero"}).collect()
    }
    assert got == {
        ("a", "2024-01-01"): (10.0, 2),
        ("a", "2024-01-02"): (10.0, 0),
        ("a", "2024-01-03"): (10.0, 0),
        ("a", "2024-01-04"): (40.0, 1),
    }


def test_cohort_retention_counts(spark):
    import datetime

    from yaetl_spark.operators import cohort_retention

    # two users first active in week of Jan 1 2024 (Mon), one returns
    # two weeks later; a third user starts the following week
    ev = spark.createDataFrame(
        [
            (1, datetime.datetime(2024, 1, 2, 10)),
            (2, datetime.datetime(2024, 1, 3, 11)),
            (1, datetime.datetime(2024, 1, 16, 9)),
            (3, datetime.datetime(2024, 1, 9, 8)),
        ],
        "user_id long, ts timestamp",
    )
    got = {
        (str(r.cohort), r.offset): r.n_users
        for r in cohort_retention(ev, "user_id", "ts").collect()
    }
    assert got == {
        ("2024-01-01", 0): 2,
        ("2024-01-01", 2): 1,
        ("2024-01-08", 0): 1,
    }


def test_gap_fill_hourly_step(spark):
    import datetime

    from yaetl_spark.operators import gap_fill

    hourly = spark.createDataFrame(
        [
            ("a", datetime.datetime(2024, 1, 1, 0), 5.0),
            ("a", datetime.datetime(2024, 1, 1, 3), 8.0),
        ],
        "k string, h timestamp, v double",
    )
    got = {
        r.h.hour: r.v
        for r in gap_fill(hourly, ["k"], "h", {"v": "ffill"},
                          step="1 hour").collect()
    }
    assert got == {0: 5.0, 1: 5.0, 2: 5.0, 3: 8.0}


def test_keep_latest_tiebreak_and_invariance(spark):
    from yaetl_spark.operators import keep_latest

    df = spark.createDataFrame(
        [
            (1, 10, "a"), (1, 20, "b"),          # later ts wins
            (2, 5, "x"), (2, 5, "y"),            # tie -> higher tiebreak
        ],
        "k long, ts long, v string",
    )
    got = {r.k: r.v for r in keep_latest(df, "k", "ts", tiebreak="v").collect()}
    assert got == {1: "b", 2: "y"}
    got2 = {r.k: r.v for r in keep_latest(
        df.repartition(5), "k", "ts", tiebreak="v").collect()}
    assert got == got2


# --- pagerank ---------------------------------------------------------------


def test_pagerank_known_graph_and_mass(spark):
    import pytest

    from yaetl_spark.operators import pagerank

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 1), (3, 4)], "src long, dst long")
    got = {r["node"]: r["rank"] for r in pagerank(edges, iters=20).collect()}
    # ranks are a probability distribution over the node set
    assert round(sum(got.values()), 5) == 1.0
    # node 3 has two in-links (from 1 and 2) -> highest rank
    assert got[3] == max(got.values())
    # 1 and 4 are symmetric receivers (each gets half of 3's rank plus
    # the dangling share from 4)
    assert got[1] == got[4]
    with pytest.raises(ValueError):
        pagerank(edges, iters=0)
    with pytest.raises(ValueError):
        pagerank(edges, damping=1.0)


def test_pagerank_parallel_edges_weigh(spark):
    from yaetl_spark.operators import pagerank

    # 1 -> 2 twice, 1 -> 3 once: 2 must outrank 3
    single = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 1), (3, 1)], "src long, dst long")
    doubled = spark.createDataFrame(
        [(1, 2), (1, 2), (1, 3), (2, 1), (3, 1)], "src long, dst long")
    s = {r["node"]: r["rank"] for r in pagerank(single, iters=10).collect()}
    d = {r["node"]: r["rank"] for r in pagerank(doubled, iters=10).collect()}
    assert s[2] == s[3]
    assert d[2] > d[3]


def test_pagerank_partition_invariant_and_dangling_only(spark):
    from yaetl_spark.operators import pagerank

    edges = spark.createDataFrame(
        [(i, (i * 7) % 20) for i in range(60)], "src long, dst long")
    a = sorted(map(tuple, pagerank(edges.repartition(1), iters=5).collect()))
    b = sorted(map(tuple, pagerank(edges.repartition(9), iters=5).collect()))
    assert a == b
    # a pure sink graph (all mass dangles) stays uniform
    sink = spark.createDataFrame([(1, 2), (3, 2)], "src long, dst long")
    got = {r["node"]: r["rank"] for r in pagerank(sink, iters=4).collect()}
    assert round(sum(got.values()), 5) == 1.0
    assert got[2] > got[1] == got[3]


def test_ewma_matches_pandas_recurrence(spark):
    import pandas as pd

    from yaetl_spark.operators import ewma

    rows = [
        ("a", 1, 10.0), ("a", 2, 20.0), ("a", 3, 0.0), ("a", 4, 40.0),
        ("b", 1, 5.0),
        ("c", 2, 7.0), ("c", 1, 3.0),  # out of order in the input
    ]
    df = spark.createDataFrame(rows, "k string, t int, v double")
    got = {r["k"]: (r["n_points"], r["ewma"])
           for r in ewma(df, "v", "t", ["k"], alpha=0.5).collect()}
    # pandas adjust=False is the same seeded recurrence
    for k, vals in (("a", [10.0, 20.0, 0.0, 40.0]), ("b", [5.0]),
                    ("c", [3.0, 7.0])):
        want = pd.Series(vals).ewm(alpha=0.5, adjust=False).mean().iloc[-1]
        assert got[k] == (len(vals), pytest.approx(want, abs=1e-6))


def test_ewma_guards_and_in_plan_max_points(spark):
    from yaetl_spark.operators import ewma

    df = spark.createDataFrame(
        [("a", i, float(i)) for i in range(5)], "k string, t int, v double"
    )
    with pytest.raises(ValueError, match="at least one key"):
        ewma(df, "v", "t", [])
    with pytest.raises(ValueError, match="alpha"):
        ewma(df, "v", "t", ["k"], alpha=0.0)
    # at-the-bound passes; one over raises in-plan naming the key
    ok = ewma(df, "v", "t", ["k"], max_points=5).collect()
    assert ok[0]["n_points"] == 5
    with pytest.raises(Exception, match="ewma: key \\(a\\) holds 5"):
        ewma(df, "v", "t", ["k"], max_points=4).collect()


def test_ewma_plan_one_shuffle_no_python(spark):
    from yaetl_spark.operators import ewma

    df = spark.createDataFrame(
        [("a", i, float(i)) for i in range(10)], "k string, t int, v double"
    )
    plan = ewma(df, "v", "t", ["k"])._jdf.queryExecution() \
        .executedPlan().toString()
    for node in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                 "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert node not in plan
    # exactly one key-partitioned exchange feeds the array aggregation
    assert plan.count("Exchange hashpartitioning") == 1
