"""The per-query runner (scripts/bench_isolated.py) called as a function
on the test session."""

from __future__ import annotations

from scripts import bench_isolated


def test_runner_reports_every_layer_and_unregisters(spark, sf_dir,
                                                     monkeypatch):
    manager = spark._jsparkSession.listenerManager()
    n_listeners = len(manager.listListeners())
    captured = []
    plan_sig = bench_isolated.plan_sig

    def spy(plan):
        captured.append(plan)
        return plan_sig(plan)

    monkeypatch.setattr(bench_isolated, "plan_sig", spy)
    # a listener registered before the runner's: unregistering the
    # runner's then compares the two through equals()
    other = spark._jvm.java.util.Collections.singletonList(
        bench_isolated._NoopWriteListener()).toArray()
    bench_isolated._invoke(manager, "register", other)
    try:
        out = bench_isolated.run(
            spark, ["chained_join_agg", "dedup_clusters"], n_warm=1,
            sf_dir=sf_dir)
        assert len(manager.listListeners()) == n_listeners + 1
    finally:
        bench_isolated._invoke(manager, "unregister", other)

    assert list(out) == ["chained_join_agg", "dedup_clusters"]
    for rep in out.values():
        assert set(rep) == {"median", "spread", "cold", "n", "plan",
                            "plan_flip", "build", "plan_s", "exec", "jobs"}
        assert rep["n"] == 1
        for layer in bench_isolated.LAYERS:
            assert set(rep[layer]) == {"cold", "median"}
        assert rep["plan_s"]["cold"] > 0
        assert rep["jobs"]["median"] >= 1
    assert out["chained_join_agg"]["plan"]["joins"]
    # two runs per query, each fingerprinted from the noop write's own
    # plan, AQE-final where AQE applies (the localized cluster labels
    # are an exchange-free RDD scan, which AQE leaves unwrapped)
    assert len(captured) == 4
    assert all("isFinalPlan=true" in p for p in captured[:2])
    assert not any("isFinalPlan=false" in p for p in captured)
    # the pair graph is probed and collected while the query is built
    assert out["dedup_clusters"]["jobs"]["median"] > 1
    assert len(manager.listListeners()) == n_listeners
