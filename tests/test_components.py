"""Connected-components operator tests: transitive closure, canonical
min-label, cluster sizes, convergence on chains longer than one hop,
the O(log n) large-star/small-star variant, and per-round job cost."""

from __future__ import annotations

import pytest

from azure_databricks_lakehouse_spark.operators.components import (
    ConvergenceError,
    _is_star_forest,
    connected_components,
    connected_components_star,
    dedup_clusters,
)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src bigint, dst bigint")


def _jobs_without_aqe(spark, group, action):
    """Run ``action`` and return the number of Spark jobs it submitted.
    AQE runs every shuffle stage as its own job, which would make the
    count measure plan depth instead of driver actions — it is disabled
    so jobs ~= actions."""
    sc = spark.sparkContext
    aqe_prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setJobGroup(None, None)
        spark.conf.set("spark.sql.adaptive.enabled", aqe_prev)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_transitive_chain_collapses(spark):
    # 1-2, 2-3, 3-4 is one component even though (1,4) was never a pair;
    # 10-11 is a separate component.
    comp = connected_components(_edges(spark, [(1, 2), (2, 3), (3, 4), (10, 11)]))
    got = {r["node"]: r["component_id"] for r in comp.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_cluster_rollup(spark):
    pairs = spark.createDataFrame(
        [(5, 7), (7, 9), (20, 21)], "doc_a bigint, doc_b bigint"
    )
    rows = {
        r["doc_id"]: (r["canonical_id"], r["cluster_size"])
        for r in dedup_clusters(pairs).collect()
    }
    assert rows == {5: (5, 3), 7: (5, 3), 9: (5, 3), 20: (20, 2), 21: (20, 2)}


def test_long_chain_converges(spark):
    # a 12-node path needs multiple propagation rounds
    comp = connected_components(_edges(spark, [(i, i + 1) for i in range(12)]))
    labels = {r["component_id"] for r in comp.collect()}
    assert labels == {0}
    assert comp.count() == 13


def test_label_propagation_raises_instead_of_wrong_labels(spark):
    # diameter > max_iter must RAISE (round-3 advice), never return
    # silently-split clusters
    edges = _edges(spark, [(i, i + 1) for i in range(30)])
    with pytest.raises(ConvergenceError, match="star"):
        connected_components(edges, max_iter=3)


def test_star_matches_label_propagation(spark):
    pairs = [(1, 2), (2, 3), (3, 4), (10, 11), (20, 20), (7, 5), (5, 9)]
    edges = _edges(spark, pairs)
    lp = {r["node"]: r["component_id"] for r in connected_components(edges).collect()}
    st = {
        r["node"]: r["component_id"]
        for r in connected_components_star(edges).collect()
    }
    assert st == lp


def test_star_string_ids(spark):
    edges = spark.createDataFrame(
        [("doc_b", "doc_c"), ("doc_a", "doc_b"), ("x", "y")],
        "src string, dst string",
    )
    st = {
        r["node"]: r["component_id"]
        for r in connected_components_star(edges).collect()
    }
    assert st == {
        "doc_a": "doc_a",
        "doc_b": "doc_a",
        "doc_c": "doc_a",
        "x": "x",
        "y": "x",
    }


def test_star_closes_1000_node_path_in_logarithmic_rounds(spark):
    """The promised adversarial case: a 1000-node path graph.  Min-label
    propagation needs ~1000 rounds (diameter); large-star/small-star must
    close it within ~10 (O(log n)) — max_iter=14 gives slack while still
    proving the logarithmic bound."""
    edges = _edges(spark, [(i, i + 1) for i in range(999)])
    comp = connected_components_star(edges, max_iter=14)
    assert comp.count() == 1000
    assert {r["component_id"] for r in comp.select("component_id").distinct().collect()} == {0}


def test_star_dedup_clusters_rollup(spark):
    pairs = spark.createDataFrame(
        [(5, 7), (7, 9), (20, 21)], "doc_a bigint, doc_b bigint"
    )
    rows = {
        r["doc_id"]: (r["canonical_id"], r["cluster_size"])
        for r in dedup_clusters(pairs, algorithm="star").collect()
    }
    assert rows == {5: (5, 3), 7: (5, 3), 9: (5, 3), 20: (20, 2), 21: (20, 2)}


def test_label_propagation_job_count(spark):
    """Round-3 verdict item 5: convergence is read off the materialized
    round frame — 2 jobs per round (eager checkpoint + scalar agg), not
    3 (join-count + re-materialization).  A 3-edge clique converges in
    2 rounds; allow generous slack for the input checkpoint and final
    collect but fail if per-round cost doubles."""
    comp = connected_components(_edges(spark, [(1, 2), (2, 3), (1, 3)]))
    n_jobs = _jobs_without_aqe(spark, "cc-jobcount", comp.collect)
    # 2 rounds x 2 jobs + input-derivation + final collect = ~6; the old
    # shape (count-join + lazy checkpoint re-run) was ~3 per round.
    assert n_jobs <= 8, f"CC loop ran {n_jobs} jobs for a 2-round graph"


def test_star_stops_at_first_star_forest(spark):
    """A graph that already is a star forest closes in ONE round: the
    round's checkpoint, the star-forest probe and the final collect are
    3 jobs (AQE off).  A loop that needs a second, confirming round to
    see its output repeat costs 5, which the bound of 4 rejects."""
    rows = []
    comp = connected_components_star(_edges(spark, [(1, 2), (1, 3), (10, 11)]))
    n_jobs = _jobs_without_aqe(
        spark, "cc-star-jobcount", lambda: rows.extend(comp.collect())
    )
    assert {r["node"]: r["component_id"] for r in rows} == {
        1: 1, 2: 1, 3: 1, 10: 10, 11: 10,
    }
    assert n_jobs <= 4, f"star loop ran {n_jobs} jobs for a star forest"


@pytest.mark.parametrize(
    "edges, converged",
    [
        ([(5, 1), (5, 2)], False),  # a child with two centres
        ([(3, 1), (1, 0)], False),  # a centre that is also a child
        ([(2, 1), (3, 1)], True),
    ],
)
def test_star_forest_predicate(spark, edges, converged):
    df = spark.createDataFrame(edges, "a bigint, b bigint")
    assert _is_star_forest(df) is converged
