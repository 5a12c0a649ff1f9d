"""Connected components over a pair/edge list — dedup-cluster resolution.

Near-duplicate detection (MinHash q28, embedding-LSH q46, winnowing
containment q51) emits PAIRS; a training-data pipeline needs CLUSTERS —
"keep one canonical doc per component" is a connected-components problem
(A~B and B~C must collapse to one cluster even though A~C was never
emitted as a pair).

Two algorithms, same output contract:

- ``connected_components`` — iterative minimum-label propagation.  Every
  node starts labeled with itself; each round, a node adopts the smallest
  label among itself and its neighbors; converged when no label changes.
  Each round is one shuffle (join on the edge endpoint + min-aggregate) —
  the classic Pregel-style iteration expressed with DataFrames.  Rounds
  needed = graph diameter; dedup-cluster graphs are near-cliques
  (diameter 2-3), so 3-4 rounds close them.
- ``connected_components_star`` — the large-star/small-star alternation
  (Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC
  2014): each round rewires every node toward its neighborhood minimum,
  provably converging in O(log n) rounds regardless of diameter.  Use it
  when components may be CHAIN-shaped (adversarial near-dup graphs,
  transitive containment chains) — a 1000-node path closes in ~10 rounds
  where label propagation needs ~1000.

Both loops do scalar-only driver actions (no row data reaches the
driver), truncate lineage per round with an EAGER ``localCheckpoint`` —
the convergence probe then scans the materialized round result instead of
recomputing the join a second time — and RAISE if ``max_iter`` rounds
pass without convergence instead of returning silently-wrong labels.
The probes differ: label propagation stops at the first round in which
no label changed, which it reads off the round's own aggregate; the star
loop stops at the first round whose output is already a star forest (one
grouped aggregate on the node), so it never pays a round that only
confirms the fixed point.

At 100 TB scale each round shuffles on node id; star rounds additionally
shrink the edge set monotonically toward star graphs, so late rounds are
cheap.  Each star half-round takes its neighbourhood minimum with a
window partitioned by node (one shuffle) instead of an aggregate joined
back to the edges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


class ConvergenceError(RuntimeError):
    """Raised when an iterative algorithm hits max_iter unconverged —
    returning partial labels would silently split clusters."""


def _symmetric_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    return (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
    )


def connected_components(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
) -> DataFrame:
    """``(node, component_id)`` for every node appearing in ``edges``;
    ``component_id`` is the smallest node id in the component (a stable,
    deterministic canonical id).  Edges are treated as undirected.

    Raises :class:`ConvergenceError` after ``max_iter`` rounds — label
    propagation needs diameter-many rounds, so a raise here usually means
    the graph is chain-shaped: use :func:`connected_components_star`.
    """
    sym = _symmetric_edges(edges, src, dst).localCheckpoint(eager=False)
    labels = sym.select(F.col("a").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    label_type = labels.schema["label"].dataType
    for _ in range(max_iter):
        # neighbor labels: for each node, the labels its neighbors carry.
        neighbor = (
            sym.join(labels, sym["b"] == labels["node"])
            .select(
                F.col("a").alias("node"),
                "label",
                F.lit(None).cast(label_type).alias("old"),
            )
        )
        # The node's own row carries its previous label through the
        # aggregate, so convergence is read off the SAME shuffled frame —
        # no second join-and-count job per round.
        own = labels.select("node", "label", F.col("label").alias("old"))
        new_labels = (
            own.union(neighbor)
            .groupBy("node")
            .agg(
                F.min("label").alias("label"),
                F.max("old").alias("old"),  # exactly one non-null per node
            )
            .select(
                "node", "label", (F.col("label") != F.col("old")).alias("changed")
            )
            # EAGER checkpoint: materializes the round once; the changed
            # probe below scans the stored partitions instead of
            # recomputing the join.
            .localCheckpoint(eager=True)
        )
        any_changed = new_labels.agg(F.max("changed")).first()[0]
        labels = new_labels.select("node", "label")
        if not any_changed:
            return labels.select("node", F.col("label").alias("component_id"))
    raise ConvergenceError(
        f"connected_components did not converge in {max_iter} rounds — "
        "the graph diameter exceeds max_iter; raise max_iter or use "
        "connected_components_star (O(log n) rounds)"
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of each node to the node's
    neighborhood minimum (including itself).  Large-star reads the FULL
    neighborhood, so the (directed) small-star output is re-symmetrized
    here each round — without this the edge set collapses to empty after
    one alternation and every node labels itself.  No ``distinct``: the
    minimum ignores duplicate edges, and the round ends with one."""
    sym = edges.union(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
    mn = F.least(F.col("a"), F.min("b").over(Window.partitionBy("a")))
    return (
        sym.select("a", "b", mn.alias("m"))
        .filter(F.col("b") > F.col("a"))
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient each edge toward its larger endpoint, then connect all
    smaller-or-equal neighbors (and the node itself) to the minimum.
    Every output edge points from a larger child ``a`` to a smaller
    centre ``b``."""
    oriented = edges.filter(F.col("a") != F.col("b")).select(
        F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
    )
    mn = F.min("b").over(Window.partitionBy("a"))
    return (
        oriented.select("a", "b", mn.alias("m"))
        .select(F.explode(F.array("a", "b")).alias("a"), F.col("m").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def _is_star_forest(edges: DataFrame) -> bool:
    """True when the directed ``(a, b)`` edge set is a star forest: every
    child ``a`` has exactly one centre ``b``, and no centre is also a
    child.  One grouped aggregate on the node (each edge counts once as
    its child's row and once as its centre's row); ``edges`` must be
    distinct.  An empty edge set is a (trivial) star forest."""
    roles = edges.select(
        F.explode(
            F.array(
                F.struct(F.col("a").alias("node"), F.lit(1).alias("child")),
                F.struct(F.col("b").alias("node"), F.lit(0).alias("child")),
            )
        ).alias("r")
    )
    per_node = roles.groupBy(F.col("r.node")).agg(
        F.sum("r.child").alias("n_centres"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    not_star = (F.col("n_centres") > 1) | (
        (F.col("n_centres") == 1) & (F.col("n_rows") > 1)
    )
    return not per_node.agg(F.max(not_star)).first()[0]


def connected_components_star(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
) -> DataFrame:
    """``(node, component_id)`` via large-star/small-star alternation —
    O(log n) rounds on ANY graph shape, so chain-shaped dup graphs (where
    min-label propagation needs diameter rounds) close fast.

    Each half-round takes its neighbourhood minimum with one window
    (``min(b) OVER (PARTITION BY a)``), and each round ends with one
    ``distinct``.  Convergence: the loop stops at the first round whose
    eagerly checkpointed output is a star forest (:func:`_is_star_forest`,
    one scalar aggregate).  Both half-rounds preserve connectivity and
    orient every output edge from a larger child to a smaller centre, so
    a star forest IS the labelling: each star is one component and its
    centre the component minimum.  No confirming round is needed."""
    # pinned once: round 1 and the final labelling both read the input
    pinned = edges.select(
        F.col(src).alias("a"), F.col(dst).alias("b")
    ).localCheckpoint(eager=False)
    cur = pinned
    for _ in range(max_iter):
        cur = _small_star(_large_star(cur)).localCheckpoint(eager=True)
        if _is_star_forest(cur):
            # every node is a candidate label for itself; a child's centre
            # is smaller than the child, so the minimum picks it, while
            # centres and self-loop-only nodes keep their own id
            own = pinned.select(F.explode(F.array("a", "b")).alias("node"))
            return (
                own.select("node", F.col("node").alias("label"))
                .union(cur.select("a", "b"))
                .groupBy("node")
                .agg(F.min("label").alias("component_id"))
            )
    raise ConvergenceError(
        f"connected_components_star did not converge in {max_iter} rounds "
        "(theoretical bound is O(log n) — check for pathological edge input)"
    )


def dedup_clusters(
    pairs: DataFrame,
    *,
    left: str = "doc_a",
    right: str = "doc_b",
    algorithm: str = "label_propagation",
) -> DataFrame:
    """Cluster roll-up of a near-dup pair list: one row per member,
    ``(doc_id, canonical_id, cluster_size)`` with ``canonical_id`` =
    min member (the keep-this-one policy exact dedup q27 already uses).
    ``cluster_size`` is a ``count(*) OVER (PARTITION BY component_id)``
    window, so a caller that never reads it (keep/drop by
    ``canonical_id``) pays nothing for it: column pruning drops the
    window from the plan.

    ``algorithm='star'`` switches to large-star/small-star for graphs
    that may contain long chains."""
    cc = (
        connected_components_star
        if algorithm == "star"
        else connected_components
    )
    comp = cc(pairs, src=left, dst=right)
    return comp.select(
        F.col("node").alias("doc_id"),
        F.col("component_id").alias("canonical_id"),
        F.count(F.lit(1))
        .over(Window.partitionBy("component_id"))
        .alias("cluster_size"),
    )
