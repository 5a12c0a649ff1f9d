"""Production IVF index: k-means-trained coarse quantizer + probed search.

q48 demonstrates the IVF *search* shape with a fixed quantizer (so the
DuckDB oracle can re-derive the index); this module is the production
path: train the quantizer with Lloyd's k-means expressed as DataFrame
ops, build the inverted cell assignment, search with nprobe cells.

Scale shape (the part that matters at 100 TB):
- Each Lloyd iteration is ONE map-side assignment (corpus x broadcast
  centroids — no shuffle of the corpus) followed by ONE hash aggregate
  (mean per cell, map-side partial sums).  Centroids move to the driver
  between rounds — k x dim doubles, metadata-sized, exactly what every
  distributed k-means does.
- Initialization is deterministic (first k distinct vectors in vec_id
  order), so index builds are reproducible run to run.
- Search: queries probe their ``n_probe`` nearest cells; per-query work
  is ~``n_probe/k`` of the corpus.  The candidate join shuffles on the
  cell id only.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _sq_dist(a, b):  # squared L2 between two array<double> columns
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def train_kmeans(
    vecs: DataFrame,
    *,
    k: int = 8,
    n_iter: int = 5,
    id_col: str = "vec_id",
    emb_col: str = "emb",
) -> list[tuple[int, list[float]]]:
    """Lloyd's k-means over ``(id_col, emb_col array<double>)``; returns
    ``[(cell_id, centroid)]``.  Deterministic: seeded farthest-first over
    a bounded HASH-ordered sample — ``xxhash64(id)`` ordering is a
    deterministic uniform draw over the whole table, where head sampling
    (``orderBy(id).limit``) trains the quantizer on table-prefix locality
    (round-3 verdict item 4); ties in assignment break toward the lower
    cell.  Empty cells keep their previous centroid (standard Lloyd fix).
    k-means|| is the same idea run distributed when even the seed sample
    is too big for the driver.

    Raises ``ValueError`` on an empty input frame or when the seed
    sample holds fewer than ``k`` distinct vectors (farthest-first would
    silently duplicate centroids)."""
    sample = [
        list(r[emb_col])
        for r in vecs.select(emb_col, F.xxhash64(id_col).alias("__h"))
        .orderBy("__h")
        .limit(max(256, 4 * k))
        .collect()
    ]
    centroids = farthest_first_seeds(sample, k)
    return list(
        enumerate(_lloyd(vecs, centroids, n_iter, id_col=id_col, emb_col=emb_col))
    )


def farthest_first_seeds(
    sample: list[list[float]], k: int
) -> list[list[float]]:
    """Deterministic farthest-first seeding over an ordered sample
    (shared by :func:`train_kmeans` and the batched PQ trainer).
    Raises on an empty sample or fewer than ``k`` distinct vectors."""
    if not sample:
        raise ValueError(
            f"input frame has no rows (need >= k={k} distinct vectors)"
        )
    seen: set[tuple] = set()
    uniq: list[list[float]] = []
    for v in sample:  # order-preserving dedupe keeps seeding deterministic
        tv = tuple(v)
        if tv not in seen:
            seen.add(tv)
            uniq.append(v)
    if len(uniq) < k:
        raise ValueError(
            f"seed sample holds only {len(uniq)} distinct "
            f"vectors but k={k} — farthest-first seeding would duplicate centroids; "
            "reduce k or provide more distinct vectors"
        )

    def _d2(a: list[float], b: list[float]) -> float:
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    centroids = [uniq[0]]
    while len(centroids) < k:
        centroids.append(
            max(uniq, key=lambda v: min(_d2(v, c) for c in centroids))
        )
    return centroids


def _lloyd(
    vecs: DataFrame,
    centroids: list[list[float]],
    n_iter: int,
    *,
    id_col: str,
    emb_col: str,
) -> list[list[float]]:
    """Distributed Lloyd iterations: each round is one map-side
    assignment (broadcast centroids, no corpus shuffle) + one hash
    aggregate (mean per cell, map-side partials); only k centroid sums
    cross to the driver.  Empty cells keep their previous centroid."""
    for _ in range(n_iter):
        cent_df = F.broadcast(
            vecs.sparkSession.createDataFrame(
                [(i, c) for i, c in enumerate(centroids)],
                "cell int, cemb array<double>",
            )
        )
        dist = _sq_dist(F.col(emb_col), F.col("cemb"))
        w = Window.partitionBy(id_col).orderBy("dist", "cell")
        assigned = (
            vecs.crossJoin(cent_df)
            .select(id_col, emb_col, "cell", dist.alias("dist"))
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
        )
        dim = len(centroids[0])
        sums = assigned.groupBy("cell").agg(
            F.count(F.lit(1)).alias("n"),
            *[
                F.sum(F.element_at(F.col(emb_col), i + 1)).alias(f"s{i}")
                for i in range(dim)
            ],
        )
        new = {
            r["cell"]: [r[f"s{i}"] / r["n"] for i in range(dim)]
            for r in sums.collect()
        }
        centroids = [new.get(i, centroids[i]) for i in range(len(centroids))]
    return centroids


def lloyd_multi(
    sub_long: DataFrame,
    seeds: list[list[list[float]]],
    n_iter: int,
    *,
    id_col: str,
) -> list[list[list[float]]]:
    """Lloyd iterations for SEVERAL independent k-means problems in ONE
    Spark job per round (round 13 — the PQ trainer ran one k-means per
    subspace, m×n_iter serial actions for work that is embarrassingly
    parallel across subspaces).  ``sub_long`` is ``(id_col, mi, sv)``
    — one row per (vector, problem); ``seeds[mi]`` the per-problem
    initial centroids (equal lengths).  Per round: one broadcast of all
    problems' centroids, one assignment window keyed (id, mi), one hash
    aggregate grouped (mi, cell); only m×k centroid sums reach the
    driver.  Empty cells keep their previous centroid."""
    spark = sub_long.sparkSession
    dsub = len(seeds[0][0])
    cents = [list(s) for s in seeds]
    for _ in range(n_iter):
        cent_df = F.broadcast(
            spark.createDataFrame(
                [
                    (mi, ci, c)
                    for mi, book in enumerate(cents)
                    for ci, c in enumerate(book)
                ],
                "mi int, cell int, cemb array<double>",
            )
        )
        dist = _sq_dist(F.col("sv"), F.col("cemb"))
        w = Window.partitionBy(id_col, "mi").orderBy("dist", "cell")
        assigned = (
            sub_long.join(cent_df, "mi")
            .select(id_col, "mi", "sv", dist.alias("dist"), "cell")
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
        )
        sums = assigned.groupBy("mi", "cell").agg(
            F.count(F.lit(1)).alias("n"),
            *[
                F.sum(F.element_at(F.col("sv"), i + 1)).alias(f"s{i}")
                for i in range(dsub)
            ],
        )
        new = {
            (r["mi"], r["cell"]): [r[f"s{i}"] / r["n"] for i in range(dsub)]
            for r in sums.collect()
        }
        cents = [
            [
                new.get((mi, ci), cents[mi][ci])
                for ci in range(len(cents[mi]))
            ]
            for mi in range(len(cents))
        ]
    return cents


def train_kmeans_parallel(
    vecs: DataFrame,
    *,
    k: int = 8,
    l: int | None = None,
    seed_rounds: int = 5,
    n_iter: int = 5,
    id_col: str = "vec_id",
    emb_col: str = "emb",
) -> list[tuple[int, list[float]]]:
    """k-means|| (Bahmani et al., VLDB'12): the fully-distributed seeding
    path promised by :func:`train_kmeans`'s docstring — NO raw-vector
    sample ever reaches the driver, so it holds when even ``4k`` vectors
    are too big (huge ``k``, huge ``dim``, or both).

    Per seeding round, every point is sampled independently with
    probability ``l * d²(x, C) / cost(C)`` — an oversampling that lands
    ~``l`` new candidates per round near data the current seeds cover
    badly.  Everything distributed is map-side: the candidate set is
    broadcast as a plan literal, the cost is one scalar aggregate, and
    the per-round candidate pull is ~``l`` rows.  The O(k log n)
    candidates are then weighted by the corpus mass they attract (one
    aggregate) and reduced to ``k`` centers driver-side (weighted
    farthest-first + weighted Lloyd over candidates only), followed by
    the same distributed Lloyd refinement as :func:`train_kmeans`.

    Deterministic end to end: the per-point coin flip is
    ``xxhash64(round, id) / 2^20`` instead of ``rand()``, so index builds
    replay bit-identically — same property the rest of the engine's
    sampling relies on (q54's hash-bucket strata).
    """
    l = l or 2 * k
    emb = F.col(emb_col)

    def _min_d2_lit(centers: list[list[float]]):
        arr = F.array(
            *[F.array(*[F.lit(float(x)) for x in c]) for c in centers]
        )
        return F.aggregate(
            arr,
            F.lit(float("inf")),
            lambda acc, c: F.least(acc, _sq_dist(emb, c)),
        )

    first = (
        vecs.select(emb_col, F.xxhash64(F.col(id_col)).alias("__h"))
        .orderBy("__h")
        .limit(1)
        .collect()
    )
    if not first:
        raise ValueError("train_kmeans_parallel: input frame has no rows")
    candidates: list[list[float]] = [list(first[0][emb_col])]
    seen = {tuple(candidates[0])}
    for r in range(seed_rounds):
        min_d2 = _min_d2_lit(candidates)
        cost = vecs.select(F.sum(min_d2)).collect()[0][0]
        if not cost:  # every point coincides with a candidate
            break
        coin = (
            F.pmod(
                F.xxhash64(F.lit(r + 1), F.col(id_col)), F.lit(1 << 20)
            ).cast("double")
            / float(1 << 20)
        )
        sampled = (
            vecs.filter(coin < F.lit(float(l)) * min_d2 / F.lit(float(cost)))
            .select(emb_col, F.xxhash64(F.col(id_col)).alias("__h"))
            .orderBy("__h")  # deterministic cap order
            .limit(8 * l)
            .collect()
        )
        for row in sampled:
            tv = tuple(row[emb_col])
            if tv not in seen:
                seen.add(tv)
                candidates.append(list(tv))
    if len(candidates) < k:
        raise ValueError(
            f"train_kmeans_parallel: only {len(candidates)} distinct "
            f"candidates after {seed_rounds} rounds but k={k} — the data "
            "has fewer distinct vectors than k, or raise l/seed_rounds"
        )

    # weight candidates by attracted corpus mass: one broadcast
    # assignment + one count aggregate; <= |candidates| rows collect
    cand_df = F.broadcast(
        vecs.sparkSession.createDataFrame(
            [(i, c) for i, c in enumerate(candidates)],
            "cand int, cemb array<double>",
        )
    )
    w = Window.partitionBy(id_col).orderBy("d", "cand")
    weights_rows = (
        vecs.crossJoin(cand_df)
        .select(id_col, "cand", _sq_dist(emb, F.col("cemb")).alias("d"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .groupBy("cand")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    weights = [0.0] * len(candidates)
    for row in weights_rows:
        weights[row["cand"]] = float(row["n"])

    def _d2(a: list[float], b: list[float]) -> float:
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    # driver-side weighted reduction over the SMALL candidate set:
    # weighted farthest-first seeding, then weighted Lloyd
    centers = [candidates[max(range(len(candidates)), key=lambda i: weights[i])]]
    while len(centers) < k:
        centers.append(
            candidates[
                max(
                    range(len(candidates)),
                    key=lambda i: weights[i]
                    * min(_d2(candidates[i], c) for c in centers),
                )
            ]
        )
    for _ in range(20):
        groups: list[list[int]] = [[] for _ in range(k)]
        for i, cand in enumerate(candidates):
            j = min(range(k), key=lambda j: (_d2(cand, centers[j]), j))
            groups[j].append(i)
        moved = False
        for j, members in enumerate(groups):
            tot = sum(weights[i] for i in members)
            if not tot:
                continue
            mean = [
                sum(weights[i] * candidates[i][d] for i in members) / tot
                for d in range(len(centers[j]))
            ]
            if mean != centers[j]:
                centers[j], moved = mean, True
        if not moved:
            break

    return list(
        enumerate(_lloyd(vecs, centers, n_iter, id_col=id_col, emb_col=emb_col))
    )


def build_ivf(
    vecs: DataFrame,
    centroids: list[tuple[int, list[float]]],
    *,
    id_col: str = "vec_id",
    emb_col: str = "emb",
) -> DataFrame:
    """Inverted-file assignment: ``(id_col, emb, cell)`` — every vector
    labeled with its nearest trained cell (map-side, broadcast centroids)."""
    cent_df = F.broadcast(
        vecs.sparkSession.createDataFrame(
            centroids, "cell int, cemb array<double>"
        )
    )
    dist = _sq_dist(F.col(emb_col), F.col("cemb"))
    w = Window.partitionBy(id_col).orderBy("dist", "cell")
    return (
        vecs.crossJoin(cent_df)
        .select(id_col, emb_col, "cell", dist.alias("dist"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .drop("rk", "dist")
    )


def ivf_search(
    index: DataFrame,
    queries: DataFrame,
    centroids: list[tuple[int, list[float]]],
    *,
    top_k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    emb_col: str = "emb",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Probed ANN search: each query scans its ``n_probe`` nearest cells
    only; exact squared-L2 ranking within them.  Returns
    ``(query_id, neighbor_id, rank)``."""
    spark = index.sparkSession
    cent_df = F.broadcast(
        spark.createDataFrame(centroids, "cell int, cemb array<double>")
    )
    qdist = _sq_dist(F.col("qemb"), F.col("cemb"))
    wq = Window.partitionBy(query_id_col).orderBy("qdist", "cell")
    probes = (
        queries.select(
            F.col(query_id_col), F.col(emb_col).alias("qemb")
        )
        .crossJoin(cent_df)
        .select(query_id_col, "qemb", "cell", qdist.alias("qdist"))
        .withColumn("rk", F.row_number().over(wq))
        .filter(F.col("rk") <= n_probe)
        .select(query_id_col, "qemb", "cell")
    )
    sim = _sq_dist(F.col("qemb"), F.col(emb_col))
    wr = Window.partitionBy(query_id_col).orderBy("d", "neighbor_id")
    return (
        index.join(F.broadcast(probes), "cell")
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(query_id_col, F.col(id_col).alias("neighbor_id"), sim.alias("d"))
        .withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= top_k)
        .select(query_id_col, "neighbor_id", "rank")
    )


# --- persisted index: build once, probe many -------------------------------
# The production lifecycle: the corpus-scale work (quantizer training +
# cell assignment) happens ONCE at index-build time and lands on disk as
# a ParquetTable PARTITIONED BY cell; every subsequent query batch reads
# only its probed cells via partition pruning.  At 100 TB that is the
# difference between scanning ~n_probe/k of the index per search and
# rescanning (or re-shuffling) the whole corpus per search.
_ASSIGN_DIR = "assignments"
_CENT_DIR = "centroids"


def save_ivf_index(
    vecs: DataFrame,
    root: str,
    *,
    k: int = 8,
    n_iter: int = 5,
    id_col: str = "vec_id",
    emb_col: str = "emb",
    parallel_seed: bool = False,
) -> None:
    """Train a quantizer over ``vecs``, assign every vector to its cell,
    and persist both halves under ``root``: the assignment table
    partitioned by ``cell`` (the pruning axis) and the k centroids as a
    metadata-sized sidecar table.  ``parallel_seed`` switches training to
    the k-means|| seeded variant (:func:`train_kmeans_parallel`) for
    corpora where head-of-table seeding would bias the quantizer."""
    from azure_databricks_lakehouse_spark.sources.tables import ParquetTable

    spark = vecs.sparkSession
    trainer = train_kmeans_parallel if parallel_seed else train_kmeans
    centroids = trainer(vecs, k=k, n_iter=n_iter, id_col=id_col, emb_col=emb_col)
    assign = build_ivf(vecs, centroids, id_col=id_col, emb_col=emb_col)
    ParquetTable.create(
        spark,
        os.path.join(root, _ASSIGN_DIR),
        assign.repartition("cell"),
        partition_by=["cell"],
    )
    ParquetTable.create(
        spark,
        os.path.join(root, _CENT_DIR),
        spark.createDataFrame(centroids, "cell int, cemb array<double>"),
    )


def load_ivf_centroids(spark, root: str) -> list[tuple[int, list[float]]]:
    """The quantizer back off disk — k rows, driver-sized by design."""
    from azure_databricks_lakehouse_spark.sources.tables import ParquetTable

    rows = (
        ParquetTable.for_path(spark, os.path.join(root, _CENT_DIR))
        .read()
        .orderBy("cell")
        .collect()
    )
    return [(r["cell"], list(r["cemb"])) for r in rows]


def ivf_search_persisted(
    spark,
    root: str,
    queries: DataFrame,
    *,
    top_k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    emb_col: str = "emb",
    query_id_col: str = "query_id",
) -> DataFrame:
    """ANN search against a :func:`save_ivf_index` index, reading ONLY the
    probed cells' partitions.

    The probed-cell set is collected to the driver first — it is bounded
    by the number of CENTROIDS (≤ k values, the same object already held
    driver-side), never by query or corpus count — and pushed into the
    assignment read as a partition filter, so the parquet scan's
    ``PartitionFilters`` prunes every unprobed cell directory at file
    listing time.  A join-driven alternative (dynamic partition pruning)
    leaves pruning to runtime heuristics; with the cell list this small,
    static pruning is strictly more predictable."""
    from azure_databricks_lakehouse_spark.sources.tables import ParquetTable

    centroids = load_ivf_centroids(spark, root)
    cent_df = F.broadcast(
        spark.createDataFrame(centroids, "cell int, cemb array<double>")
    )
    qdist = _sq_dist(F.col("qemb"), F.col("cemb"))
    wq = Window.partitionBy(query_id_col).orderBy("qdist", "cell")
    probes = (
        queries.select(F.col(query_id_col), F.col(emb_col).alias("qemb"))
        .crossJoin(cent_df)
        .select(query_id_col, "qemb", "cell", qdist.alias("qdist"))
        .withColumn("rk", F.row_number().over(wq))
        .filter(F.col("rk") <= n_probe)
        .select(query_id_col, "qemb", "cell")
        # materialized ONCE: the collected cell list below and the join
        # against the index must come from the SAME evaluation — a
        # nondeterministic queries frame (sample/limit upstream) would
        # otherwise probe cells the partition filter never read,
        # silently losing neighbors (and even deterministic queries
        # would pay the centroid-assign twice)
        .localCheckpoint(eager=True)
    )
    cells = sorted(
        r["cell"] for r in probes.select("cell").distinct().collect()
    )
    index = (
        ParquetTable.for_path(spark, os.path.join(root, _ASSIGN_DIR))
        .read()
        .filter(F.col("cell").isin(cells))
    )
    sim = _sq_dist(F.col("qemb"), F.col(emb_col))
    wr = Window.partitionBy(query_id_col).orderBy("d", "neighbor_id")
    return (
        index.join(F.broadcast(probes), "cell")
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(query_id_col, F.col(id_col).alias("neighbor_id"), sim.alias("d"))
        .withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= top_k)
        .select(query_id_col, "neighbor_id", "rank")
    )
