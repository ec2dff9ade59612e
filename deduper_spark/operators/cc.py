"""Connected components over the verified dup-pair graph.

Generalizes the reference's dupe group (Deduper.kt:225-240): under
exact equality, groups are trivially connected (same hash); under
fuzzy similarity the dup relation is a graph, and a cluster is a
connected component. cluster_id = min member id (union-find label),
which also IS the keep-first survivor (min image_id — the reference's
first-found-row generalized).

Label on the driver whatever fits the budget (local union-find before
the global merge, as in BTS: Load-Balanced Distributed Union-Find,
ICDE 2024):

1. The budget is ``spark.sql.adaptive.advisoryPartitionSizeInBytes``
   (the partition size AQE already aims for; 16 MB in ``get_spark``)
   divided by the edge row width: 1M bigint or 400k string edges.
2. The driver finish. One bounded Arrow collect sizes and fetches the
   input edges together — a single task reads at most budget + 1 rows.
   If they fit, the NumPy min-label union-find (``_min_labels``:
   scatter-min hooking of roots, then pointer jumping) labels every
   endpoint on the driver, and ``spark.createDataFrame`` hands
   (id, cluster_id) back as a local relation of the input's id type.
   No Python worker runs. A ``mapInPandas`` task pays a fixed cost
   whatever its size: ``pyspark.worker_util.setup_spark_files`` calls
   ``importlib.invalidate_caches()``, which re-reads the directory of
   every zip importer on the worker's path (0.12–0.20 s per call on a
   4-core host under Python 3.11, with 16 zip importers). A warm
   400-row identity ``mapInPandas`` took 0.19–0.33 s there against
   0.05–0.08 s for the same query in the JVM, so that cost dominated
   dup graphs of a few thousand edges. The bound keeps the collect
   well below the 64 MB ``autoBroadcastJoinThreshold`` that AQE may
   already collect to the driver for a broadcast.
3. Only an input over budget is contracted in parallel: each
   partition's edge slice runs through the same kernel inside a
   ``mapInPandas``, which turns it into a star forest (every non-root
   node -> its local min root, at most n_p - 1 rows). Clique-ish dup
   families and whole chain segments close there. Then alternating
   large-star/small-star rounds (Kiveris et al., "Connected Components
   in MapReduce and Beyond", SoCC'14 — GraphFrames' default CC), each
   followed by another local contraction, run until the forest fits
   the budget — it then takes the driver finish — or reaches the
   provable star-forest fixpoint. ``max_iter`` bounds the rounds and a
   lost-node assertion checks the fixpoint labels against the input
   endpoints. Each round localCheckpoint()s so the plan does not grow
   superlinearly (SURVEY.md §7 hard part (c)).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType


def _min_labels(src: pd.Series,
                dst: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """Union-find over one edge list: returns (ids, root) where
    ``ids[root[i]]`` is the smallest id connected to ``ids[i]``.

    Nodes are numbered by ``pd.factorize(sort=True)``, so code order
    is id order for bigint and string ids alike and the min code of a
    component is its min id. Each pass hooks every root onto the
    smallest root it shares an edge with (scatter-min; a root only
    ever moves to a smaller code, so no cycles), pointer-jumps every
    node to its root, and drops the edges that closed; every pass
    merges at least one pair of trees, so the loop terminates.
    """
    codes, ids = pd.factorize(pd.concat([src, dst], ignore_index=True),
                              sort=True)
    a, b = codes[:len(src)], codes[len(src):]
    root = np.arange(len(ids))
    while a.size:
        np.minimum.at(root, a, b)
        np.minimum.at(root, b, a)
        while True:
            up = root[root]
            if np.array_equal(up, root):
                break
            root = up
        a, b = root[a], root[b]
        live = a != b
        a, b = a[live], b[live]
    return np.asarray(ids), root


def _frame(batches: Iterator[pd.DataFrame]) -> pd.DataFrame | None:
    parts = [b for b in batches if len(b)]
    return pd.concat(parts, ignore_index=True) if parts else None


def _contract(edges: DataFrame) -> DataFrame:
    """(src, dst) -> per partition, its star forest (node, local min
    root) over the nodes that are not their own root."""

    def forest(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pdf = _frame(batches)
        if pdf is not None:
            ids, root = _min_labels(pdf["src"], pdf["dst"])
            child = root != np.arange(len(ids))
            yield pd.DataFrame({"src": ids[child], "dst": ids[root[child]]})

    return edges.mapInPandas(forest, edges.schema)


def _driver_finish(edges: DataFrame, max_rows: int) -> DataFrame | None:
    """(id, cluster_id) for every endpoint of an edge set of at most
    ``max_rows`` rows, labelled on the driver; None for a larger one.

    One bounded Arrow collect sizes and fetches the edges together: a
    single task reads at most ``max_rows + 1`` of them (a limit over
    one partition needs no exchange). The labels go back as a local
    relation of the input's id type, in one partition: split the
    default way, they would add a task per core to every plan that
    reads them, and a file per core to every sink that writes them."""
    pdf = edges.coalesce(1).limit(max_rows + 1).toPandas()
    if len(pdf) > max_rows:
        return None
    ids, root = _min_labels(pdf["src"], pdf["dst"])
    t = edges.schema["src"].dataType
    schema = StructType([StructField("id", t), StructField("cluster_id", t)])
    return edges.sparkSession.createDataFrame(
        pd.DataFrame({"id": ids, "cluster_id": ids[root]}), schema
    ).coalesce(1)


def _large_star(edges: DataFrame) -> DataFrame:
    """(u,v) -> connect every neighbor LARGER than u to u's minimum.

    For each node u with undirected neighborhood N(u):
    m = min(N(u) ∪ {u}); emit (v, m) for v in N(u), v > u.

    r6: the neighborhood minimum is a window aggregate over src — ONE
    hash Exchange per phase instead of the former groupBy + self-join
    pair (guide §2.4: operations keyed the same way share one
    exchange; the join added a second pass plus build/probe work).
    """
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    m = F.least(F.col("src"),
                F.min("dst").over(Window.partitionBy("src")))
    return (
        sym.withColumn("m", m)
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .where(F.col("src") != F.col("dst"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """(u,v) -> connect every neighbor <= u (and u itself) to the min.

    Operates on edges oriented src > dst; for each src u with smaller
    neighbors S(u): m = min(S(u)); emit (v, m) for v in S(u) ∪ {u}.

    r6: same window-over-src form as _large_star (one Exchange, no
    join); (src, m) is emitted per neighbor row instead of once per
    src — the trailing distinct absorbs the duplicates exactly as it
    absorbed the former union's.
    """
    oriented = edges.select(
        F.greatest("src", "dst").alias("src"),
        F.least("src", "dst").alias("dst"),
    ).where(F.col("src") != F.col("dst"))
    m = F.min("dst").over(Window.partitionBy("src"))
    rewired = (
        oriented.withColumn("m", m)
        .select(
            F.explode(
                F.array(
                    F.struct(F.col("dst").alias("src"),
                             F.col("m").alias("dst")),
                    F.struct(F.col("src").alias("src"),
                             F.col("m").alias("dst")),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    return rewired


def connected_components(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    max_iter: int = 50,
    id_type: str = "string",
    edges_distinct: bool = False,
) -> DataFrame:
    """edges: (id_l, id_r). nodes: (id) incl. singletons (optional).
    Returns (id, cluster_id) for every node in edges ∪ nodes.

    ``edges_distinct=True`` skips the defensive input distinct — every
    in-engine pair generator ends in a groupBy/distinct on (id_l, id_r)
    so the dedup Exchange here would be a pure repeat (r6).
    ``id_type`` is ignored: labels keep the input's id type."""
    e = edges.select(
        F.col("id_l").alias("src"), F.col("id_r").alias("dst")
    ).where(F.col("src") != F.col("dst"))
    if not edges_distinct:
        e = e.distinct()
    spark = edges.sparkSession
    java_utils = spark._jvm.org.apache.spark.network.util.JavaUtils
    budget = java_utils.byteStringAsBytes(
        spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes"))
    max_rows = budget // e._jdf.schema().defaultSize()
    # lazy: the finish's collect materializes it; a contraction after
    # an over-budget collect reads what it cached and computes the rest
    e = e.localCheckpoint(eager=False)
    labels = _driver_finish(e, max_rows)
    if labels is None:
        labels = _star_rounds(e, max_rows, max_iter)
    if nodes is None:
        return labels
    singletons = (
        nodes.select(F.col(nodes.columns[0]).alias("id"))
        .join(labels.select("id"), "id", "left_anti")
        .withColumn("cluster_id", F.col("id"))
    )
    return labels.unionByName(singletons)


def _star_rounds(e0: DataFrame, max_rows: int, max_iter: int) -> DataFrame:
    """Labels of an edge set larger than the budget: contract per
    partition, then star rounds until the forest fits ``max_rows`` or
    is a star forest."""
    e = first = _contract(e0).localCheckpoint(eager=False)
    rounds = 0
    while True:
        # n_src / n_roots ride the same aggregation for the fixpoint
        # test and the label-count assert below
        stats = e.agg(
            F.count("*").alias("n"),
            F.count_distinct("src").alias("n_src"),
            F.count_distinct("dst").alias("n_roots"),
        ).collect()[0]
        if stats["n"] <= max_rows:
            return _driver_finish(e, max_rows)
        # PROVABLE fixpoint test: the contraction and both star phases
        # emit edges oriented src > dst, and the fixpoints of the
        # alternating algorithm are exactly star forests — every child
        # points at its one root, roots never appear as src. So
        # converged iff
        #   (a) each src has exactly one edge (count == distinct srcs)
        #   (b) no src ever appears as dst
        if stats["n"] == stats["n_src"] and e.select("dst").join(
                e.select(F.col("src").alias("dst")), "dst", "left_semi"
        ).limit(1).count() == 0:
            return _star_labels(first, e, stats)
        if rounds == max_iter:
            # silent truncation would split components into WRONG
            # cluster ids and corrupt survivor selection — fail hard
            raise RuntimeError(
                f"connected_components did not converge "
                f"within max_iter={max_iter} rounds"
            )
        e = _contract(_small_star(_large_star(e))).localCheckpoint(
            eager=False)
        rounds += 1


def _star_labels(first: DataFrame, e: DataFrame, stats) -> DataFrame:
    """Labels of the star forest ``e``: children with their root, roots
    with themselves. ``first`` is the input's first local contraction,
    whose endpoints are exactly the input's."""
    roots = e.select(F.col("dst").alias("id")).distinct()
    labels = (
        e.select(F.col("src").alias("id"), F.col("dst").alias("cluster_id"))
        .unionByName(roots.withColumn("cluster_id", F.col("id")))
    )
    # rounds never drop a connected node (every rewiring target is an
    # existing node id, so endpoints(e) ⊆ endpoints(first)); ASSERT that
    # against one count aggregation over first. At the fixpoint srcs
    # are unique and disjoint from dsts, so |labels| = n + n_roots.
    n_labeled = stats["n"] + stats["n_roots"]
    n_orig = (
        first.select(F.col("src").alias("id"))
        .unionByName(first.select(F.col("dst").alias("id")))
        .agg(F.count_distinct("id").alias("n")).collect()[0]["n"]
    )
    if n_labeled != n_orig:
        raise RuntimeError(
            f"connected_components lost nodes during contraction: "
            f"{n_orig} edge endpoints, {n_labeled} labeled"
        )
    return labels
