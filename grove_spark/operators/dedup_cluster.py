"""Near-duplicate CLUSTERING: from pairwise matches to canonical docs.

Pair detection (dedup_fuzzy) finds edges; a real training-data dedup
keeps ONE document per connected component of the near-dup graph. This
is iterative min-label propagation (the standard large-scale connected
components — HashToMin / alternating-star family):

    label(v) <- min(label(v), min over neighbours u of label(u))

repeated until fixpoint. Each round is ONE shuffle (join edges to labels
+ groupBy min); rounds needed = O(log(diameter)) with the star-contract
step, O(diameter) in the plain form used here. Near-dup graphs are
overwhelmingly tiny stars (a doc and its copies), so the loop converges
in 2-3 rounds in practice; ``max_iter`` bounds adversarial chains.

Scale notes: labels are (node, bigint) — two narrow columns, shuffled on
node. ``localCheckpoint`` every few rounds truncates the lineage so the
plan does not grow with iterations (the classic iterative-algorithm trap
on Spark). Convergence is detected with one count per round on the rows
that changed — cheap, map-side-pruned.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from grove_spark.session import local_frame


def connected_components(
    pairs: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    max_iter: int = 20,
    checkpoint_every: int = 3,
    small_graph_max_edges: int = 200_000,
) -> DataFrame:
    """Connected components of the undirected pair graph.

    Returns (node, component) where component = MIN node id reachable —
    deterministic canonical labels. Input ids must be orderable (any
    type with a total order; min() defines the canonical doc). A pair
    with a null id contributes no edge, on either path below.

    Small graphs (r6): when the distinct edge list fits under
    ``small_graph_max_edges`` (200k — a bounded driver frame even at a
    larger driver scale factor) and ids are int/string, the components
    are computed driver-side with union-find — identical labels
    (Python int order and str order both match Spark's; UTF-8 byte
    order preserves code points) for 2-3 Spark jobs instead of
    3-4 per propagation round. Near-dup graphs at gate scale are tiny;
    the distributed loop remains the path for anything bigger (pass
    ``small_graph_max_edges=0`` to force it). One documented behavior
    difference: union-find is exact regardless of graph diameter, so a
    chain longer than ``max_iter`` returns correct labels here where
    the distributed path raises its non-convergence error.
    """
    edges = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .union(pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
        # a null id is no document: its pairs are not edges (the
        # propagation join could never match a null dst anyway, but a
        # null src would bridge every component it touches, and
        # union-find cannot order None against ids)
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
        # materialize ONCE: the edge list is re-joined every round, and
        # its lineage is the whole pair-generation pipeline (shingle
        # explode + self-join) — recomputing THAT per iteration would
        # dominate everything at scale
        .localCheckpoint(eager=True)
    )
    from pyspark.sql import types as T

    ndt = pairs.schema[a_col].dataType
    if (
        small_graph_max_edges
        and isinstance(
            ndt,
            (T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.StringType),
        )
        # edges holds both directions: 2 rows per undirected pair
        and edges.count() <= 2 * small_graph_max_edges
    ):
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for row in edges.collect():
            s, d = row[0], row[1]
            if s not in parent:
                parent[s] = s
            if d not in parent:
                parent[d] = d
            rs, rd = find(s), find(d)
            if rs != rd:
                parent[rd] = rs
        comp_min: dict = {}
        for node in parent:
            r = find(node)
            m = comp_min.get(r)
            if m is None or node < m:
                comp_min[r] = node
        rows = [(n, comp_min[find(n)]) for n in parent]
        schema = T.StructType(
            [T.StructField("node", ndt), T.StructField("component", ndt)]
        )
        return local_frame(pairs.sparkSession, rows, schema)
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )
    changed = 1
    for i in range(max_iter):
        # candidate label per node: min of own and all neighbours' labels
        neigh = (
            edges.join(labels.withColumnRenamed("node", "dst"), "dst")
            .select(F.col("src").alias("node"), "component")
        )
        new_labels = (
            labels.unionByName(neigh)
            .groupBy("node")
            .agg(F.min("component").alias("component"))
        )
        if (i + 1) % checkpoint_every == 0:
            new_labels = new_labels.localCheckpoint(eager=True)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .where(F.col("n.component") != F.col("o.component"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    if changed != 0:
        # one-hop propagation needs O(diameter) rounds: a chain longer
        # than max_iter would otherwise return silently WRONG labels and
        # dedup_clusters would pick wrong keepers. Fail loudly instead.
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(graph diameter exceeds max_iter); raise max_iter"
        )
    return labels


def dedup_clusters(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "a",
    b_col: str = "b",
) -> DataFrame:
    """Cluster near-dup pairs and mark the keeper per cluster.

    Returns (doc_id, cluster, is_keeper): every doc in ``docs`` appears;
    docs in no pair form their own singleton cluster; the keeper is the
    MIN doc_id of its component (deterministic canonicalization — the
    usual keep-first rule of training-data dedup)."""
    comp = connected_components(pairs, a_col, b_col)
    out = docs.select(F.col(id_col)).join(
        comp.withColumnRenamed("node", id_col), id_col, "left"
    )
    cluster = F.coalesce(F.col("component"), F.col(id_col))
    return out.select(
        id_col,
        cluster.alias("cluster"),
        (cluster == F.col(id_col)).alias("is_keeper"),
    )
