"""F11 — transitive clustering: connected components via large-star/small-star.

The alternating star algorithm (Kiveris et al., "Connected Components in
MapReduce and Beyond", SoCC'14) expressed as DataFrame self-joins/aggregations:

  large-star(u): m = min(N(u) ∪ {u});  ∀v ∈ N(u), v > u:  emit (v, m)
  small-star(u): over N≤(u) = {v ∈ N(u): v < u}: m = min(N≤(u) ∪ {u});
                 emit (v, m) ∀v ∈ N≤(u) ∪ {u}, v ≠ m

Alternating the two converges to a forest of depth-1 stars rooted at each
component's minimum node in O(log n) rounds — the component id is therefore
deterministically min(email), matching clusters_golden (FIXTURES.md §4).

Scale notes:
  * every round is one shuffle (groupBy node) + one broadcast-free join;
  * lineage is cut per round with localCheckpoint — without it the plan
    doubles each iteration and Catalyst analysis time explodes;
  * convergence is detected by an order-insensitive (count, hash-sum)
    signature of the edge set — one cheap aggregate instead of exceptAll;
  * an explicit max_iterations guard mirrors the reference's recursion guard
    discipline (MAX_RECURSION_DEPTH, nom_parser.rs:9).
"""

from __future__ import annotations

from typing import Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType


def _signature(edges: DataFrame) -> Tuple[int, int]:
    # bit_xor: order-insensitive and overflow-free under ANSI mode (edge set is
    # distinct, so xor-cancellation of duplicates cannot occur)
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def _large_star(edges: DataFrame) -> DataFrame:
    sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = sym.groupBy("u").agg(F.min("v").alias("_min_nbr"))
    return (
        sym.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(
            F.col("v").alias("u"),
            F.least(F.col("_min_nbr"), F.col("u")).alias("v"),
        )
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    # orient every edge large→small: (u, v) with v < u
    oriented = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).where(F.col("u") != F.col("v"))
    mins = oriented.groupBy("u").agg(F.min("v").alias("_m"))
    relink = (
        oriented.join(mins, "u")
        .select(F.col("v").alias("u"), F.col("_m").alias("v"))
    )
    self_edge = mins.select(F.col("u"), F.col("_m").alias("v"))
    return relink.union(self_edge).where(F.col("u") != F.col("v")).distinct()


# Below this many (distinct, checkpointed) edges the component structure is
# solved on the driver instead of with the iterative loop. One star round is
# 2 shuffles + a barrier of pure orchestration at any size, and convergence
# needs several rounds. The bound is MEASURED, not argued
# (BENCH/BASELINE.md, "Adaptive connected components": avg-degree-2 random
# graphs — giant component + fringe, the adversarial shape for both paths):
# the driver path wins at every size up to 2^22 edges (best-of-2, 32 cores:
# 2.5 s vs 12.3 s at 2^18, 35.4 s vs 47.4 s at 2^22, ratio falling
# 4.95→1.34), with the slope projecting crossover at ~8-16M edges. 2^22
# keeps a measured ≥1.3× margin; on a real cluster the collect of ~2^22
# string edges (~200 MB) adds a network transfer a single-JVM box doesn't
# pay, which that margin covers.
# Same adaptive-threshold thinking as Spark's broadcast joins: the graphs
# that reach CC after collapse/quotient contraction are proportional to
# rep-level fuzzy matches (batch-sized on the incremental path), not to the
# corpus, so at 10^12 turns most invocations stay under the bound; a
# genuinely huge edge set takes the distributed loop unchanged. Both paths
# produce byte-identical labels (component min email).
LOCAL_EDGE_THRESHOLD = 1 << 22


def _local_components(edges: DataFrame) -> DataFrame:
    """Exact union-find on the collected edge set; root = component min,
    maintained by always attaching the larger root under the smaller (so the
    tree root is the minimum member by induction, and path compression keeps
    lookups near-O(1)).

    The labels go back as a pandas frame: under the session's Arrow setting
    `createDataFrame` plans it as a LocalRelation, which every read scans in
    the JVM. A list of rows would plan a pickled Python RDD instead, and
    each of the caller's reads would start Python workers again. Its schema
    takes the edges' own `u`/`v` types, so integer node ids (the dedup
    callers) come back as the same integers the other paths return."""
    pdf = edges.toPandas()
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    for u, v in zip(pdf["u"], pdf["v"]):
        ru, rv = find(u), find(v)
        if ru != rv:
            if rv < ru:
                ru, rv = rv, ru
            parent[rv] = ru
    nodes = list(set(pdf["u"]).union(pdf["v"]))
    labels = pd.DataFrame({"email": nodes, "cluster_id": [find(n) for n in nodes]})
    schema = StructType(
        [
            StructField("email", edges.schema["u"].dataType),
            StructField("cluster_id", edges.schema["v"].dataType),
        ]
    )
    return edges.sparkSession.createDataFrame(labels, schema)


def connected_components(
    edges: DataFrame,
    max_iterations: int = 25,
    local_threshold: int = LOCAL_EDGE_THRESHOLD,
) -> DataFrame:
    """edges(src, dst) → assignments(email, cluster_id = min node of component).

    Nodes with no surviving edge are the caller's responsibility (a mention
    that matched nothing is its own cluster — see pipeline.cluster_mentions).

    Int-surrogate loop (round-2 VERDICT item 6): the iterations shuffle
    dense int64 node ids, not email strings — at 10^12-turn scale the loop
    re-shuffles its edge set ~2× per round, so the per-row payload is the
    dominant byte cost. Surrogates come from monotonically_increasing_id on
    the distinct node set (collision-free by construction — no hash-collision
    audit needed), frozen with localCheckpoint because mono ids are not
    stable across recomputation. The cluster-id contract (min EMAIL of the
    component) survives the arbitrary int order: any total order converges
    to one root per component, and a single post-loop aggregate re-labels
    each component with min(email) — so callers and the DuckDB oracle see
    byte-identical output."""
    cur = (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    prev_sig = _signature(cur)
    if prev_sig[0] == 0:
        # empty graph (the common case on the collapsed path, where exact
        # variants become star edges and rep↔rep fuzzy matches are rare):
        # skip the iteration barriers entirely
        return cur.select(F.col("u").alias("email"), F.col("v").alias("cluster_id"))
    if prev_sig[0] <= local_threshold:
        # the signature already paid for the exact edge count — below the
        # bound, solving on the driver replaces ~4-12 shuffle barriers with
        # one collect (see LOCAL_EDGE_THRESHOLD for the scale rationale)
        return _local_components(cur)

    nodes = cur.select(
        F.explode(F.array(F.col("u"), F.col("v"))).alias("email")
    ).distinct()
    mapping = nodes.withColumn(
        "_nid", F.monotonically_increasing_id()
    ).localCheckpoint()
    cur = (
        cur.join(
            mapping.select(F.col("email").alias("u"), F.col("_nid").alias("_u")),
            "u",
        )
        .join(
            mapping.select(F.col("email").alias("v"), F.col("_nid").alias("_v")),
            "v",
        )
        .select(F.col("_u").alias("u"), F.col("_v").alias("v"))
        .localCheckpoint()
    )
    prev_sig = _signature(cur)
    for _ in range(max_iterations):
        cur = _small_star(_large_star(cur)).localCheckpoint()
        sig = _signature(cur)
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} iterations"
        )

    # converged: every edge is (node, root); roots map to themselves; the
    # component label becomes min(email) via one aggregate + broadcast-able
    # join on the (small) per-component root table
    assignments = cur.select(F.col("u").alias("_nid"), F.col("v").alias("_root"))
    roots = cur.select(
        F.col("v").alias("_nid"), F.col("v").alias("_root")
    ).distinct()
    with_email = (
        assignments.union(roots)
        .distinct()
        .join(mapping, "_nid")
        .select("email", "_root")
    )
    root_min = with_email.groupBy("_root").agg(F.min("email").alias("cluster_id"))
    return with_email.join(root_min, "_root").select("email", "cluster_id")
