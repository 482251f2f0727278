"""G53 — meta-blocking: block purging + CBS edge weighting + weighted node
pruning (WNP) over a token-blocking graph.

The literature operator (Papadakis et al., "Meta-Blocking: Taking Entity
Resolution to the Next Level", TKDE 2014) that sits BETWEEN block building
and pairwise scoring at web scale: instead of scoring every pair a block
scheme emits, build the *blocking graph* — nodes are entities, an edge joins
two entities that co-occur in at least one block, the edge weight counts the
evidence — and prune the edges whose weight says the co-occurrence is noise.
At 10^12 turns this is the difference between a candidate set sized by the
block scheme's worst key and one sized by the evidence distribution.

Spark-first shape (every step a hash shuffle on a high-cardinality key):

1. token blocking — each distinct email emits block keys:
     ``L:`` dotless local (the identity-bearing token),
     ``D:`` canonical domain,
     ``G:<gram>`` every distinct character 3-gram of the dotless local
   via one ``explode`` (no UDF: ``sequence`` + ``transform`` build the gram
   array in codegen);
2. block purging — keys whose entity count exceeds ``max_block`` are dropped
   WHOLE (the classic stop-word move: a block key shared by half the corpus
   carries no signal, only quadratic cost — at sf0.01 this removes the
   ``D:`` segment domains and the shared ``G:cus`` prefix grams);
3. CBS weights — surviving blocks self-join on the key (``email_a <
   email_b``), one groupBy counts common blocks per pair (Common Blocks
   Scheme). Purging bounds the join fan-out to ``max_block²/2`` per key;
4. WNP — per-node mean edge weight (exact: integer sum / count, one
   division), keep an edge iff its weight reaches EITHER endpoint's mean.
   Papadakis' "redefined" node-centric rule: locally adaptive, needs no
   global threshold, and expressible as two joins against a node-keyed dim.

Everything is Catalyst (explode/groupBy/join); the only floats are the two
final means, each a single division — which is what makes the DuckDB twin
(`__spark_entry__.oracle_sql()['er_metablocking']`) bit-exact.

Reference seam: the reference (email_address.rs:78) defines entity equality
exactly; blocking graphs are the scale layer BASELINE.json mandates on top.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_MAX_BLOCK = 64
GRAM_K = 3


def entity_block_keys(uniq: DataFrame) -> DataFrame:
    """(email, key): token-blocking keys per distinct email.

    `uniq` must carry email / local_canon / domain_canon (the distinct-email
    dim the pipeline already maintains). The gram array is built JVM-side:
    transform(sequence(1, len-k+1)) over substring — one projection, then one
    explode; array_distinct keeps a repeated gram inside one local from
    double-counting as two blocks."""
    dotless = F.regexp_replace("local_canon", r"\.", "")
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(dotless) - (GRAM_K - 1), F.lit(1))),
            lambda i: F.concat(F.lit("G:"), dotless.substr(i, F.lit(GRAM_K))),
        )
    )
    keys = F.concat(
        F.array(
            F.concat(F.lit("L:"), dotless),
            F.concat(F.lit("D:"), F.col("domain_canon")),
        ),
        grams,
    )
    return uniq.select("email", F.explode(keys).alias("key"))


def metablock_pairs(
    uniq: DataFrame, max_block: int = DEFAULT_MAX_BLOCK, pin_edges: bool = True
) -> DataFrame:
    """CBS-weighted, WNP-pruned candidate pairs from token blocking.

    Returns (email_a, email_b, w, kept): w = number of shared surviving
    blocks, kept = WNP verdict. Downstream feeds kept pairs to score_pairs;
    the unkept rows are retained here because the operator IS the audit of
    what pruning discards (the same reporting stance as er_block_skew).
    pin_edges=False skips the lazy edge checkpoint so the plan tests can
    inspect the full tree (a localCheckpoint truncates EXPLAIN at an RDD
    scan); execution semantics are identical either way."""
    ek = entity_block_keys(uniq)

    # block purging via window count: ONE hash exchange on `key` whose
    # output partitioning IS the CBS self-join's key partitioning, so the
    # SMJ reuses it instead of re-shuffling both sides (the same plan shape
    # measured for the candidate channels in BENCH/BASELINE.md, "Round-4
    # bucket-cap plan shape: window count vs groupBy + join-back"; for this
    # operator see "Round-4 meta-blocking plan: window purge + pinned edge
    # frame" — 9.19 → 2.58 s at sf0.1 with the edge pin below, identical
    # 106,534-row output). A single key group fits one
    # task because purging is the point: over-cap groups are filtered, and
    # the pre-filter sort of a pathological key spills rather than OOMs.
    w = Window.partitionBy("key")
    ek = (
        ek.withColumn("_n", F.count(F.lit(1)).over(w))
        .where(F.col("_n") <= F.lit(max_block))
        .drop("_n")
    )

    # CBS: common-block count per ordered pair. The self-join fans out at
    # most max_block²/2 rows per key (purging is the bound), and the groupBy
    # collapses multi-key evidence map-side before the pair exchange.
    a = ek.select(F.col("key"), F.col("email").alias("email_a"))
    b = ek.select(F.col("key"), F.col("email").alias("email_b"))
    # edges is referenced three times (two WNP incidence unions + the final
    # join) — pin it lazily so the explode/purge/self-join subtree runs once
    edges = (
        a.join(b, "key")
        .where(F.col("email_a") < F.col("email_b"))
        .groupBy("email_a", "email_b")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    if pin_edges:
        edges = edges.localCheckpoint(eager=False)

    # WNP: exact per-node mean weight (bigint sum / bigint count, ONE double
    # division — bit-reproducible in any engine). Each edge contributes to
    # both endpoints' means.
    incid = edges.select(
        F.col("email_a").alias("email"), "w"
    ).unionByName(edges.select(F.col("email_b").alias("email"), "w"))
    means = incid.groupBy("email").agg(
        (F.sum("w").cast("double") / F.count(F.lit(1))).alias("mean_w")
    )
    out = (
        edges.join(
            means.select(F.col("email").alias("email_a"), F.col("mean_w").alias("mean_a")),
            "email_a",
        )
        .join(
            means.select(F.col("email").alias("email_b"), F.col("mean_w").alias("mean_b")),
            "email_b",
        )
        .select(
            "email_a",
            "email_b",
            "w",
            ((F.col("w") >= F.col("mean_a")) | (F.col("w") >= F.col("mean_b"))).alias(
                "kept"
            ),
        )
    )
    return out
