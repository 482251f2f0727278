"""G27 — incremental ANN index maintenance: fold new embedding batches into
a persisted IVF index.

The third pillar of incremental corpus maintenance (after G24 identity
clusters and G26 dedup state): a real ingestion pipeline never re-indexes
100 TB of embeddings when a batch lands. The IVF index state is

  centroids — the coarse quantizer, FROZEN at bootstrap (the deployment
              analog of an offline k-means model; `similarity.ivf_topk`
              derives the same deterministic sample, so queries against
              folded state replay the batch plan bit-for-bit);
  assigned  — (id, vec, norm, cell): every corpus vector with its quantizer
              cell. Append-only: a fold adds only its batch's rows.

A fold assigns ONLY the batch (per-row literal-quantizer argmax — the same
zero-shuffle expression as the batch path, `similarity.py ivf_topk`) and
appends; re-applying a folded batch drains through the id anti-join
(restart safety, same contract as the other folds). Queries run the
identical probe/re-rank plan over the state table — certified by the
`ann_topk_ivf_incr` driver query triple-matching the SAME full-corpus
quantizer-replay SQL as `ann_topk_ivf`, under an id-ordered bootstrap (the
quantizer sample must live in the bootstrap corpus, exactly as a deployed
index's model predates the batches folded into it).
"""

from __future__ import annotations

from typing import Dict, List

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .similarity import cosine, with_norm


def _literals_from_rows(rows) -> F.Column:
    """(cid, cvec, cnorm) rows → the literal quantizer array column (the
    same construction as similarity._centroid_literals, from stored rows)."""
    structs = [
        F.struct(
            F.lit(int(r["cid"])).cast("long").alias("cid"),
            # array literal in ONE py4j call, not one per element (an
            # element-wise loop is n_centroids x dim driver round-trips —
            # seconds of pure overhead; see similarity._centroid_literals)
            F.lit([float(x) for x in r["cvec"]]).cast("array<double>").alias("cvec"),
            F.lit(float(r["cnorm"])).cast("double").alias("cnorm"),
        )
        for r in sorted(rows, key=lambda r: int(r["cid"]))
    ]
    return F.array(*structs)


def _cell_scores(carr: F.Column, vec: F.Column, norm: F.Column) -> F.Column:
    return F.transform(
        carr,
        lambda ct: F.struct(
            F.round(cosine(vec, ct["cvec"], norm, ct["cnorm"]), 6).alias("c"),
            ct["cid"].alias("cid"),
        ),
    )


def _best_cell(carr: F.Column, vec: F.Column, norm: F.Column) -> F.Column:
    # argmax via left fold; strict '>' keeps the FIRST maximum and the array
    # is ordered by centroid id, so ties resolve to the lowest cid — the
    # exact rule of the batch path and the DuckDB oracle
    init = F.struct(
        F.lit(-2.0).cast("double").alias("c"), F.lit(-1).cast("long").alias("cid")
    )
    return F.aggregate(
        _cell_scores(carr, vec, norm),
        init,
        lambda acc, s: F.when(s["c"] > acc["c"], s).otherwise(acc),
    )["cid"]


def build_ivf_state(
    spark: SparkSession,
    embeddings: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> Dict[str, DataFrame]:
    """Freeze the quantizer from the bootstrap corpus (deterministic sample:
    the n_centroids lowest ids — swap for offline k-means in prod) and
    assign every bootstrap vector to its cell."""
    base = with_norm(embeddings.select(id_col, vec_col), vec_col)
    crows = [
        {
            "cid": int(r[id_col]),
            "cvec": [float(x) for x in r[vec_col]],
            "cnorm": sum(float(x) * float(x) for x in r[vec_col]) ** 0.5,
        }
        for r in embeddings.select(id_col, vec_col)
        .orderBy(id_col)
        .limit(n_centroids)
        .collect()
    ]
    centroids = spark.createDataFrame(
        [(c["cid"], c["cvec"], c["cnorm"]) for c in crows],
        "cid long, cvec array<double>, cnorm double",
    )
    carr = _literals_from_rows(crows)
    assigned = base.withColumn(
        "cell", _best_cell(carr, F.col(vec_col), F.col("_norm"))
    )
    return {"centroids": centroids, "assigned": assigned}


def fold_embeddings(
    spark: SparkSession,
    new_embeddings: DataFrame,
    state: Dict[str, DataFrame],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> Dict[str, DataFrame]:
    """Assign the batch with the FROZEN quantizer and append — the only
    corpus-sized object is the untouched state table. Returns {"delta"
    (newly assigned rows), "state"}."""
    carr = _literals_from_rows(state["centroids"].collect())  # tiny model load
    base = with_norm(new_embeddings.select(id_col, vec_col), vec_col)
    new = base.join(
        state["assigned"].select(id_col), id_col, "left_anti"
    )
    delta = new.withColumn("cell", _best_cell(carr, F.col(vec_col), F.col("_norm")))
    return {
        "delta": delta,
        "state": {
            "centroids": state["centroids"],
            "assigned": state["assigned"].unionByName(delta),
        },
    }


def ivf_topk_from_state(
    state: Dict[str, DataFrame],
    query_ids: List[int],
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The batch path's probe/re-rank plan over the state table: each query
    ranks the quantizer cells (rounded cosine, ties to lowest cid), probes
    its n_probe nearest, re-ranks candidates by exact cosine — identical
    output schema and values to `similarity.ivf_topk` on the same corpus."""
    carr = _literals_from_rows(state["centroids"].collect())
    assigned = state["assigned"]
    queries = (
        assigned.where(F.col(id_col).isin([int(q) for q in query_ids]))
        .select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("_qvec"),
            F.col("_norm").alias("_qnorm"),
            F.explode(_cell_scores(carr, F.col(vec_col), F.col("_norm"))).alias(
                "_cs"
            ),
        )
        .select(
            "query_id", "_qvec", "_qnorm",
            F.col("_cs.cid").alias("cell"), F.col("_cs.c").alias("_ccos"),
        )
        .withColumn(
            "_crank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.desc("_ccos"), F.asc("cell")
                )
            ),
        )
        .where(F.col("_crank") <= n_probe)
        .select("query_id", "_qvec", "_qnorm", "cell")
    )
    cos = F.round(
        cosine(F.col("_qvec"), F.col(vec_col), F.col("_qnorm"), F.col("_norm")), 6
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        assigned.join(F.broadcast(queries), "cell")
        .where(F.col(id_col) != F.col("query_id"))
        .select("query_id", F.col(id_col).alias("neighbor_id"), cos.alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )
