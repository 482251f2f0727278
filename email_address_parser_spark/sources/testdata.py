"""F1 — sources: driver testdata parquet + the derived transcripts table.

The driver's sandbox tables (/root/testdata/sf*/...) contain no transcripts, so
the pipeline input is DERIVED deterministically from orders × customer with a
dialect-neutral SQL contract: the same SQL text runs in Spark (views over
parquet) and in DuckDB (driver-registered views), which is what makes every
entity-resolution query oracle-checkable end to end.

Derivation (variant v = o_orderkey % 10):
    local  = 'customer.' || lpad(c_custkey, 9, '0')
    domain = lower(c_mktsegment) || '.example.com'
    v 0-3  plain       local@domain                 strict-valid
    v 4    domain-typo local@substr(domain,2)       strict-valid   (same identity,
           first domain char dropped — the cross-domain true-match material:
           its ground-truth match_key keeps the TRUE domain, so re-uniting it
           is only reachable through a cross-domain candidate channel)
    v 5    dotless     replace(local,'.','')@domain strict-valid
    v 6    upper-dom   local@UPPER(domain)          strict-valid
    v 7    quoted      "local"@domain               strict-valid   (angle-delimited in text)
    v 8    comment     (note)local@domain           lax-only       (angle-delimited in text)
    v 9    near-miss   local.@domain                invalid (both modes)

One mention per turn; conv_id = customer, turn_idx = dense order rank. In prod
this module is where `spark.read.format('iceberg')` replaces parquet.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def load_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents table, redistributed for per-doc CPU work when the scan
    under-parallelizes. A single parquet file with one row group is ONE scan
    partition no matter what maxPartitionBytes says (row groups are the split
    unit), which serializes every downstream per-doc kernel (minhash /
    simhash / fingerprint UDFs) onto one core. A production corpus arrives as
    many files and skips this branch; the repartition is round-robin over the
    doc id hash, one narrow shuffle of the raw docs, result-set neutral."""
    df = load_table(spark, sf_dir, "documents")
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        df = df.repartition(target, "doc_id")
    return df


def load_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embeddings table, redistributed exactly like load_documents: the
    sandbox file is one row group = one scan partition, which serializes
    per-vector CPU work (the within-cell pair cosines of semantic_dedup run
    ~1.5M 64-dim HOF dot products — on one core that is the whole query).
    Result-set neutral; a real multi-file corpus skips the branch."""
    df = load_table(spark, sf_dir, "embeddings")
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        df = df.repartition(target, "vec_id")
    return df


def register_views(spark: SparkSession, sf_dir: str, tables=TABLES) -> None:
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


# Dialect-neutral: runs verbatim in Spark SQL and DuckDB. Internal columns
# (o_orderkey, variant, mention, local, domain) are generation metadata used by
# the oracle; the transcripts table proper is the first six columns.
TRANSCRIPTS_CTE = """
WITH _base AS (
    SELECT o.o_orderkey, o.o_custkey, o.o_orderdate,
           concat('customer.', lpad(CAST(c.c_custkey AS STRING), 9, '0')) AS local,
           concat(lower(c.c_mktsegment), '.example.com') AS domain,
           CAST(o.o_orderkey % 10 AS INT) AS variant
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
),
_men AS (
    SELECT *,
        CASE variant
            WHEN 4 THEN concat(local, '@', substr(domain, 2))
            WHEN 5 THEN concat(replace(local, '.', ''), '@', domain)
            WHEN 6 THEN concat(local, '@', upper(domain))
            WHEN 7 THEN concat('"', local, '"@', domain)
            WHEN 8 THEN concat('(note)', local, '@', domain)
            WHEN 9 THEN concat(local, '.@', domain)
            ELSE concat(local, '@', domain)
        END AS mention
    FROM _base
),
transcripts AS (
    SELECT
        concat('conv', lpad(CAST(o_custkey AS STRING), 6, '0')) AS conv_id,
        CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) - 1 AS INT) AS turn_idx,
        CASE CAST(o_orderkey % 3 AS INT)
            WHEN 0 THEN 'user' WHEN 1 THEN 'assistant' ELSE 'tool' END AS role,
        concat('order update: contact ',
               CASE WHEN variant IN (7, 8) THEN concat('<', mention, '>') ELSE mention END,
               ' re order ', CAST(o_orderkey AS STRING)) AS text,
        CASE CAST(o_orderkey % 5 AS INT)
            WHEN 0 THEN 'send_email' WHEN 1 THEN 'crm_lookup' ELSE NULL END AS tool,
        o_orderdate AS ts,
        o_orderkey, variant, mention, local, domain
    FROM _men
)
"""

TRANSCRIPT_COLUMNS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]

# Expected mention rows, straight from the generation metadata — the oracle's
# view of what extraction + strict-first parsing must recover (verbatim
# captures incl. quotes/comments; NULLs for the invalid variant).
MENTIONS_EXPECTED_CTE = TRANSCRIPTS_CTE + """,
mentions_expected AS (
    SELECT conv_id, turn_idx, CAST(0 AS INT) AS mention_idx, mention AS raw,
        CASE WHEN variant = 9 THEN NULL
             WHEN variant = 7 THEN concat('"', local, '"')
             WHEN variant = 8 THEN concat('(note)', local)
             WHEN variant = 5 THEN replace(local, '.', '')
             ELSE local END AS local_part,
        CASE WHEN variant = 9 THEN NULL
             WHEN variant = 4 THEN substr(domain, 2)
             WHEN variant = 6 THEN upper(domain)
             ELSE domain END AS domain,
        variant NOT IN (8, 9) AS valid_strict,
        variant <> 9 AS valid_lax,
        CASE WHEN variant = 9 THEN NULL ELSE mention END AS email,
        -- canonical (matching-only) twins + ground-truth grouping key. The
        -- match_key is computed from the GENERATION-side true domain, so the
        -- domain-typo variant (v4) keys with its true identity even though
        -- no string function of its mention could recover that — the label
        -- the cross-domain candidate channels are graded against.
        CASE WHEN variant = 9 THEN NULL
             WHEN variant = 5 THEN replace(local, '.', '')
             ELSE local END AS local_canon,
        CASE WHEN variant = 9 THEN NULL
             WHEN variant = 4 THEN substr(domain, 2)
             ELSE lower(domain) END AS domain_canon,
        CASE WHEN variant = 9 THEN NULL
             ELSE concat(replace(local, '.', ''), '@', lower(domain)) END AS match_key
    FROM transcripts
)
"""


def derive_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The transcripts DataFrame (input_hint shape) for a testdata sf dir."""
    register_views(spark, sf_dir, tables=["orders", "customer"])
    return spark.sql(
        TRANSCRIPTS_CTE + "SELECT " + ", ".join(TRANSCRIPT_COLUMNS) + " FROM transcripts"
    )


def truth_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(email, match_key) ground-truth labels for every distinct valid email —
    the sandbox analog of the reference's labeled match pairs (BASELINE.json:
    "pairwise F1 ... against the reference's labeled match pairs"). Since the
    domain-typo variant's identity is NOT a function of its mention string,
    metric queries (er_match_f1, er_blocking_metrics, er_clusters_diff_golden)
    must join this labeled table rather than re-deriving keys from the engine's
    canonical columns. Same CTE text as the DuckDB oracle side."""
    register_views(spark, sf_dir, tables=["orders", "customer"])
    return spark.sql(
        MENTIONS_EXPECTED_CTE
        + "SELECT DISTINCT email, match_key FROM mentions_expected WHERE valid_lax"
    )


def replicate_transcripts(transcripts: DataFrame, factor: int) -> DataFrame:
    """Deterministically scale the corpus ×factor with DISJOINT identity
    spaces per replica (each replica rewrites the mention domains, so unique
    entities, blocks, pairs, and clusters all grow ×factor — every pipeline
    stage sees ×factor work, not just extraction). Used by the
    two-parallelism scaling benchmark; all Catalyst expressions."""
    from pyspark.sql import functions as F

    rep = transcripts.select(
        "*",
        F.explode(F.sequence(F.lit(0), F.lit(factor - 1))).alias("_r"),
    )
    return rep.select(
        F.concat_ws("#", F.col("conv_id"), F.col("_r")).alias("conv_id"),
        "turn_idx",
        "role",
        F.regexp_replace(
            F.col("text"),
            F.lit(r"(?i)example\.com"),
            F.concat(F.lit("example"), F.col("_r"), F.lit(".com")),
        ).alias("text"),
        "tool",
        "ts",
    )
