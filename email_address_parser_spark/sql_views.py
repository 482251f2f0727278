"""SQL surface: register the engine's tables as temp views so users can
query them with plain `spark.sql(...)` — the DataFrame API and SQL are the
same Catalyst plans, so everything (pushdown, broadcast, AQE) applies
unchanged.

    from email_address_parser_spark.sql_views import register_er_views
    register_er_views(spark, "/root/testdata/sf0.001")
    spark.sql('''
        SELECT domain_canon, count(*) AS n
        FROM er_mentions WHERE valid_lax GROUP BY domain_canon
    ''')
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from .operators.blocking import exact_match_edges, uniq_valid_mentions
from .operators.extract import extract_mentions, with_canonical
from .sources.testdata import TABLES, derive_transcripts, register_views


def register_er_views(
    spark: SparkSession, sf_dir: str, with_clusters: bool = False,
    clk_key: str = "",
) -> list:
    """Register the raw testdata tables plus the ER views:

      er_transcripts — input_hint-shaped turns
      er_mentions    — extracted + parsed + canonicalized mentions
      er_uniq        — distinct valid emails with canonical columns
      er_star_edges  — exact-canonical guaranteed-match star edges
      er_clk_masks   — G67 privacy surface: one row per record with the
                       packed 256-bit CLK filter (m0..m3 + popcount n) of
                       the dotless local, keyed by a sha-256 surrogate
                       (`sid`) — the ONLY view a privacy-preserving
                       matcher party needs; Dice is bit_count(m&m')
                       arithmetic in SQL. THREAT MODEL (see
                       operators/pprl.py): the surrogate and filters are
                       non-invertible to the matcher only while
                       ``clk_key`` stays secret with the encoder — both
                       the sid derivation and the CLK hash salts fold the
                       key in, so without it a dictionary attack over
                       candidate emails recovers nothing. The empty
                       default is the UNKEYED oracle-parity construction
                       (sha2('sid:'||email), public 'clk{j}:' salts):
                       fine for tests, NOT private against anyone who can
                       read this code. Deployments must pass a key.
      er_clusters    — (optional, runs pipeline.resolve) email → cluster_id
    """
    register_views(spark, sf_dir, tables=TABLES)
    transcripts = derive_transcripts(spark, sf_dir)
    transcripts.createOrReplaceTempView("er_transcripts")
    mentions = with_canonical(extract_mentions(transcripts))
    mentions.createOrReplaceTempView("er_mentions")
    uniq = uniq_valid_mentions(mentions)
    uniq.createOrReplaceTempView("er_uniq")
    if with_clusters:
        from .pipeline import resolve

        chain = resolve(mentions, uniq)
        stars = chain["stars"]
    else:
        stars = exact_match_edges(mentions, uniq=uniq)
    stars.createOrReplaceTempView("er_star_edges")
    from pyspark.sql import functions as F

    from .operators.pprl import clk_encode, clk_masks, with_dotless

    sid_prefix = f"sid:{clk_key}:" if clk_key else "sid:"
    clk_masks(
        clk_encode(with_dotless(uniq), text_col="dotless", key=clk_key)
    ).select(
        F.sha2(F.concat(F.lit(sid_prefix), F.col("email")), 256).alias("sid"),
        "m0",
        "m1",
        "m2",
        "m3",
        "n",
    ).createOrReplaceTempView("er_clk_masks")
    views = [
        "er_transcripts",
        "er_mentions",
        "er_uniq",
        "er_star_edges",
        "er_clk_masks",
    ]
    if with_clusters:
        clusters = chain["clusters"]
        clusters.createOrReplaceTempView("er_clusters")
        views.append("er_clusters")

        from .operators.survivorship import golden_records

        golden_records(mentions, clusters).createOrReplaceTempView(
            "er_golden_records"
        )
        views.append("er_golden_records")

        # G43: the SCD2 membership timeline. With only one epoch in view
        # this is the snapshot (every assignment open from epoch 0); a
        # deployment folds per-epoch assignments with
        # operators/history.fold_history and registers that table here
        # instead.
        from .operators.history import snapshot_history

        snapshot_history(
            clusters.select("email", "cluster_id"), 0
        ).createOrReplaceTempView("er_membership_history")
        views.append("er_membership_history")

        # G60: the merge-provenance spanning forest — per clustered email
        # its BFS depth, deciding parent, and that edge's score. On the
        # collapsed path the within-key members connect via STAR edges,
        # so the tree walks fuzzy ∪ star (score 1.0 hops = exact matches)
        from .operators.explain import cluster_merge_tree

        cluster_merge_tree(
            clusters.select("email", "cluster_id"),
            chain["fuzzy"].unionByName(stars),
        ).createOrReplaceTempView("er_merge_tree")
        views.append("er_merge_tree")
    return views
