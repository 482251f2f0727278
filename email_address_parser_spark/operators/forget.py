"""G58 — right-to-be-forgotten: delete an identity (a whole resolved
cluster) from the maintained ER state with BATCH-SIZED writes.

Compliance deletion is the missing CRUD quadrant of the state machinery:
the folds (G24/G42/G43) only ever ADD or REASSIGN; a GDPR/CCPA erasure
request must remove every trace of an identity — its emails, its exact-key
representatives, its contribution to every blocking statistic — without
rewriting O(corpus) state. The reference has no counterpart (it is a
parser; this is the lifecycle layer its addresses feed).

Deletion mechanics mirror Iceberg merge-on-read equality deletes
(format-v2 `eq-delete` files with sequence numbers):

  * keyed tables (`clusters` on email, `reps` on match_key) take ALL-NULL
    TOMBSTONE rows — the same convention the G42 golden fold already uses
    for merged-away ids. Latest-epoch-wins resolution surfaces the
    tombstone; the read path filters it. A later fold that re-adds the
    email/key supersedes the tombstone at a higher epoch, so identities
    may lawfully REAPPEAR from post-erasure data.
  * the append-only `uniq` table cannot take tombstones (no merge key by
    design — its write path is the fold hot loop). It takes an equality-
    delete LEDGER instead: a `deletes` table of (email) rows whose row
    epoch is the delete's SEQUENCE NUMBER. The read path keeps a uniq row
    iff it is NEWER than every delete for its email (`_epoch >
    max(delete._epoch)`) — exactly Iceberg's rule that an equality delete
    applies only to data files with a smaller data sequence number. A
    reappearing email's fresh uniq row therefore survives while every
    pre-erasure row stays dead.
  * count dims (`domain_counts`, `bucket_counts`, `local_counts`,
    `ebucket_counts`) take ordinary latest-wins DECREMENT rows, computed
    from the doomed representatives' own band signatures — the counts a
    from-scratch build over the reduced corpus would produce. Keys
    decremented to zero are filtered at read time, so resolved state is
    row-identical to the from-scratch build.

Everything is O(|identity|): the doomed set expands from the target
emails through `clusters` (identity == connected component, so removing
a whole component cannot affect any other component — the equivalence
the er_forget oracle certifies), and every update frame derives from
that set. `forget_apply` applies a payload to in-memory state — the path
the er_forget driver query runs — with the read-side rules above: doomed
emails leave `uniq` and `clusters`, doomed keys leave `reps`, and counts
that reach zero are dropped.

Exactness contract (tests/test_forget.py + the er_forget oracle): after
`forget`, resolved state is row-identical to `build_incremental_state`
over the corpus minus the identity's mentions, and a subsequent
`fold_batch` produces the same clusters as a from-scratch build over
(reduced corpus ∪ batch).
"""

from __future__ import annotations

from typing import Dict, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .blocking import dotless_local


def _null_like(df: DataFrame, keys: list) -> list:
    return [
        F.lit(None).cast(f.dataType).alias(f.name)
        for f in df.schema.fields
        if f.name not in keys
    ]


def forget_payload(
    state: Dict[str, DataFrame], targets: DataFrame
) -> Dict[str, DataFrame]:
    """Batch-sized update frames erasing the identities (clusters) that
    contain any target email. `state` is a RESOLVED state dict
    (e.g. `build_incremental_state` output); `targets` is a
    1-column (email) frame — an erasure request is a handful of subjects,
    so every frame here is broadcast-sized.

    Returns one update frame per state table (matching each table's
    schema, ready for `write_state_mor` append) plus the `deletes` ledger
    frame and a `doomed` audit frame of (email, cluster_id) — what an
    erasure log records."""
    clusters = state["clusters"].select("email", "cluster_id")
    doomed_cids = (
        clusters.join(F.broadcast(targets.select("email")), "email")
        .select("cluster_id")
        .distinct()
    )
    # the whole component: identity == connected component, so this is the
    # exact erasure surface and its removal cannot touch any other cluster
    doomed = clusters.join(F.broadcast(doomed_cids), "cluster_id").select(
        "email", "cluster_id"
    )
    # lazy pin: doomed feeds every frame below plus the caller's audit —
    # without it each materialization re-runs the target expansion joins
    doomed = doomed.localCheckpoint(eager=False)
    demails = F.broadcast(doomed.select("email"))

    uniq = state["uniq"]
    doomed_uniq = uniq.join(demails, "email").localCheckpoint(eager=False)
    # emails sharing a match_key are exact-channel-connected ⇒ same
    # component ⇒ a doomed email's whole key group is doomed, so removing
    # the key's REP row (rather than re-electing a min) is exact
    doomed_reps = (
        state["reps"]
        .join(
            F.broadcast(doomed_uniq.select("match_key").distinct()),
            "match_key",
        )
        .localCheckpoint(eager=False)
    )

    payload: Dict[str, Optional[DataFrame]] = {
        "doomed": doomed,
        "deletes": doomed.select("email"),
        "clusters": doomed.select(
            "email", *_null_like(state["clusters"], ["email"])
        ),
        "reps": doomed_reps.select(
            "match_key", *_null_like(state["reps"], ["match_key"])
        ),
    }

    def _decrement(table: str, dec: DataFrame, keys: list, cnt: str):
        cur = state.get(table)
        if cur is None:
            payload[table] = None
            return
        # updated rows for TOUCHED keys only (inner join against the
        # broadcast-sized decrement dim) — latest-wins replaces them; keys
        # that reach zero are filtered when applied (forget_apply), making
        # resolved counts row-identical to a from-scratch build
        payload[table] = (
            cur.join(F.broadcast(dec), keys)
            .select(
                *keys, (F.col(cnt) - F.col("_dec")).cast("long").alias(cnt)
            )
        )

    _decrement(
        "domain_counts",
        doomed_reps.groupBy("domain_canon").agg(
            F.count(F.lit(1)).alias("_dec")
        ),
        ["domain_canon"],
        "_dom_n",
    )
    if "band_sigs" in doomed_reps.columns:
        _decrement(
            "bucket_counts",
            doomed_reps.select(
                F.posexplode("band_sigs").alias("band_idx", "band_sig")
            )
            .groupBy("band_idx", "band_sig")
            .agg(F.count(F.lit(1)).alias("_dec")),
            ["band_idx", "band_sig"],
            "_bn",
        )
    else:
        payload["bucket_counts"] = None
    if state.get("local_counts") is not None:
        _decrement(
            "local_counts",
            doomed_reps.groupBy(dotless_local().alias("_dl")).agg(
                F.count(F.lit(1)).alias("_dec")
            ),
            ["_dl"],
            "_ln",
        )
    else:
        payload["local_counts"] = None
    if "email_bands" in doomed_reps.columns:
        _decrement(
            "ebucket_counts",
            doomed_reps.select(
                F.posexplode("email_bands").alias("band_idx", "band_sig")
            )
            .groupBy("band_idx", "band_sig")
            .agg(F.count(F.lit(1)).alias("_dec")),
            ["band_idx", "band_sig"],
            "_bn",
        )
    else:
        payload["ebucket_counts"] = None
    return payload


def forget_apply(
    state: Dict[str, DataFrame], payload: Dict[str, DataFrame]
) -> Dict[str, DataFrame]:
    """In-memory application of a forget payload to a resolved state dict,
    for callers that hold state as DataFrames (the er_forget driver query).
    tests/test_forget.py pins the result row-identical to a from-scratch
    build over the reduced corpus."""
    demails = F.broadcast(payload["doomed"].select("email"))
    out = dict(state)
    out["uniq"] = state["uniq"].join(demails, "email", "left_anti")
    out["clusters"] = state["clusters"].join(demails, "email", "left_anti")
    out["reps"] = state["reps"].join(
        F.broadcast(payload["reps"].select("match_key")),
        "match_key",
        "left_anti",
    )
    for table, keys, cnt in (
        ("domain_counts", ["domain_canon"], "_dom_n"),
        ("bucket_counts", ["band_idx", "band_sig"], "_bn"),
        ("local_counts", ["_dl"], "_ln"),
        ("ebucket_counts", ["band_idx", "band_sig"], "_bn"),
    ):
        cur, upd = state.get(table), payload.get(table)
        if cur is None or upd is None:
            continue
        out[table] = (
            cur.join(upd.select(*keys, F.col(cnt).alias("_new")), keys, "left")
            .select(*keys, F.coalesce("_new", cnt).alias(cnt))
            .where(F.col(cnt) > 0)
        )
    return out
