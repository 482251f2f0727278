"""G58 — right-to-be-forgotten: delete an identity (a whole resolved
cluster) from the maintained ER state with BATCH-SIZED frames.

Compliance deletion is the missing CRUD quadrant of the state machinery:
the folds (G24/G42/G43) only ever ADD or REASSIGN; a GDPR/CCPA erasure
request must remove every trace of an identity — its emails and its
exact-key representatives — without rewriting O(corpus) state. The
reference has no counterpart (it is a parser; this is the lifecycle layer
its addresses feed).

The fold state (`incremental.build_incremental_state`) is `uniq`, `reps`
and `clusters`; it keeps no blocking counts (the fold counts them from the
reps it reads), so removing the identity's rows from those three tables
is the whole erasure:

  * `forget_payload` expands the target emails through `clusters` to the
    whole component (identity == connected component, so removing a whole
    component cannot affect any other component — the equivalence the
    er_forget oracle certifies) and names the component's match keys;
  * `forget_apply` anti-joins the doomed emails out of `uniq` and
    `clusters` and the doomed keys out of `reps`.

Everything is O(|identity|): every frame derives from the doomed set, and
the state tables are only anti-joined against broadcast-sized frames. A
later fold that re-adds an erased email treats it as new data, so an
identity may lawfully REAPPEAR from post-erasure data.

Exactness contract (tests/test_forget.py + the er_forget oracle): after
`forget_apply`, state is row-identical to `build_incremental_state` over
the corpus minus the identity's mentions, and a subsequent `fold_batch`
produces the same clusters as a from-scratch build over
(reduced corpus ∪ batch).
"""

from __future__ import annotations

from typing import Dict

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def forget_payload(
    state: Dict[str, DataFrame], targets: DataFrame
) -> Dict[str, DataFrame]:
    """Batch-sized frames erasing the identities (clusters) that contain any
    target email. `state` is a fold state dict (e.g.
    `build_incremental_state` output); `targets` is a 1-column (email)
    frame — an erasure request is a handful of subjects, so every frame
    here is broadcast-sized.

    Returns `doomed`, the (email, cluster_id) audit frame an erasure log
    records, and `match_keys`, the doomed representatives' keys."""
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
    # lazy pin: doomed feeds the key frame below plus the caller's audit —
    # without it each materialization re-runs the target expansion joins
    doomed = doomed.localCheckpoint(eager=False)
    # emails sharing a match_key are exact-channel-connected ⇒ same
    # component ⇒ a doomed email's whole key group is doomed, so removing
    # the key's REP row (rather than re-electing a min) is exact
    match_keys = (
        state["uniq"]
        .join(F.broadcast(doomed.select("email")), "email")
        .select("match_key")
        .distinct()
    )
    return {"doomed": doomed, "match_keys": match_keys}


def forget_apply(
    state: Dict[str, DataFrame], payload: Dict[str, DataFrame]
) -> Dict[str, DataFrame]:
    """Apply a forget payload to a fold state dict held as DataFrames (the
    er_forget driver query). tests/test_forget.py pins the result
    row-identical to a from-scratch build over the reduced corpus."""
    demails = F.broadcast(payload["doomed"].select("email"))
    out = dict(state)
    out["uniq"] = state["uniq"].join(demails, "email", "left_anti")
    out["clusters"] = state["clusters"].join(demails, "email", "left_anti")
    out["reps"] = state["reps"].join(
        F.broadcast(payload["match_keys"]), "match_key", "left_anti"
    )
    return out
