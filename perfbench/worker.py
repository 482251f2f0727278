"""Spark side of the identity-chain benchmark: one Spark driver process, one
job at a time, at local[<cores>]. `run.py` starts it; it writes its result as
JSON to `--out`.

Workloads
  sf_batch  transcripts -> extract -> uniq -> stars + pairs -> score -> edges
            -> cc -> cluster assignment, collected into this process.
  sf_fold   read_state -> fold_batch -> write_state_mor over the conversations
            the seed leaves out of an untimed bootstrap.

Untraced (--trace 0): every rep runs the chain exactly as `bench.py`'s
er_pipeline composes it and is timed end to end. Traced (--trace 1): reps
alternate between that untraced chain and a traced one, in which each layer
runs in its own span and Spark job group and its output is cached and counted
before the next layer starts; the event log is parsed at the end.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
from contextlib import nullcontext

from inputs import digest_rows, pair_f1, partition, write_sf_tables
from tracing import Tracer, job_group, layer_metrics, parse_event_log, self_times

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# the production chain settings (bench.py er_pipeline)
HOT_THRESHOLD = 200
TARGET_BLOCK = 64
# sf0.01-shaped corpus: 15,000 turns; ~300 reps per segment domain, so all
# five segment domains exceed HOT_THRESHOLD and are salted
N_CUSTOMERS = 1500
SETUP_REPS = 3
# sf_fold folds 1/FOLD_BUCKETS of the turns into state built from the rest
FOLD_BUCKETS = 5

BATCH_LAYERS = [
    "extract",
    "blocking.uniq",
    "blocking.stars",
    "blocking.pairs",
    "scoring.score",
    "scoring.edges",
    "cc",
    "pipeline.assign",
]
FOLD_LAYERS = ["incremental.read_state", "incremental.fold", "incremental.commit"]
LAYERS = BATCH_LAYERS + FOLD_LAYERS
# the layers whose plans hold an Arrow UDF (ArrowEvalPython)
UDF_LAYERS = ["extract", "blocking.pairs", "scoring.score", "incremental.fold"]
# per-layer columns reported as metrics; the full table goes to the report
LAYER_METRICS = [
    "wall_s",
    "self_s",
    "cpu_s",
    "rows_out",
    "jobs",
    "stages",
    "slot_busy_frac",
    "shuffle_write_bytes",
    "peak_exec_mem_bytes",
]
EXTRA_LAYER_METRICS = [
    "extract.valid_frac",
    "blocking.pairs.rows_same_domain",
    "blocking.pairs.rows_xd_local",
    "blocking.pairs.rows_xd_email",
    "scoring.edge_yield",
    "cc.edges_in",
    "incremental.commit.bytes_written",
]
CHAIN_METRICS = [
    "chain.traced_s",
    "chain.untraced_s",
    "chain.unattributed_s",
    "chain.tracing_overhead_s",
]


def _unit(metric: str) -> str:
    if metric.endswith("_s"):
        return "s"
    if metric.endswith(("bytes", "bytes_written")):
        return "bytes"
    if metric.endswith(("frac", "yield")):
        return "ratio"
    return "count"


def per_layer_metrics() -> list:
    """(name, unit) of every per-layer metric, in report order."""
    names = [f"{layer}.{m}" for layer in LAYERS for m in LAYER_METRICS]
    names += [f"{layer}.py_time_s" for layer in UDF_LAYERS]
    names += EXTRA_LAYER_METRICS + CHAIN_METRICS
    return [(n, _unit(n)) for n in names]


# --- session ----------------------------------------------------------------


def start_session(work: str, cores: int, trace: bool):
    from email_address_parser_spark.session import build_session

    conf = {
        "spark.driver.memory": "2g",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        # no hsperfdata files under /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
        # bench.py's tuning for the chain
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16m",
    }
    if trace:
        os.makedirs(f"{work}/eventlog", exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{work}/eventlog",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return build_session(
        app_name="perfbench",
        cores=cores,
        shuffle_partitions=2 * cores,
        extra_conf=conf,
    )


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def set_job_group(spark, group) -> None:
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", group)


# --- layers -----------------------------------------------------------------


class Layers:
    """Untraced: layer calls pass straight through. Traced: each layer runs in
    a span (and so in its own job group), and its output is cached and
    counted inside that span, so its work is not deferred into a later
    layer."""

    def __init__(self, tracer: Tracer = None, run_id: int = 0):
        self.tracer = tracer
        self.run_id = run_id
        self.rows = {}

    def span(self, name: str):
        if self.tracer is None:
            return nullcontext()
        return self.tracer.span(name, self.run_id)

    def run(self, name: str, fn, force: bool = True):
        with self.span(name):
            out = fn()
            if self.tracer is not None and force:
                out = self._force(name, out)
        return out

    def _force(self, name: str, out):
        if isinstance(out, dict):
            out = {k: v if v is None else v.persist() for k, v in out.items()}
            self.rows[name] = sum(v.count() for v in out.values() if v is not None)
        else:
            out = out.persist()
            self.rows[name] = out.count()
        return out


# --- workloads --------------------------------------------------------------


class SfWorkload:
    """Shared set-up of the sf-shaped workloads: seeded tables -> derived
    transcripts (checkpointed, so clearing the cache between reps keeps
    them) -> truth partition from `truth_labels`."""

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.sf_dir = f"{work}/sf"

    def build(self) -> None:
        from email_address_parser_spark.sources.testdata import derive_transcripts

        shutil.rmtree(self.sf_dir, ignore_errors=True)
        write_sf_tables(self.sf_dir, N_CUSTOMERS, self.seed)
        self.transcripts = derive_transcripts(self.spark, self.sf_dir).localCheckpoint()
        self.n_turns = self.transcripts.count()

    def load_truth(self) -> None:
        from email_address_parser_spark.sources.testdata import truth_labels

        labels = truth_labels(self.spark, self.sf_dir).collect()
        self.truth = partition((r["email"], r["match_key"]) for r in labels)
        self.n_emails = len(labels)

    def check(self, clusters) -> dict:
        found = partition(zip(clusters["email"], clusters["cluster_id"]))
        return {
            "ok": found == self.truth,
            "pair_f1": pair_f1(found, self.truth),
            "emails": int(len(clusters)),
            "clusters": len(found),
        }

    def bootstrap(self) -> None:
        pass

    def warm(self) -> None:
        pass

    def fingerprint(self) -> dict:
        rows = self.transcripts.select("conv_id", "turn_idx", "text").collect()
        return {
            "turns": self.n_turns,
            "truth_emails": self.n_emails,
            "input_digest": digest_rows(rows),
        }


class SfBatch(SfWorkload):
    name = "sf_batch"
    layers = BATCH_LAYERS

    def turns_per_rep(self) -> int:
        return self.n_turns

    def warm(self) -> None:
        """One untimed chain over the same input: starts the Python workers
        and compiles the chain's code (for the same join plans) first."""
        self.chain(Layers(), self.transcripts)
        self.spark.catalog.clearCache()

    def rep(self, L: Layers) -> dict:
        start = time.perf_counter()
        out, mentions, pairs, fuzzy = self.chain(L, self.transcripts)
        elapsed = time.perf_counter() - start
        L.rows["pipeline.assign"] = len(out)
        result = self.check(out)
        result["s"] = elapsed
        if L.tracer is not None:
            result["layer_extra"] = self._layer_extra(L, mentions, pairs, fuzzy)
        self.spark.catalog.clearCache()
        return result

    def chain(self, L: Layers, transcripts):
        from email_address_parser_spark.operators.blocking import (
            candidate_pairs,
            exact_match_edges,
            uniq_valid_mentions,
        )
        from email_address_parser_spark.operators.extract import (
            extract_mentions,
            with_canonical,
        )
        from email_address_parser_spark.operators.scoring import match_edges, score_pairs
        from email_address_parser_spark.pipeline import cluster_mentions_collapsed

        with L.span("chain"):
            mentions = L.run(
                "extract", lambda: with_canonical(extract_mentions(transcripts))
            )
            uniq = L.run("blocking.uniq", lambda: uniq_valid_mentions(mentions).persist())
            stars = L.run("blocking.stars", lambda: exact_match_edges(mentions, uniq=uniq))
            pairs = L.run(
                "blocking.pairs",
                lambda: candidate_pairs(
                    mentions,
                    hot_threshold=HOT_THRESHOLD,
                    target_block_size=TARGET_BLOCK,
                    collapse_exact=True,
                    dedupe=False,
                    uniq=uniq,
                ),
            )
            scored = L.run("scoring.score", lambda: score_pairs(pairs))
            fuzzy = L.run("scoring.edges", lambda: match_edges(scored))
            with L.span("pipeline.assign"):
                # connected_components runs eagerly inside this call; the
                # member assignment join runs when the result is collected
                clusters = L.run(
                    "cc",
                    lambda: cluster_mentions_collapsed(mentions, fuzzy, stars, nodes=uniq),
                    force=False,
                )
                out = clusters.toPandas()
        return out, mentions, pairs, fuzzy

    def _layer_extra(self, L: Layers, mentions, pairs, fuzzy) -> dict:
        from pyspark.sql import functions as F

        set_job_group(self.spark, job_group(L.run_id, "post"))
        n_valid = mentions.where(F.col("valid_lax")).count()
        dotless = lambda c: F.regexp_replace(F.col(c), r"\.", "")  # noqa: E731
        channel = (
            pairs.select(
                F.when(F.col("domain_canon_a") == F.col("domain_canon_b"), "same_domain")
                .when(dotless("local_canon_a") == dotless("local_canon_b"), "xd_local")
                .otherwise("xd_email")
                .alias("ch")
            )
            .groupBy("ch")
            .count()
            .collect()
        )
        by_channel = {r["ch"]: r["count"] for r in channel}
        cc_nodes = (
            fuzzy.where(F.col("src") != F.col("dst"))
            .select(F.explode(F.array("src", "dst")).alias("n"))
            .distinct()
            .count()
        )
        set_job_group(self.spark, None)
        rows = L.rows
        L.rows["cc"] = cc_nodes
        return {
            "extract.valid_frac": n_valid / max(rows["extract"], 1),
            "blocking.pairs.rows_same_domain": by_channel.get("same_domain", 0),
            "blocking.pairs.rows_xd_local": by_channel.get("xd_local", 0),
            "blocking.pairs.rows_xd_email": by_channel.get("xd_email", 0),
            "scoring.edge_yield": rows["scoring.edges"] / max(rows["blocking.pairs"], 1),
            "cc.edges_in": rows["scoring.edges"],
        }

    def rows_in(self, rows: dict) -> dict:
        return {
            "extract": self.n_turns,
            "blocking.uniq": rows.get("extract", 0),
            "blocking.stars": rows.get("blocking.uniq", 0),
            "blocking.pairs": rows.get("blocking.uniq", 0),
            "scoring.score": rows.get("blocking.pairs", 0),
            "scoring.edges": rows.get("scoring.score", 0),
            "cc": rows.get("scoring.edges", 0),
            "pipeline.assign": rows.get("blocking.uniq", 0),
        }


class SfFold(SfWorkload):
    """Bootstrap MoR state from the seed-selected ~80% of conversations; each
    rep restores that state untimed, then folds the rest and commits."""

    name = "sf_fold"
    layers = FOLD_LAYERS

    def build(self) -> None:
        from pyspark.sql import functions as F

        super().build()
        # whole conversations in seeded hash order until the batch holds a
        # 1/FOLD_BUCKETS share of the turns, so every seed folds about as
        # many turns
        sizes = self.transcripts.groupBy("conv_id").count().collect()
        sizes.sort(key=lambda r: hashlib.sha256(f"{self.seed}:{r[0]}".encode()).digest())
        batch_ids, self.n_batch = [], 0
        for conv_id, n in sizes:
            if self.n_batch >= self.n_turns // FOLD_BUCKETS:
                break
            batch_ids.append(conv_id)
            self.n_batch += n
        in_batch = F.col("conv_id").isin(batch_ids)
        self.prev = self.transcripts.where(~in_batch).localCheckpoint()
        self.batch = self.transcripts.where(in_batch).localCheckpoint()

    def fingerprint(self) -> dict:
        return dict(super().fingerprint(), batch_turns=self.n_batch)

    def bootstrap(self) -> None:
        from email_address_parser_spark.operators.incremental import (
            build_incremental_state,
        )
        from email_address_parser_spark.streaming.incremental_stream import (
            read_state,
            write_state_mor,
        )

        self.pristine = f"{self.work}/state_pristine"
        self.state_dir = f"{self.work}/state"
        shutil.rmtree(self.pristine, ignore_errors=True)
        write_state_mor(
            build_incremental_state(
                self.spark,
                self.prev,
                hot_threshold=HOT_THRESHOLD,
                target_block_size=TARGET_BLOCK,
            ),
            self.pristine,
            mode="overwrite",
        )
        self.spark.catalog.clearCache()
        self.state_rows = sum(df.count() for df in read_state(self.spark, self.pristine).values())

    def turns_per_rep(self) -> int:
        return self.n_batch

    def rep(self, L: Layers) -> dict:
        from email_address_parser_spark.operators.incremental import fold_batch
        from email_address_parser_spark.streaming.incremental_stream import (
            read_state,
            write_state_mor,
        )

        shutil.rmtree(self.state_dir, ignore_errors=True)
        shutil.copytree(self.pristine, self.state_dir)
        before = _dir_bytes(self.state_dir)
        start = time.perf_counter()
        with L.span("chain"):
            state = L.run(
                "incremental.read_state",
                lambda: read_state(self.spark, self.state_dir),
                force=False,
            )
            out = L.run(
                "incremental.fold",
                lambda: fold_batch(
                    self.spark,
                    self.batch,
                    state,
                    hot_threshold=HOT_THRESHOLD,
                    target_block_size=TARGET_BLOCK,
                )["updates"],
            )
            L.run(
                "incremental.commit",
                lambda: write_state_mor(out, self.state_dir),
                force=False,
            )
        elapsed = time.perf_counter() - start
        self.spark.catalog.clearCache()
        clusters = read_state(self.spark, self.state_dir)["clusters"].toPandas()
        result = self.check(clusters)
        result["s"] = elapsed
        L.rows["incremental.read_state"] = self.state_rows
        if L.tracer is not None:
            result["layer_extra"] = {
                "incremental.commit.bytes_written": _dir_bytes(self.state_dir) - before
            }
        self.spark.catalog.clearCache()
        return result

    def rows_in(self, rows: dict) -> dict:
        return {
            "incremental.read_state": self.state_rows,
            "incremental.fold": self.n_batch,
            "incremental.commit": rows.get("incremental.fold", 0),
        }


WORKLOADS = {w.name: w for w in (SfBatch, SfFold)}


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(f) for f in glob.glob(f"{path}/**", recursive=True) if os.path.isfile(f)
    )


# --- run --------------------------------------------------------------------


def checked_rep(wl, L: Layers) -> dict:
    """One rep; `s` is the time of its timed region. A rep that raises is
    kept and counted as failed."""
    start = time.perf_counter()
    try:
        result = wl.rep(L)
    except Exception as exc:
        return {"ok": False, "error": repr(exc)[:500], "s": time.perf_counter() - start}
    result["rows"] = dict(L.rows)
    return result


def layer_table(wl, tracer: Tracer, traced: list, cores: int, event_log: dict) -> dict:
    """Per-rep layer rows -> median per layer/metric over the traced reps."""
    selfs = self_times(tracer.spans)
    spans = {(s.run_id, s.name): s for s in tracer.spans}
    per_rep = []
    for run_id, rep in traced:
        rows = rep["rows"]
        rows_in = wl.rows_in(rows)
        table = {}
        for layer in wl.layers:
            span = spans[(run_id, layer)]
            row = layer_metrics(span, selfs[(run_id, layer)], event_log.get(job_group(run_id, layer), {}), cores)
            row["rows_in"] = rows_in.get(layer, 0)
            row["rows_out"] = rows.get(layer, 0)
            table[layer] = row
        chain = spans[(run_id, "chain")]
        table["chain"] = {
            "traced_s": chain.wall,
            "unattributed_s": selfs[(run_id, "chain")],
            "layer_self_sum_s": sum(table[l]["self_s"] for l in wl.layers),
        }
        per_rep.append((table, rep.get("layer_extra", {})))
    layers = {}
    for layer in wl.layers + ["chain"]:
        keys = per_rep[0][0][layer].keys()
        layers[layer] = {k: statistics.median(t[layer][k] for t, _ in per_rep) for k in keys}
    extra = {
        k: statistics.median(e[k] for _, e in per_rep) for k in per_rep[0][1]
    }
    return {"layers": layers, "extra": extra, "traced_reps": len(per_rep)}


def git_sha() -> str:
    """HEAD of the checkout, or "unknown" outside a git work tree (the
    code digest still identifies the package source)."""
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True,
            text=True,
            timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def code_digest() -> str:
    h = hashlib.sha256()
    for path in sorted(glob.glob(f"{ROOT}/email_address_parser_spark/**/*.py", recursive=True)):
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    traced_run = bool(args.trace)
    cores = len(os.sched_getaffinity(0))

    t0 = time.perf_counter()
    spark = start_session(args.work, cores, traced_run)
    session_s = time.perf_counter() - t0
    sc = spark.sparkContext

    wl = WORKLOADS[args.workload](spark, args.work, args.seed)
    build_s = []
    for _ in range(SETUP_REPS):
        t = time.perf_counter()
        wl.build()
        build_s.append(time.perf_counter() - t)
    wl.load_truth()
    t = time.perf_counter()
    wl.bootstrap()
    bootstrap_s = time.perf_counter() - t
    tracer = Tracer(lambda g: set_job_group(spark, g)) if traced_run else None
    t = time.perf_counter()
    wl.warm()
    warmup_s = time.perf_counter() - t

    untraced, traced = [], []
    deadline = time.perf_counter() + args.seconds
    run_id = 0
    while True:
        untraced.append(checked_rep(wl, Layers()))
        if traced_run:
            traced.append((run_id, checked_rep(wl, Layers(tracer, run_id=run_id))))
            run_id += 1
        if time.perf_counter() >= deadline:
            break
    rss = jvm_peak_rss_mb(spark)
    first = (traced or [(0, untraced[0])])[0][1]
    fingerprint = dict(
        wl.fingerprint(),
        emails=first.get("emails"),
        clusters=first.get("clusters"),
        layer_rows=first.get("rows"),
    )
    context = {
        "nproc": os.cpu_count(),
        "cores": cores,
        "master": sc.master,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "spark": spark.version,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "git_sha": git_sha(),
        "code_digest": code_digest(),
        "seed": args.seed,
    }
    spark.stop()

    reps = untraced + [r for _, r in traced]
    result = {
        "workload": wl.name,
        "context": context,
        "fingerprint": fingerprint,
        "turns_per_rep": wl.turns_per_rep(),
        "setup": {
            "session_s": session_s,
            "build_s": build_s,
            "bootstrap_s": bootstrap_s,
            "warmup_s": warmup_s,
        },
        "untraced_s": [r["s"] for r in untraced],
        "attempted": len(reps),
        "failed": sum(1 for r in reps if not r.get("ok")),
        "errors": [r["error"] for r in reps if "error" in r][:3],
        "pair_f1": [r.get("pair_f1") for r in reps],
        "jvm_peak_rss_mb": rss,
    }
    if traced_run:
        tracer.dump(f"{args.work}/spans.json")
        logs = glob.glob(f"{args.work}/eventlog/*")
        with open(logs[0]) as fh:
            event_log = parse_event_log(fh)
        ok_traced = [(i, r) for i, r in traced if r.get("ok")]
        if ok_traced:
            trace = layer_table(wl, tracer, ok_traced, cores, event_log)
            chain = trace["layers"]["chain"]
            chain["untraced_s"] = statistics.median(r["s"] for r in untraced)
            chain["tracing_overhead_s"] = chain["traced_s"] - chain["untraced_s"]
            result["trace"] = trace
    with open(args.out, "w") as fh:
        json.dump(result, fh, indent=1)


if __name__ == "__main__":
    sys.exit(main())
