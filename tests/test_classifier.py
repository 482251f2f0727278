"""Trained pairwise scorer (operators/classifier.py).

Iterative training has no SQL oracle; the certification is (1) the
distributed IRLS aggregation equals a single-node numpy IRLS on the SAME
rows to 1e-8 per weight, (2) it recovers the generating signal on
deterministic synthetic data, and (3) dropped into the ER pair stream it
reproduces the hand-tuned scorer's separation of true and false pairs.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from email_address_parser_spark.operators.blocking import candidate_pairs
from email_address_parser_spark.operators.classifier import (
    logistic_score,
    logistic_train,
    with_pair_features,
)
from email_address_parser_spark.operators.scoring import score_pairs

HOT, TGT = 1 << 40, 5_000


def _lcg_uniforms(n, seed=12345):
    # deterministic, platform-independent uniforms (no RNG state in Spark)
    out, x = [], seed
    for _ in range(n):
        x = (1103515245 * x + 12345) % (1 << 31)
        out.append(x / float(1 << 31))
    return out


def _synthetic(n=400):
    u = _lcg_uniforms(3 * n)
    rows = []
    for i in range(n):
        f0, f1, noise = u[3 * i], u[3 * i + 1], u[3 * i + 2]
        # hidden noise dimension makes the classes overlap in (f0, f1):
        # finite MLE, numerically stable Newton steps
        label = 1 if (2.0 * f0 - 1.5 * f1 + 1.2 * (noise - 0.5)) > 0.2 else 0
        rows.append((float(f0), float(f1), label))
    return rows


def _numpy_irls(X, y, iters=8, ridge=1e-6):
    beta = np.zeros(X.shape[1])
    for _ in range(iters):
        p = 1.0 / (1.0 + np.exp(-(X @ beta)))
        w = p * (1.0 - p)
        H = X.T @ (X * w[:, None])
        g = X.T @ (y - p)
        beta = beta + np.linalg.solve(H + ridge * np.eye(X.shape[1]), g)
    return beta


@pytest.fixture(scope="module")
def synth_df(spark):
    return spark.createDataFrame(
        _synthetic(), "f0 double, f1 double, label int"
    ).cache()


def test_distributed_irls_equals_numpy(spark, synth_df):
    beta = logistic_train(synth_df, features=["f0", "f1"])
    rows = _synthetic()
    X = np.array([[r[0], r[1], 1.0] for r in rows])
    y = np.array([r[2] for r in rows], dtype=float)
    expect = _numpy_irls(X, y)
    assert np.allclose(beta, expect, atol=1e-8), (beta, expect)


def test_signal_recovery(spark, synth_df):
    beta = logistic_train(synth_df, features=["f0", "f1"])
    assert beta[0] > 0 and beta[1] < 0  # generating signs recovered
    scored = logistic_score(synth_df, beta, features=["f0", "f1"])
    acc = scored.select(
        F.avg(((F.col("prob") > 0.5).cast("int") == F.col("label")).cast("double"))
    ).collect()[0][0]
    assert acc > 0.85  # noise dimension bounds attainable accuracy below 1.0


def test_trained_scorer_separates_er_pairs(spark):
    # same mention set as the cross-domain channel tests: one identity with
    # dot and domain-typo variants + two unrelated neighbours
    rows = [
        ("jo.hn@gmail.com", "jo.hn", "gmail.com"),
        ("john@gmail.com", "john", "gmail.com"),
        ("jo.hn@gmial.com", "jo.hn", "gmial.com"),
        ("johnx@gmail.com", "johnx", "gmail.com"),
        ("mary@gmial.com", "mary", "gmial.com"),
    ]
    truth = {"jo.hn@gmail.com": "id1", "john@gmail.com": "id1",
             "jo.hn@gmial.com": "id1", "johnx@gmail.com": "id2",
             "mary@gmial.com": "id3"}
    m = spark.createDataFrame(
        rows, "email string, local_canon string, domain_canon string"
    ).withColumn("valid_lax", F.lit(True))
    feats = with_pair_features(
        score_pairs(candidate_pairs(m, HOT, TGT))
    )
    mk = F.udf(lambda e: truth[e])
    labeled = feats.withColumn(
        "label", (mk("email_a") == mk("email_b")).cast("int")
    ).cache()
    # few separable points: keep Newton step count low so weights stay finite
    beta = logistic_train(labeled, iters=4)
    got = logistic_score(labeled, beta).select("label", "prob").collect()
    pos = [r.prob for r in got if r.label == 1]
    neg = [r.prob for r in got if r.label == 0]
    assert pos and neg
    assert min(pos) > max(neg)  # trained scorer reproduces the separation
