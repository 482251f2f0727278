"""Tests for the training-data pipeline operators (text analysis, dedup,
similarity search, multimodal plumbing).

Synthetic inputs with planted duplicates/near-duplicates so recall and
precision are asserted against known ground truth, independent of the
driver's DuckDB oracles (which cover the exact-SQL-expressible subset)."""

from __future__ import annotations

from pyspark.sql import Row

# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------


def test_token_counts(spark):
    from email_address_parser_spark.functions.text_analysis import with_token_counts

    df = spark.createDataFrame(
        [Row(doc_id=1, text="Hello, world! x2"), Row(doc_id=2, text="   "), Row(doc_id=3, text="one")]
    )
    rows = {r.doc_id: r for r in with_token_counts(df).collect()}
    # subtokens of "Hello, world! x2": Hello , world ! x 2
    assert (rows[1].n_tokens, rows[1].n_words, rows[1].n_subtokens) == (3, 3, 6)
    assert rows[2].n_tokens == 0
    assert rows[3].n_words == 1


def test_quality_monotone(spark):
    from email_address_parser_spark.functions.text_analysis import with_quality

    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="the quick brown fox jumps over the lazy dog " * 5),
            Row(doc_id=2, text="@@@@ #### !!!! %%%%"),
        ]
    )
    rows = {r.doc_id: r for r in with_quality(df).collect()}
    assert rows[1].quality_score > rows[2].quality_score
    assert rows[2].alpha_ratio == 0.0
    assert 0.0 <= rows[1].quality_score <= 1.0


def test_lang_id(spark):
    from email_address_parser_spark.functions.text_analysis import with_lang_id

    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="the cat and the dog is in that house"),
            Row(doc_id=2, text="der hund und die katze ist nicht ein tier"),
            Row(doc_id=3, text="le chat et les chiens est dans une maison pour"),
            Row(doc_id=4, text="el perro y los gatos es una casa que"),
            Row(doc_id=5, text="这是 中文 文本 测试"),
            Row(doc_id=6, text="zzz qqq xxx"),
        ]
    )
    got = {r.doc_id: r.lang_pred for r in with_lang_id(df).collect()}
    assert got == {1: "en", 2: "de", 3: "fr", 4: "es", 5: "zh", 6: "und"}


def test_winnow_fingerprint_overlap(spark):
    """Near-duplicate docs share most winnow fingerprints; unrelated don't."""
    from email_address_parser_spark.functions.text_analysis import winnow_fingerprints

    base = "the quick brown fox jumps over the lazy dog and runs far away home"
    edited = base.replace("lazy", "sleepy")
    other = "completely different content about spark query engines at scale"
    df = spark.createDataFrame(
        [Row(doc_id=1, text=base), Row(doc_id=2, text=edited), Row(doc_id=3, text=other)]
    )
    fps = winnow_fingerprints(df).collect()
    sets = {i: {r.gram_hash for r in fps if r.doc_id == i} for i in (1, 2, 3)}
    j12 = len(sets[1] & sets[2]) / len(sets[1] | sets[2])
    j13 = len(sets[1] & sets[3]) / len(sets[1] | sets[3])
    assert j12 > 0.5
    assert j13 == 0.0


def test_repetition_filters(spark):
    """Planted repetition: a looped generation is flagged, clean prose kept."""
    from email_address_parser_spark.functions.text_analysis import with_repetition

    clean = "the quick brown fox jumps over one lazy dog and runs far away home tonight"
    looped = "buy now " * 30  # one bigram dominates; 5-grams all duplicated
    tiny = "one two"  # shorter than a 5-gram: dup_5gram_frac defined as 0
    df = spark.createDataFrame(
        [Row(doc_id=1, text=clean), Row(doc_id=2, text=looped), Row(doc_id=3, text=tiny)]
    )
    rows = {r.doc_id: r for r in with_repetition(df).collect()}
    assert rows[1].rep_keep and rows[1].dup_5gram_frac == 0.0 and rows[1].ttr == 1.0
    assert not rows[2].rep_keep
    assert rows[2].top_bigram_frac > 0.4  # "buy now"/"now buy" dominate
    assert rows[2].dup_5gram_frac > 0.9
    assert rows[2].ttr < 0.1  # 2 distinct words / 60 tokens
    assert rows[3].dup_5gram_frac == 0.0 and rows[3].dup_bigram_frac == 0.0


def test_tfidf_topk_ranks_rare_terms(spark):
    """A term unique to one doc outscores corpus-wide stopwords; top-k is
    deterministic under the (score DESC, term ASC) tie-break."""
    from email_address_parser_spark.operators.ranking import tfidf_topk

    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="the shared words here plus zyzzyva zyzzyva"),
            Row(doc_id=2, text="the shared words here plus aardvark"),
            Row(doc_id=3, text="the shared words here plus nothing"),
        ]
    )
    out = tfidf_topk(df, k=3).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    for d in (1, 2, 3):
        ranks = [r.rank for r in sorted(by_doc[d], key=lambda r: r.rank)]
        assert ranks == [1, 2, 3]
    # the doc-unique term wins rank 1 (tf=2 for zyzzyva strengthens it)
    top1 = {d: min(rs, key=lambda r: r.rank).term for d, rs in by_doc.items()}
    assert top1[1] == "zyzzyva" and top1[2] == "aardvark" and top1[3] == "nothing"
    # scores of the shared terms are identical across docs (same tf, same df)
    shared = {(r.doc_id, r.term): r.score for r in out if r.term == "plus"}
    assert len(set(shared.values())) <= 1


# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------


def _dup_corpus(spark):
    rows = [
        Row(doc_id=1, source="s0", text="The quick brown fox jumps over the lazy dog"),
        # exact dup modulo case/whitespace of 1
        Row(doc_id=2, source="s0", text="  the QUICK brown   fox jumps over the lazy dog "),
        # near dup of 1 (one word changed)
        Row(doc_id=3, source="s0", text="The quick brown fox leaps over the lazy dog"),
        Row(doc_id=4, source="s0", text="completely unrelated text about query engines"),
        Row(doc_id=5, source="s1", text="another standalone document with its own words"),
    ]
    return spark.createDataFrame(rows)


def test_exact_dedup(spark):
    from email_address_parser_spark.operators.dedup import exact_dedup

    out = {r.doc_id: r for r in exact_dedup(_dup_corpus(spark)).collect()}
    assert out[1].canonical_id == 1 and not out[1].is_duplicate
    assert out[2].canonical_id == 1 and out[2].is_duplicate
    assert not out[3].is_duplicate and not out[4].is_duplicate


def test_ngram_jaccard_pairs(spark):
    from email_address_parser_spark.operators.dedup import ngram_jaccard_pairs

    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(_dup_corpus(spark), threshold=0.0).collect()
    }
    assert pairs[(1, 2)] == 1.0  # case/ws-normalized bigrams identical
    assert 0.5 < pairs[(1, 3)] < 1.0
    assert pairs[(1, 4)] == 0.0
    assert (1, 5) not in pairs  # different block


def test_minhash_near_dup_recall(spark):
    from email_address_parser_spark.operators.dedup import minhash_near_dup

    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in minhash_near_dup(_dup_corpus(spark), threshold=0.5).collect()
    }
    assert (1, 2) in got and got[(1, 2)] == 1.0
    assert (1, 3) in got  # near dup recovered via LSH
    assert (1, 4) not in got


def test_simhash_near_dup(spark):
    """For max_hamming <= 3 the 4x16 banding is recall-COMPLETE (pigeonhole),
    so the Spark result must equal a brute-force all-pairs hamming filter."""
    from email_address_parser_spark.operators.dedup import (
        simhash_batch,
        simhash_near_dup,
    )

    # deterministic kernel: a text's signature does not depend on its batch
    assert simhash_batch(["the quick fox"])[0] == simhash_batch(
        ["a b c", "the quick fox"]
    )[1]
    corpus = _dup_corpus(spark)
    rows = corpus.collect()
    sigs = {
        r.doc_id: int(sig)
        for r, sig in zip(rows, simhash_batch([r.text for r in rows]))
    }
    expected = {}
    ids = sorted(sigs)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            h = bin((sigs[a] ^ sigs[b]) & 0xFFFFFFFFFFFFFFFF).count("1")
            if h <= 3:
                expected[(a, b)] = h
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_near_dup(corpus, max_hamming=3).collect()
    }
    assert got == expected
    assert (1, 2) in got and got[(1, 2)] == 0  # normalized-identical → same sig


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------


def _vec_corpus(spark):
    import numpy as np

    rng = np.random.RandomState(7)
    base = rng.standard_normal((6, 64)).astype("float32")
    base[1] = base[0] + 0.01 * rng.standard_normal(64).astype("float32")  # near-dup of 0
    base[2] = -base[0]  # opposite
    rows = [
        Row(vec_id=i, embedding=[float(x) for x in base[i]]) for i in range(6)
    ]
    return spark.createDataFrame(rows)


def test_brute_force_topk(spark):
    from email_address_parser_spark.operators.similarity import brute_force_topk

    out = brute_force_topk(_vec_corpus(spark), [0], k=3).collect()
    assert [r.neighbor_id for r in sorted(out, key=lambda r: r.rank)][0] == 1
    assert all(r.query_id == 0 for r in out)
    assert len(out) == 3
    by_rank = sorted(out, key=lambda r: r.rank)
    assert by_rank[0].cosine > 0.99
    assert all(by_rank[i].cosine >= by_rank[i + 1].cosine for i in range(len(by_rank) - 1))


def test_near_dup_pairs(spark):
    from email_address_parser_spark.operators.similarity import near_dup_pairs

    got = {(r.id_a, r.id_b): r.cosine for r in near_dup_pairs(_vec_corpus(spark), 0.95).collect()}
    assert (0, 1) in got and got[(0, 1)] > 0.99
    assert all(k == (0, 1) for k in got)


def test_lsh_topk_finds_near_dup(spark):
    from email_address_parser_spark.operators.similarity import lsh_topk

    out = lsh_topk(_vec_corpus(spark), [0], k=3).collect()
    # the planted near-identical vector shares the bucket and ranks first
    assert sorted(out, key=lambda r: r.rank)[0].neighbor_id == 1


def test_lsh_bucket_deterministic(spark):
    from email_address_parser_spark.operators.similarity import with_lsh_bucket

    df = _vec_corpus(spark)
    a = {r.vec_id: r.bucket for r in with_lsh_bucket(df).collect()}
    b = {r.vec_id: r.bucket for r in with_lsh_bucket(df).collect()}
    assert a == b
    assert a[0] == a[1]  # near-identical vectors share the 16-bit signature


# ---------------------------------------------------------------------------
# multimodal plumbing
# ---------------------------------------------------------------------------


def test_multimodal_features_real_png_decode(spark):
    import hashlib

    import numpy as np

    from email_address_parser_spark.functions.png import decode_png
    from email_address_parser_spark.operators.multimodal import (
        _synth_pixels,
        attach_image_payload,
        extract_image_features,
        media_metadata,
    )

    docs = spark.createDataFrame(
        [Row(doc_id=7, text="hello multimodal"), Row(doc_id=8, text="payload two")]
    )
    media = attach_image_payload(docs)
    # the stored payload is a REAL PNG: decoding it locally reproduces the
    # deterministic pixel pattern exactly
    payload7 = media.where("doc_id = 7").select("payload").collect()[0][0]
    w, h, px = decode_png(bytes(payload7))
    assert (px == _synth_pixels(7)).all()
    feats = {r.doc_id: r for r in extract_image_features(media).collect()}
    meta = {r.doc_id: r for r in media_metadata(media).collect()}
    for d in (7, 8):
        f = feats[d]
        expect = _synth_pixels(d).astype(int)
        assert f.decode_ok
        # IHDR dims == metadata struct dims
        assert (f.width, f.height) == (meta[d].width, meta[d].height)
        assert f.n_pixels == expect.size
        flat = expect.reshape(-1)
        assert f.checksum == int(((np.arange(flat.size) + 1) * flat).sum())
        assert f.mean_lum == int(flat.sum() // flat.size)
        assert f.thumb_checksum == int(expect[::8, ::8].sum())
        assert f.digest == hashlib.md5(
            expect.astype("uint8").tobytes()
        ).hexdigest()
    assert meta[7].mime == "image/png"


def test_multimodal_non_png_mime_is_honest_stub(spark):
    from pyspark.sql import functions as SF

    from email_address_parser_spark.operators.multimodal import (
        attach_image_payload,
        extract_image_features,
    )

    docs = spark.createDataFrame([Row(doc_id=3, text="jpegish")])
    media = attach_image_payload(docs).withColumn(
        "media",
        SF.struct(
            SF.col("media.width"),
            SF.col("media.height"),
            SF.lit("image/jpeg").alias("mime"),
        ),
    )
    row = extract_image_features(media).collect()[0]
    assert row.decode_ok is False and row.width is None and row.digest is None


def test_media_metadata_prunes_payload(spark):
    from email_address_parser_spark.operators.multimodal import (
        attach_image_payload,
        media_metadata,
    )
    import tempfile

    docs = spark.createDataFrame([Row(doc_id=1, text="prune me")])
    with tempfile.TemporaryDirectory() as d:
        attach_image_payload(docs).write.mode("overwrite").parquet(d)
        plan = media_metadata(spark.read.parquet(d))._jdf.queryExecution().executedPlan().toString()
        assert "payload" not in plan  # column pruned from the parquet scan


def test_sample_frames(spark):
    from email_address_parser_spark.operators.multimodal import sample_frames

    docs = spark.createDataFrame([Row(doc_id=1, text="a" * 33)])
    out = sorted(sample_frames(docs, stride=16).collect(), key=lambda r: r.frame_idx)
    assert [r.frame_idx for r in out] == [0, 1, 2]
    assert all(r.frame_code == ord("a") for r in out)


# ---------------------------------------------------------------------------
# training-data assembly (splits / packing / sketch / hygiene)
# ---------------------------------------------------------------------------


def test_split_assign_deterministic_and_stratified(spark):
    from email_address_parser_spark.operators.sampling import split_assign

    docs = spark.createDataFrame([Row(doc_id=i, text="x") for i in range(2000)])
    a = {r.doc_id: r.split for r in split_assign(docs).collect()}
    b = {r.doc_id: r.split for r in split_assign(docs.repartition(7)).collect()}
    assert a == b  # partitioning cannot move a row between splits
    from collections import Counter

    c = Counter(a.values())
    assert 0.75 < c["train"] / 2000 < 0.85
    assert 0.05 < c["val"] / 2000 < 0.15
    # a different salt re-draws
    c2 = {r.doc_id: r.split for r in split_assign(docs, salt="v2").collect()}
    assert c2 != a


def test_pack_sequences_budget_and_order(spark):
    from email_address_parser_spark.operators.sampling import pack_sequences

    rows = [Row(doc_id=i, source="s0", n_tokens=100) for i in range(10)]
    out = sorted(
        pack_sequences(spark.createDataFrame(rows), "n_tokens", budget=250).collect(),
        key=lambda r: r.doc_id,
    )
    # 100-token docs into 250-token bins: docs 0,1,2 -> bin 0 (cum 0,100,200),
    # docs 3,4 -> bin 1 (300,400), ...
    assert [r.bin_id for r in out] == [0, 0, 0, 1, 1, 2, 2, 2, 3, 3]
    assert [r.cum_before for r in out] == [100 * i for i in range(10)]


def test_kmv_sketch_accuracy(spark):
    from email_address_parser_spark.operators.sampling import kmv_sketch

    rows = [
        Row(g="big", v=f"val{i}") for i in range(5000)
    ] + [Row(g="small", v=f"v{i}") for i in range(10)]
    out = {r.g: r for r in kmv_sketch(spark.createDataFrame(rows), "g", "v", k=64).collect()}
    assert out["small"].kmv_estimate == 10.0  # exact below k
    assert out["big"].n_exact == 5000
    assert abs(out["big"].kmv_estimate - 5000) / 5000 < 0.35  # k=64 -> ~12% rse


def test_redact_pii(spark):
    from email_address_parser_spark.functions.redact import redact_pii

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="mail a.b@c.org or call +1 (555) 123-4567 from 10.0.0.1"),
            Row(doc_id=2, text="nothing sensitive here"),
        ]
    )
    out = {r.doc_id: r for r in redact_pii(docs).collect()}
    assert (out[1].n_emails, out[1].n_ips, out[1].n_phones) == (1, 1, 1)
    assert "[EMAIL]" in out[1].redacted and "[IP]" in out[1].redacted
    assert "a.b@c.org" not in out[1].redacted and "555" not in out[1].redacted
    assert out[2].redacted == "nothing sensitive here"


def test_dedup_keep_best_clusters(spark):
    from email_address_parser_spark.operators.dedup import dedup_keep_best

    out = {r.doc_id: r for r in dedup_keep_best(_dup_corpus(spark), threshold=0.5).collect()}
    # docs 1,2,3 are one near-dup cluster; 4 and 5 are singletons
    assert out[1].cluster_id == out[2].cluster_id == out[3].cluster_id == 1
    assert out[4].cluster_id == 4 and out[5].cluster_id == 5
    kept = [d for d, r in out.items() if r.is_kept]
    assert len(kept) == 3  # one per cluster
    cluster1_kept = [d for d in (1, 2, 3) if out[d].is_kept]
    assert len(cluster1_kept) == 1
    best = max((1, 2, 3), key=lambda d: (out[d].quality_score, -d))
    assert cluster1_kept[0] == best


# ---------------------------------------------------------------------------
# semantic dedup (SemDeDup one-pass variant)
# ---------------------------------------------------------------------------


def _sem_corpus(spark):
    """Two well-separated directions; vecs 0/1 are the (lowest-id) centroids,
    one per direction; duplicates are planted AWAY from the centroid rows so
    the cell equi-join is what finds them."""
    import numpy as np

    rng = np.random.RandomState(11)
    d0 = rng.standard_normal(64)
    d1 = rng.standard_normal(64)
    d1 -= d0 * (d1 @ d0) / (d0 @ d0)  # orthogonalize
    vecs = [
        d0,                                     # 0: centroid of cell 0
        d1,                                     # 1: centroid of cell 1
        d0 + 0.6 * rng.standard_normal(64),     # 2
        vec3 := d0 + 0.7 * rng.standard_normal(64),   # 3
        vec3 + 0.01 * rng.standard_normal(64),  # 4: near-dup of 3, cell 0
        d1 + 0.6 * rng.standard_normal(64),     # 5
        d1 + 0.7 * rng.standard_normal(64),     # 6
    ]
    return spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in v]) for i, v in enumerate(vecs)]
    )


def test_semantic_dedup_drops_planted_duplicate(spark):
    from email_address_parser_spark.operators.similarity import semantic_dedup

    out = {r.vec_id: r for r in semantic_dedup(
        _sem_corpus(spark), threshold=0.98, n_centroids=2
    ).collect()}
    assert len(out) == 7
    # vec 4 is the planted near-identical copy of vec 3: same cell, dropped
    assert out[3].keep and out[3].dup_of is None and out[3].dup_cos is None
    assert not out[4].keep and out[4].dup_of == 3 and out[4].dup_cos > 0.99
    # direction split survived the quantizer
    assert out[3].cell == out[4].cell
    assert out[2].cell != out[5].cell
    # every drop points at a strictly lower id (one-pass keeper rule)
    for r in out.values():
        assert r.keep == (r.dup_of is None)
        if r.dup_of is not None:
            assert r.dup_of < r.vec_id


def test_semantic_dedup_kept_set_is_conflict_free(spark):
    """No two KEPT vectors in the same cell may be >= threshold apart —
    otherwise the higher id would have had a lower-id neighbor."""
    from email_address_parser_spark.operators.similarity import (
        near_dup_pairs,
        semantic_dedup,
        with_norm,
        _best_cell,
        _centroid_literals,
    )
    from pyspark.sql import functions as F

    corpus = _vec_corpus(spark)
    tagged = semantic_dedup(corpus, threshold=0.6, n_centroids=2)
    kept_ids = [r.vec_id for r in tagged.where("keep").collect()]
    carr = _centroid_literals(corpus, 2, "vec_id", "embedding")
    cells = with_norm(corpus, "embedding").withColumn(
        "cell", _best_cell(carr, F.col("embedding"), F.col("_norm"))
    ).select("vec_id", "embedding", "cell")
    kept = cells.where(F.col("vec_id").isin(kept_ids))
    conflicts = near_dup_pairs(kept, threshold=0.6, block_col="cell").collect()
    assert conflicts == []


def test_semantic_dedup_partition_invariant(spark):
    from email_address_parser_spark.operators.similarity import semantic_dedup

    corpus = _vec_corpus(spark)
    a = sorted(map(tuple, semantic_dedup(corpus, 0.8, 2).collect()))
    b = sorted(map(tuple, semantic_dedup(corpus.repartition(7), 0.8, 2).collect()))
    assert a == b


# ---------------------------------------------------------------------------
# weighted sampling (A-ES)
# ---------------------------------------------------------------------------


def test_weighted_sample_deterministic_and_ranked(spark):
    from email_address_parser_spark.operators.sampling import weighted_sample

    docs = spark.createDataFrame(
        [Row(doc_id=i, w=(i % 10) + 1) for i in range(200)]
    )
    out = weighted_sample(docs, "w", n=25, key_col="doc_id").collect()
    assert len(out) == 25
    assert [r.rank for r in sorted(out, key=lambda r: r.rank)] == list(range(1, 26))
    by_rank = sorted(out, key=lambda r: r.rank)
    for i in range(len(by_rank) - 1):
        assert (by_rank[i].priority, -by_rank[i].doc_id) >= (
            by_rank[i + 1].priority, -by_rank[i + 1].doc_id,
        )
    # pure function of (salt, key, weight): identical under repartition
    again = weighted_sample(docs.repartition(13), "w", n=25, key_col="doc_id").collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_weighted_sample_respects_weights(spark):
    """With weights 1 vs 100 the heavy half must dominate the sample —
    inclusion probability is proportional to weight (A-ES property)."""
    from email_address_parser_spark.operators.sampling import weighted_sample

    docs = spark.createDataFrame(
        [Row(doc_id=i, w=100 if i < 500 else 1) for i in range(1000)]
    )
    out = weighted_sample(docs, "w", n=100, key_col="doc_id").collect()
    heavy = sum(1 for r in out if r.doc_id < 500)
    assert heavy >= 90
