"""Product quantization: codebook determinism, encode validity, and ADC
agreement with an order-faithful reference computation."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from thymeflow_back_spark.operators.pq import (
    pq_adc_topk,
    pq_codebooks,
    pq_encode,
)
from thymeflow_back_spark.tables import load

SF = "/root/testdata/sf0.001"
M, K = 4, 8


def test_pq_codebooks_deterministic_and_shaped(spark):
    emb = load(spark, SF, "embeddings")
    b1 = pq_codebooks(emb, "vec_id", "embedding", M, K, 1)
    b2 = pq_codebooks(emb, "vec_id", "embedding", M, K, 1)
    assert b1 == b2  # content-addressed seeds + exact sums → bit-identical
    assert len(b1) == M and all(len(bj) == K for bj in b1)
    assert all(len(c) == 64 // M for bj in b1 for c in bj)


def test_pq_encode_and_adc_match_reference(spark):
    """ADC distances and ranking match a reference computed row-by-row in
    Python with the SAME fold order (left-to-right per subspace, subspace-
    chained), and codes are valid nearest-codeword assignments."""
    emb = load(spark, SF, "embeddings").filter(F.col("vec_id") < 120)
    books = pq_codebooks(emb, "vec_id", "embedding", M, K, 1)
    sub_d = 64 // M

    vecs = {
        r.vec_id: [float(x) for x in r.embedding] for r in emb.collect()
    }

    def dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    def l2(x, c):
        return (dot(x, x) + dot(c, c)) - 2 * dot(x, c)

    def encode(v):
        out = []
        for j in range(M):
            x = v[j * sub_d : (j + 1) * sub_d]
            scores = [l2(x, c) for c in books[j]]
            out.append(scores.index(min(scores)))
        return out

    codes = {r.vec_id: [r[f"code{j}"] for j in range(M)] for r in pq_encode(emb, "vec_id", "embedding", books).collect()}
    assert codes == {vid: encode(v) for vid, v in vecs.items()}

    n_q, topk = 5, 4
    got = pq_adc_topk(
        emb, emb.filter(F.col("vec_id") < n_q), "vec_id", "embedding", books, topk
    ).collect()
    ref = {}
    for q in range(n_q):
        qv = vecs[q]
        dists = []
        for vid, code in codes.items():
            if vid == q:  # self-match excluded (parity with ivf/cosine topk)
                continue
            acc = None
            for j in range(M):
                x = qv[j * sub_d : (j + 1) * sub_d]
                c = books[j][code[j]]
                term = (dot(x, x) + dot(c, c)) - 2 * dot(x, c)
                acc = term if acc is None else acc + term
            dists.append((round(acc, 9), vid))
        dists.sort()
        for rank, (d, vid) in enumerate(dists[:topk], 1):
            ref[(q, rank)] = (vid, d)
    assert {(r.q_id, r.rank): (r.vec_id, r.adc_dist) for r in got} == ref


@pytest.mark.slow
def test_pq_rerank_recovers_exact_quality(spark):
    """Rerank invariants on the fixture embeddings: every rerank hit comes
    from the ADC shortlist, and exact-cosine recall@k of the reranked
    top-k is at least the ADC-only top-k's (deterministic data, so this
    is a fixed property, not a statistical one)."""
    from pyspark.sql import functions as F

    from thymeflow_back_spark.operators.pq import (
        pq_adc_topk,
        pq_codebooks,
        pq_rerank_topk,
    )
    from thymeflow_back_spark.operators.similarity import cosine_topk
    from thymeflow_back_spark.tables import load

    sf = "/root/testdata/sf0.001"
    emb = load(spark, sf, "embeddings")
    books = pq_codebooks(emb, "vec_id", "embedding", m=4, k=16, iterations=1)
    queries = emb.filter(F.col("vec_id") < 4)
    k, short = 5, 20
    adc = {(r["q_id"], r["vec_id"]) for r in pq_adc_topk(emb, queries, "vec_id", "embedding", books, k).collect()}
    shortlist = {(r["q_id"], r["vec_id"]) for r in pq_adc_topk(emb, queries, "vec_id", "embedding", books, short).collect()}
    rr = {(r["q_id"], r["vec_id"]) for r in pq_rerank_topk(emb, queries, "vec_id", "embedding", books, short, k).collect()}
    assert rr <= shortlist
    probes = queries.select("vec_id", F.col("embedding").alias("emb"))
    corpus = emb.select("vec_id", F.col("embedding").alias("emb"))
    exact = {(r["q_id"], r["c_id"]) for r in cosine_topk(corpus, probes, "vec_id", "emb", k).collect()}
    assert len(rr & exact) >= len(adc & exact)


def test_jl_projection_matches_numpy_reference(spark):
    """jl_project must equal the hashlib-derived sign matrix times the
    vector, computed in the same left-to-right fold order."""
    import numpy as np
    from pyspark.sql import functions as F

    from thymeflow_back_spark.operators.jl import jl_project, jl_sign_matrix

    d_in, d_out = 8, 3
    vecs = [(0, [0.1 * (i + 1) for i in range(d_in)]), (1, [1.0 - 0.2 * i for i in range(d_in)])]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    got = {r["vec_id"]: r["vec_jl"] for r in jl_project(df, "embedding", d_in, d_out).collect()}
    signs = jl_sign_matrix("jl", d_in, d_out)
    for vid, v in vecs:
        for j in range(d_out):
            acc = 0.0
            for x, s in zip(v, signs[j]):
                acc += x * s  # same fold order as similarity.dot
            assert got[vid][j] == acc, (vid, j)
    # the matrix is content-addressed: stable across calls and salts differ
    assert jl_sign_matrix("jl", d_in, d_out) == signs
    assert jl_sign_matrix("other", d_in, d_out) != signs


def test_pq_memo_trains_once_and_keeps_code_table(spark, monkeypatch):
    """With the cross-query memo on, two ADC runs over one corpus train the
    codebooks once and encode once — the code table survives the
    per-query release_pinned() — and answer exactly as a memo-off run.
    Off, the code table is a per-query pin that release_pinned() frees."""
    import thymeflow_back_spark.operators.pq as P
    from thymeflow_back_spark.operators.cachereg import (
        memo_stats,
        pinned_count,
        release_pinned,
        set_memo,
    )

    emb = load(spark, SF, "embeddings").filter(F.col("vec_id") < 80)
    queries = emb.filter(F.col("vec_id") < 3)

    def run():
        books = pq_codebooks(emb, "vec_id", "embedding", M, K, 1)
        rows = pq_adc_topk(emb, queries, "vec_id", "embedding", books, 4).collect()
        return {(r.q_id, r.rank): (r.vec_id, r.adc_dist) for r in rows}

    release_pinned()
    want = run()
    assert pinned_count() == 1  # memo off: the code table is pinned ...
    assert release_pinned() == 1  # ... and freed with the query
    encodes = []
    real_encode = P.pq_encode
    monkeypatch.setattr(
        P, "pq_encode", lambda *a: encodes.append(1) or real_encode(*a)
    )
    try:
        set_memo(True)
        assert run() == want
        release_pinned()
        assert run() == want
        assert pinned_count() == 0
        assert memo_stats() == {"pq_books": (1, 1), "pq_codes": (1, 1)}
        assert len(encodes) == 1
    finally:
        set_memo(False)
        release_pinned()
