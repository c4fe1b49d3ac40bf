"""BM25 scoring vs an independent pure-Python implementation."""

import math
import re
from collections import Counter

from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators import (
    retrieval,
)

SF_DIR = "/root/testdata/sf0.001"
TERMS = ["vector", "merge", "window"]


def _py_bm25(rows, terms, k1=1.2, b=0.75):
    toks = {r["doc_id"]: re.sub(r"[^a-z0-9]+", " ", (r["text"] or "").lower()).split() for r in rows}
    n = len(rows)
    dls = {d: len(t) for d, t in toks.items() if t}
    avgdl = sum(dls.values()) / n
    df = Counter(t for d, tk in toks.items() for t in set(tk) if t in terms)
    scores = {}
    for d, tk in toks.items():
        tfc = Counter(t for t in tk if t in terms)
        s = 0.0
        for t in sorted(tfc):
            idf = math.log(1.0 + (n - df[t] + 0.5) / (df[t] + 0.5))
            s += idf * (tfc[t] * (k1 + 1.0)) / (
                tfc[t] + k1 * ((1.0 - b) + b * (dls[d] / avgdl))
            )
        if tfc:
            scores[d] = math.floor(s * 1000000 + 0.5) / 1000000.0
    return sorted(scores.items(), key=lambda x: (-x[1], x[0]))


def test_bm25_matches_pure_python(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    rows = [r.asDict() for r in docs.select("doc_id", "text").collect()]
    expected = _py_bm25(rows, TERMS)[:10]
    got = [(r["doc_id"], r["score"]) for r in retrieval.bm25_topk(docs, TERMS, k=10).collect()]
    assert got == expected


def test_bm25_ranked_head_equals_topk(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    topk = [(r["doc_id"], r["score"]) for r in retrieval.bm25_topk(docs, TERMS, k=10).collect()]
    ranked = retrieval.bm25_ranked(docs, TERMS, k=10)
    ordered = [
        (r["doc_id"], r["score"])
        for r in sorted(ranked.collect(), key=lambda r: r["rank"])
    ]
    assert ordered == topk


def test_rrf_fusion_scores_recomputed_independently(spark):
    # every fused row's score must equal the RRF formula applied to its
    # own rank columns, and the result must be rank-sorted
    import math

    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.plans.queries import (
        registry,
    )

    rows = registry()["q166_hybrid_rrf"].fn(spark, SF_DIR).collect()
    assert rows, "fusion must return results"
    for r in rows:
        assert r["lex_rank"] is not None or r["vec_rank"] is not None
        expect = 0.0
        if r["lex_rank"] is not None:
            expect += 1.0 / (60.0 + r["lex_rank"])
        if r["vec_rank"] is not None:
            expect += 1.0 / (60.0 + r["vec_rank"])
        assert abs(r["rrf_score"] - math.floor(expect * 1e6 + 0.5) / 1e6) < 1e-12
    scores = [r["rrf_score"] for r in rows]
    assert scores == sorted(scores, reverse=True)
