"""BM25 text retrieval scoring — beyond-reference layer.

Ranked keyword retrieval over the documents corpus: the standard
Okapi BM25 function

    score(d, q) = sum_t idf(t) * tf * (k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
    idf(t)      = ln(1 + (N - df + 0.5) / (df + 0.5))

expressed as pure DataFrame aggregations — no UDFs, no driver loops.

Scale shape (100 TB corpus): the only full-corpus pass is the document
token-length aggregation (one map-side-combined groupBy on doc_id —
needed for dl/avgdl regardless of query). Everything query-dependent
filters to the query's terms *before* any shuffle, so tf/df
aggregations move only rows whose term is in the query; the df and
corpus-stats sides are single-row / per-term tiny and broadcast.

Cross-engine float parity: each per-term score uses one fixed
expression tree (identical operand order in the DuckDB oracle), and
the per-document sum over matched terms folds in sorted term order
(``aggregate(array_sort(collect_list(...)))`` vs ``list_sum(list(...
ORDER BY term))`` — the established q150 device), so IEEE results are
bit-identical on both engines before the final 6dp floor.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..functions.rounding import floor_round6


# Okapi BM25's term-frequency saturation and length normalization
_K1 = 1.2
_B = 0.75


def tokenize(docs: DataFrame) -> DataFrame:
    """One (doc_id, term) row per token of ``text``: lowercase,
    non-alphanumerics to spaces, split. JVM expressions only."""
    toks = F.split(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " "), " ")
    return docs.select(F.col("doc_id"), F.explode(toks).alias("term")).where(F.col("term") != "")


def bm25_scores(
    docs: DataFrame, query_terms: list[str] | None, *, terms_df: DataFrame | None = None
) -> DataFrame:
    """(doc_id, score) for every document matching at least one query
    term; score floored to 6dp (k1 = 1.2, b = 0.75). The shared scoring
    core of ``bm25_topk`` (headline retrieval) and ``bm25_ranked`` (rank
    lists for fusion). Query terms come either as a literal list or as a
    one-column ``terms_df`` (`term`) — the data-dependent form that
    pseudo-relevance-feedback expansion (q180) needs."""
    tok = tokenize(docs)
    dl = tok.groupBy("doc_id").agg(F.count("*").alias("dl"))

    corpus = docs.agg(F.count("*").alias("n_docs")).crossJoin(
        dl.agg(F.sum("dl").alias("sum_dl"))
    )

    if terms_df is not None:
        qtok = tok.join(F.broadcast(terms_df.select("term").distinct()), "term")
    else:
        qtok = tok.where(F.col("term").isin(query_terms))
    tf = qtok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_t = tf.groupBy("term").agg(F.count("*").alias("df"))

    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs").cast("double")
    idf = F.log(
        F.lit(1.0) + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    tf_d = F.col("tf").cast("double")
    term_score = (
        idf
        * (tf_d * F.lit(_K1 + 1.0))
        / (tf_d + F.lit(_K1) * (F.lit(1.0 - _B) + F.lit(_B) * (F.col("dl").cast("double") / avgdl)))
    )

    scored = (
        tf.join(F.broadcast(df_t), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .select(F.col("doc_id"), F.col("term"), term_score.alias("s"))
    )
    per_doc = scored.groupBy("doc_id").agg(
        floor_round6(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("term", "s"))),
                F.lit(0.0),
                lambda acc, x: acc + x["s"],
            )
        ).alias("score")
    )
    return per_doc


def bm25_topk(docs: DataFrame, query_terms: list[str], *, k: int = 10) -> DataFrame:
    """Top-k documents, deterministically tiebroken by id. The top-k is
    TakeOrderedAndProject (no single-partition window) — the rounded
    score plus the id tiebreak makes the cut unambiguous on both
    engines."""
    per_doc = bm25_scores(docs, query_terms)
    return per_doc.orderBy(F.col("score").desc(), F.col("doc_id")).limit(k)


def bm25_ranked(docs: DataFrame, query_terms: list[str], *, k: int = 50) -> DataFrame:
    """(doc_id, score, rank) for the top-k: the rank-list form consumed by
    reciprocal-rank fusion (q166). The window is over the matched-doc
    scores only (query-term-filtered — bounded), not the corpus."""
    from pyspark.sql import Window

    per_doc = bm25_scores(docs, query_terms)
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id"))
    return per_doc.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def mmr_select(
    candidates: DataFrame,
    embeddings: DataFrame,
    *,
    k: int = 5,
    lam: float = 0.7,
) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell & Goldstein, SIGIR'98):
    from ``candidates`` (doc_id, rel) and ``embeddings`` (vec_id,
    embedding), greedily pick ``k`` results maximizing
    ``lam * relevance - (1 - lam) * max-similarity-to-already-picked``
    — the diversification step between retrieval and a context window,
    so near-duplicate hits don't crowd out coverage.

    The selection is inherently k-sequential, so the loop unrolls into
    k plan steps — but every step operates on the CANDIDATE table (the
    retriever's top-N, tens of rows broadcast everywhere), never the
    corpus; at scale the candidate list stays the same size and the
    unrolled plan is constant work. Scores are 6dp-floored before every
    argmax with id tiebreaks, so the greedy trajectory is deterministic
    and reproducible cross-engine (q179 oracle unrolls the same steps).
    """
    from ..operators.similarity import cosine_expr

    # the candidate table and its pairwise sims are tiny (top-N rows /
    # N^2 pairs) but feed every unrolled step — eagerly checkpoint them
    # (and each 1-row pick below) or the k-step plan re-derives the
    # retriever + sims per nesting level (the pagerank lesson:
    # truncation turns O(k^2) re-derivations into O(k))
    cand = (
        candidates.join(
            embeddings.select(F.col("vec_id").alias("doc_id"), F.col("embedding").alias("v")),
            "doc_id",
        )
        .select(F.col("doc_id").alias("d"), F.col("rel"), "v")
        .localCheckpoint(eager=True)
    )
    sims = (
        F.broadcast(cand.select(F.col("d").alias("a"), F.col("v").alias("va")))
        .crossJoin(cand.select(F.col("d").alias("b"), F.col("v").alias("vb")))
        .where(F.col("a") != F.col("b"))
        .select("a", "b", floor_round6(cosine_expr(F.col("va"), F.col("vb"))).alias("sim"))
        .localCheckpoint(eager=True)
    )

    first = (
        cand.select(
            F.col("d"),
            floor_round6(F.lit(lam) * F.col("rel") - F.lit(1.0 - lam) * F.lit(0.0)).alias(
                "mmr"
            ),
        )
        .orderBy(F.col("mmr").desc(), "d")
        .limit(1)
        .select("d", F.lit(1).alias("pick_order"), "mmr")
        .localCheckpoint(eager=True)
    )
    selected = first
    for step in range(2, k + 1):
        sel_ids = selected.select(F.col("d").alias("b"))
        maxsim = (
            sims.join(F.broadcast(sel_ids), "b")
            .groupBy("a")
            .agg(F.max("sim").alias("ms"))
        )
        pick = (
            cand.join(selected.select(F.col("d").alias("taken")), cand["d"] == F.col("taken"), "left_anti")
            .join(maxsim, cand["d"] == maxsim["a"])
            .select(
                "d",
                floor_round6(
                    F.lit(lam) * F.col("rel") - F.lit(1.0 - lam) * F.col("ms")
                ).alias("mmr"),
            )
            .orderBy(F.col("mmr").desc(), "d")
            .limit(1)
            .select("d", F.lit(step).alias("pick_order"), "mmr")
        )
        selected = selected.unionByName(pick).localCheckpoint(eager=True)
    return selected.select(
        F.col("d").alias("doc_id"), "pick_order", F.col("mmr").alias("mmr_score")
    )
