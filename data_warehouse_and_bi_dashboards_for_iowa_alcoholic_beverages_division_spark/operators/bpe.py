"""Distributed BPE (byte-pair-encoding) tokenizer training.

Classic BPE (Sennrich et al. 2016): start from characters, repeatedly
find the most frequent adjacent symbol pair in the corpus and merge it
into one symbol. The distributed formulation mirrors how production
tokenizer training handles web-scale corpora:

- **Train on the word-frequency table, not the raw corpus.** Pair
  statistics only depend on (distinct word, count), so the corpus is
  collapsed once with a groupBy — at 100 TB this turns every later
  iteration into a job over |vocab| rows instead of |corpus| rows.
- **Per-iteration pair counts are one hash aggregate** over pairs
  exploded from each word's current token array, weighted by word
  frequency (map-side partial agg; the shuffle carries distinct pairs,
  not occurrences).
- **The argmax merge rule is a driver-side decision** (one tiny
  collect per iteration — same pattern as IVF centroids) with a
  deterministic tiebreak (count DESC, then pair text ASC). With
  ``batch=1`` that is classic sequential BPE; a larger batch accepts
  several symbol-disjoint rules per collect.
- **Applying a merge is a pure Column expression**: a left-to-right
  ``aggregate`` fold over the token array with (out, pending) struct
  state — greedy adjacent-pair replacement without Python row
  processing.
- **localCheckpoint per iteration** truncates the growing lineage
  (the same device as the connected-components loop in graph.py).

Correctness is pinned by a golden test against a pure-Python reference
BPE in ``tests/test_bpe.py``; the registry entry is rows-only (an
iterative argmax loop is not expressible as one DuckDB SQL query).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame


def _chars_expr(col: str) -> Column:
    """Word → array of single characters (split('') emits a trailing
    empty string on some engines; filter defensively)."""
    return F.expr(f"filter(split({col}, ''), x -> x <> '')")


def _merge_pair_expr(tokens: Column, left: str, right: str) -> Column:
    """Greedy left-to-right merge of every adjacent (left, right) pair
    inside a token array, as a pure aggregate fold — state is
    (out: array, pend: last unemitted token)."""
    merged = left + right
    empty = F.array().cast("array<string>")
    nul = F.lit(None).cast("string")

    def step(acc: Column, t: Column) -> Column:
        return (
            F.when(
                acc["pend"].isNull(),
                F.struct(acc["out"].alias("out"), t.alias("pend")),
            )
            .when(
                (acc["pend"] == left) & (t == right),
                F.struct(
                    F.array_append(acc["out"], F.lit(merged)).alias("out"),
                    nul.alias("pend"),
                ),
            )
            .otherwise(
                F.struct(
                    F.array_append(acc["out"], acc["pend"]).alias("out"),
                    t.alias("pend"),
                )
            )
        )

    def finish(acc: Column) -> Column:
        return F.when(acc["pend"].isNull(), acc["out"]).otherwise(
            F.array_append(acc["out"], acc["pend"])
        )

    return F.aggregate(
        tokens, F.struct(empty.alias("out"), nul.alias("pend")), step, finish
    )


def word_freq_table(docs: DataFrame) -> DataFrame:
    """(word, n) over the whitespace-lowercased ``text`` column — the
    only pass that touches the full corpus."""
    words = docs.select(
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("word")
    ).where(F.col("word") != "")
    return words.groupBy("word").agg(F.count(F.lit(1)).alias("n"))


def bpe_train_batched(
    docs: DataFrame,
    n_merges: int = 10,
    min_pair_count: int = 2,
    batch: int = 8,
) -> list[tuple[int, str, str, int]]:
    """The scale path for large merge budgets: accept up to ``batch``
    merge rules per distributed pair-count, cutting driver round-trips
    (and Spark job launches) from ``n_merges`` to ``~n_merges/batch``.
    A real 50k-merge tokenizer train is infeasible at one job per merge;
    this is the standard frequency-snapshot batching used by production
    BPE trainers.

    Selection per round: walk the top-``batch`` pairs in (count DESC,
    pair ASC) order and greedily accept each pair whose symbols are
    disjoint from every previously accepted pair *and* its merged
    output — disjoint pairs' counts are provably unchanged by the other
    accepted merges, so each accepted rule's count is its true corpus
    count at acceptance time. The approximation vs sequential BPE: a
    pair created *by* an accepted merge (it contains the new symbol)
    cannot be chosen until the next round, so rule order can differ
    from classic BPE where such a pair would immediately dominate.
    ``batch=1`` is classic sequential BPE exactly. Both are golden-tested
    against pure-Python implementations."""
    vocab = word_freq_table(docs).withColumn("toks", _chars_expr("word"))
    merges: list[tuple[int, str, str, int]] = []
    while len(merges) < n_merges:
        vocab = vocab.localCheckpoint(eager=True)
        pairs = (
            vocab.where(F.size("toks") >= 2)
            .select(
                "n",
                F.explode(
                    F.zip_with(
                        F.slice(F.col("toks"), 1, F.size("toks") - 1),
                        F.slice(F.col("toks"), 2, F.size("toks") - 1),
                        lambda a, b: F.struct(a.alias("l"), b.alias("r")),
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("n").alias("cnt"))
            .where(F.col("cnt") >= min_pair_count)
        )
        top = pairs.orderBy(F.desc("cnt"), F.asc("l"), F.asc("r")).limit(batch).collect()
        if not top:
            break
        used: set[str] = set()
        accepted: list[tuple[str, str, int]] = []
        for row in top:
            left, right, cnt = row["l"], row["r"], int(row["cnt"])
            if left in used or right in used:
                continue
            accepted.append((left, right, cnt))
            used.update((left, right, left + right))
            if len(merges) + len(accepted) >= n_merges:
                break
        for left, right, cnt in accepted:
            merges.append((len(merges), left, right, cnt))
            vocab = vocab.withColumn("toks", _merge_pair_expr(F.col("toks"), left, right))
    return merges

