"""Golden tests: distributed BPE training == pure-Python reference."""

import collections

import pyspark.sql.functions as F

from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators.bpe import (
    _chars_expr,
    _merge_pair_expr,
    bpe_train_batched,
)
from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.sources.tables import (
    load_table,
)

SF_DIR = "/root/testdata/sf0.001"


def _reference_bpe(word_freqs, n_merges, min_pair_count):
    """Straightforward single-machine BPE (Sennrich et al. 2016) with
    the same deterministic tiebreak (count desc, then pair asc)."""
    vocab = {w: list(w) for w in word_freqs}
    merges = []
    for rank in range(n_merges):
        counts = collections.Counter()
        for w, toks in vocab.items():
            n = word_freqs[w]
            for a, b in zip(toks, toks[1:]):
                counts[(a, b)] += n
        eligible = {p: c for p, c in counts.items() if c >= min_pair_count}
        if not eligible:
            break
        best = min(eligible.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        (left, right), cnt = best
        merges.append((rank, left, right, cnt))
        for w, toks in vocab.items():
            out, pend = [], None
            for t in toks:
                if pend is None:
                    pend = t
                elif pend == left and t == right:
                    out.append(left + right)
                    pend = None
                else:
                    out.append(pend)
                    pend = t
            if pend is not None:
                out.append(pend)
            vocab[w] = out
    return merges, vocab


def _word_freqs(spark):
    docs = load_table(spark, SF_DIR, "documents")
    rows = (
        docs.select(F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .count()
        .collect()
    )
    return {r["w"]: r["count"] for r in rows}


def test_bpe_train_matches_reference(spark):
    docs = load_table(spark, SF_DIR, "documents")
    got = bpe_train_batched(docs, n_merges=8, min_pair_count=2, batch=1)
    want, _ = _reference_bpe(_word_freqs(spark), n_merges=8, min_pair_count=2)
    assert got == want


def _bpe_encode(col, merges):
    """Tokenize a word column with learned merges, applying each rule
    in rank order: the inference side of ``bpe_train_batched``."""
    toks = _chars_expr(col)
    for _, left, right, _ in merges:
        toks = _merge_pair_expr(toks, left, right)
    return toks


def test_bpe_encode_matches_reference_vocab(spark):
    docs = load_table(spark, SF_DIR, "documents")
    merges = bpe_train_batched(docs, n_merges=6, min_pair_count=2, batch=1)
    _, ref_vocab = _reference_bpe(_word_freqs(spark), n_merges=6, min_pair_count=2)

    words = (
        docs.select(F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("word"))
        .where(F.col("word") != "")
        .distinct()
    )
    encoded = {
        r["word"]: list(r["toks"])
        for r in words.select("word", _bpe_encode("word", merges).alias("toks")).collect()
    }
    assert encoded == ref_vocab


def _reference_bpe_batched(word_freqs, n_merges, min_pair_count, batch):
    """Pure-Python twin of bpe_train_batched's selection rule: per
    snapshot, walk the top-`batch` pairs (count desc, pair asc) and
    accept symbol-disjoint ones (including the merged output symbol)."""
    vocab = {w: list(w) for w in word_freqs}

    def apply_merge(left, right):
        for w, toks in vocab.items():
            out, pend = [], None
            for t in toks:
                if pend is None:
                    pend = t
                elif pend == left and t == right:
                    out.append(left + right)
                    pend = None
                else:
                    out.append(pend)
                    pend = t
            if pend is not None:
                out.append(pend)
            vocab[w] = out

    merges = []
    while len(merges) < n_merges:
        counts = collections.Counter()
        for w, toks in vocab.items():
            n = word_freqs[w]
            for a, b in zip(toks, toks[1:]):
                counts[(a, b)] += n
        eligible = [(p, c) for p, c in counts.items() if c >= min_pair_count]
        if not eligible:
            break
        top = sorted(eligible, key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))[:batch]
        used, accepted = set(), []
        for (left, right), cnt in top:
            if left in used or right in used:
                continue
            accepted.append((left, right, cnt))
            used.update((left, right, left + right))
            if len(merges) + len(accepted) >= n_merges:
                break
        for left, right, cnt in accepted:
            merges.append((len(merges), left, right, cnt))
            apply_merge(left, right)
    return merges


def test_bpe_train_batched_matches_reference(spark):
    docs = load_table(spark, SF_DIR, "documents")
    got = bpe_train_batched(docs, n_merges=8, min_pair_count=2, batch=4)
    want = _reference_bpe_batched(_word_freqs(spark), n_merges=8, min_pair_count=2, batch=4)
    assert got == want
    assert len(got) == 8


def test_bpe_train_batched_batch1_equals_sequential(spark):
    """batch=1 degenerates to classic sequential BPE exactly: the
    sequential reference and the batched reference agree with it."""
    docs = load_table(spark, SF_DIR, "documents")
    freqs = _word_freqs(spark)
    got = bpe_train_batched(docs, n_merges=5, min_pair_count=2, batch=1)
    assert got == _reference_bpe(freqs, n_merges=5, min_pair_count=2)[0]
    assert got == _reference_bpe_batched(freqs, n_merges=5, min_pair_count=2, batch=1)
