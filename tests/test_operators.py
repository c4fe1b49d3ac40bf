"""Operator-level tests: same-day repair, point-in-time join, date
dimension, dedup, similarity."""

import datetime

import pyspark.sql.functions as F
import pytest
from pyspark.sql import Row

from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.functions import build_date_dim
from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators import (
    remove_one_day_changes,
    scd_point_in_time_join,
)
from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators.dedup import (
    exact_dedup_keys,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    simhash_near_dup_pairs,
)
from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators.similarity import (
    cosine_topk,
    cosine_topk_lsh,
)


def test_remove_one_day_changes(spark):
    """Reference ``ingest_utils.py:79-118`` semantics: a same-day
    conflict takes the value of the key's NEXT later day; keys
    without a later day keep their values."""
    df = spark.createDataFrame(
        [
            Row(store=1, date=datetime.date(2024, 1, 1), name="A"),
            Row(store=1, date=datetime.date(2024, 1, 1), name="B"),  # conflict day
            Row(store=1, date=datetime.date(2024, 1, 5), name="C"),  # next later day
            Row(store=2, date=datetime.date(2024, 1, 1), name="X"),  # no conflict
            Row(store=3, date=datetime.date(2024, 1, 2), name="P"),
            Row(store=3, date=datetime.date(2024, 1, 2), name="Q"),  # conflict, no later day
        ]
    )
    out = remove_one_day_changes(df, "name", "store", "date")
    rows = out.collect()
    s1_day1 = sorted(r["name"] for r in rows if r["store"] == 1 and r["date"] == datetime.date(2024, 1, 1))
    assert s1_day1 == ["C", "C"], "conflicted day must take next-day value"
    assert [r["name"] for r in rows if r["store"] == 2] == ["X"]
    s3 = sorted(r["name"] for r in rows if r["store"] == 3)
    assert s3 == ["P", "Q"], "conflict with no later day keeps originals"


def test_point_in_time_join(spark):
    dim = spark.createDataFrame(
        [
            Row(nk=1, val="v1", start_date=datetime.date(2024, 1, 1), end_date=datetime.date(2024, 2, 1), is_current=False),
            Row(nk=1, val="v2", start_date=datetime.date(2024, 2, 1), end_date=None, is_current=True),
        ]
    )
    fact = spark.createDataFrame(
        [
            Row(fid=10, nk=1, d=datetime.date(2024, 1, 15)),
            Row(fid=11, nk=1, d=datetime.date(2024, 2, 1)),  # boundary: new version day
            Row(fid=12, nk=1, d=datetime.date(2024, 6, 1)),
        ]
    )
    out = scd_point_in_time_join(fact, dim, "nk", "d").select("fid", "val").collect()
    got = {r["fid"]: r["val"] for r in out}
    assert got == {10: "v1", 11: "v2", 12: "v2"}


def test_date_dim_attributes(spark):
    dd = build_date_dim(spark, "2024-01-01", "2024-12-31")
    rows = {r["FullDate"]: r for r in dd.collect()}
    assert len(rows) == 366  # leap year
    mar21 = rows[datetime.date(2024, 3, 21)]
    assert (mar21["AstronomicalSeasonName"], mar21["AstronomicalSeasonNumber"]) == ("spring", 1)
    mar20 = rows[datetime.date(2024, 3, 20)]
    assert mar20["AstronomicalSeasonName"] == "winter"
    dec22 = rows[datetime.date(2024, 12, 22)]
    assert dec22["AstronomicalSeasonName"] == "winter"
    sep23 = rows[datetime.date(2024, 9, 23)]
    assert sep23["AstronomicalSeasonName"] == "autumn"
    # ISO weekday: 2024-01-01 is a Monday
    jan1 = rows[datetime.date(2024, 1, 1)]
    assert jan1["DayOfWeekNumber"] == 1 and jan1["DayOfWeekName"] == "Monday" and not jan1["IsWeekend"]
    jan6 = rows[datetime.date(2024, 1, 6)]  # Saturday
    assert jan6["IsWeekend"] and jan6["DayOfWeekNumber"] == 6
    assert jan1["DateId"] == 1 and rows[datetime.date(2024, 12, 31)]["DateId"] == 366
    assert jan1["YearMonth"] == "2024/01" and jan1["MonthShortName"] == "Jan"


_DOCS = [
    (1, "the quick brown fox jumps over the lazy dog and runs far away into the woods"),
    (2, "the quick brown fox jumps over the lazy dog and runs far away into the woods"),  # exact dup of 1
    (3, "the quick brown fox jumps over the lazy cat and runs far away into the woods"),  # near dup of 1
    (4, "completely different content about spark query engines and columnar storage formats"),
]


def _docs_df(spark):
    return spark.createDataFrame([Row(doc_id=i, text=t) for i, t in _DOCS])


def test_exact_dedup(spark):
    out = exact_dedup_keys(_docs_df(spark), "doc_id").collect()
    by_keep = {r["keep_id"]: r["n_copies"] for r in out}
    assert by_keep[1] == 2  # docs 1+2 collapse
    assert by_keep[3] == 1 and by_keep[4] == 1
    assert len(out) == 3


def test_minhash_lsh_finds_near_dup(spark):
    pairs = {(r["id_a"], r["id_b"]) for r in minhash_lsh_candidates(_docs_df(spark), "doc_id").collect()}
    assert (1, 2) in pairs, "exact dup must collide in every band"
    assert (1, 3) in pairs or (2, 3) in pairs, "near dup should collide in some band"
    assert (1, 4) not in pairs and (3, 4) not in pairs, "unrelated docs must not collide"


def test_ngram_jaccard_values(spark):
    docs = _docs_df(spark)
    cands = minhash_lsh_candidates(docs, "doc_id")
    j = {(r["id_a"], r["id_b"]): r["jaccard"] for r in ngram_jaccard_pairs(docs, cands, "doc_id").collect()}
    assert j[(1, 2)] == 1.0
    assert 0.5 < j.get((1, 3), j.get((2, 3), 0.0)) < 1.0


def test_ngram_jaccard_matches_string_set_semantics(spark):
    # the verify stage carries 60-bit md5-prefix hashes through the
    # pair joins (fingerprints, not text — the measured sf10 shuffle
    # anatomy in the operator docstring); values must still equal the
    # plain string-set Jaccard (hashing is injective on any real set),
    # and the fingerprint device must actually be in the plan so a
    # refactor back to string arrays fails loudly
    docs = _docs_df(spark)
    rows = docs.select("doc_id", "text").collect()
    def shingles(t):
        t = t.lower()
        n = max(len(t) - 8, 1)
        return {t[i:i + 9] for i in range(n)}
    sets = {r["doc_id"]: shingles(r["text"]) for r in rows}
    cands = minhash_lsh_candidates(docs, "doc_id")
    out = ngram_jaccard_pairs(docs, cands, "doc_id")
    assert "md5" in out._jdf.queryExecution().analyzed().toString(), (
        "verify stage must fingerprint shingles (md5_token_hash), not ship strings"
    )
    for r in out.collect():
        a, b = sets[r["id_a"]], sets[r["id_b"]]
        want = len(a & b) / len(a | b)
        assert abs(r["jaccard"] - want) < 1e-12, (r["id_a"], r["id_b"])


def test_simhash_near_dup(spark):
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in simhash_near_dup_pairs(_docs_df(spark), "doc_id", max_hamming=12).collect()}
    assert pairs.get((1, 2)) == 0, "identical text → identical simhash"
    assert (1, 3) in pairs, "one-word change → small hamming distance"


def test_portable_hash_families_preserve_dedup_semantics(spark):
    # the engine-portable families (q145-q147 oracles) must find the
    # same obvious structure as the xxhash64 production families
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators.dedup import (
        _mh_family_constants,
        md5_token_hash,
        portable_band_bucket,
        portable_base_hash,
        portable_family,
    )

    consts = _mh_family_constants(32, 11)
    mh = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_candidates(
            _docs_df(spark),
            "doc_id",
            base_hash=portable_base_hash,
            family=portable_family(consts),
            band_bucket=portable_band_bucket,
        ).collect()
    }
    assert (1, 2) in mh, "exact dup must collide in every band under any family"
    assert (1, 4) not in mh and (3, 4) not in mh

    sh = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_near_dup_pairs(
            _docs_df(spark), "doc_id", max_hamming=12, hash_fn=md5_token_hash
        ).collect()
    }
    assert sh.get((1, 2)) == 0, "identical text → identical simhash under any hash"


def test_cosine_topk_exact_and_lsh(spark):
    vecs = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.999, 0.01, 0.0, 0.0]),  # near-identical to 0
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [-1.0, 0.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame([Row(vec_id=i, embedding=v) for i, v in vecs])
    top = cosine_topk(df, df.where("vec_id = 0"), k=2).collect()
    assert [r["neighbor_id"] for r in sorted(top, key=lambda r: r["rank"])] == [1, 2]
    assert top[0]["score"] > 0.999

    # LSH path: the near-identical pair shares every hyperplane sign
    top_lsh = cosine_topk_lsh(df, df.where("vec_id = 0"), k=2, n_planes=2, dim=4).collect()
    assert any(r["neighbor_id"] == 1 for r in top_lsh)


def test_cosine_topk_ivf_recall(spark):
    """IVF with 3-of-8 probed cells must recover most of the exact
    top-10 on the clustered synthetic embeddings (recall@10)."""
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators.similarity import (
        cosine_topk_ivf,
    )
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.sources.tables import (
        load_table,
    )

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    queries = emb.where("vec_id < 5")
    exact = cosine_topk(emb, queries, k=10).collect()
    approx = cosine_topk_ivf(emb, queries, k=10, n_cells=8, n_probe=3).collect()

    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    approx_sets = {}
    for r in approx:
        approx_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    recalls = [
        len(exact_sets[q] & approx_sets.get(q, set())) / len(exact_sets[q]) for q in exact_sets
    ]
    assert len(recalls) == 5
    assert sum(recalls) / len(recalls) >= 0.6, f"mean recall@10 too low: {recalls}"


def test_word_ngrams_and_decontamination(spark):
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators.text import (
        word_ngrams_expr,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),      # 3 distinct 3-grams
            (2, "THE  quick   Brown fox sleeps"),  # shares 2 after normalization
            (3, "too short"),
        ],
        "doc_id long, text string",
    )
    grams = {r["doc_id"]: set(r["g"]) for r in docs.select("doc_id", word_ngrams_expr("text", 3).alias("g")).collect()}
    assert grams[1] == {"the quick brown", "quick brown fox", "brown fox jumps"}
    assert grams[3] == set()
    assert grams[1] & grams[2] == {"the quick brown", "quick brown fox"}


def test_incremental_dedup_cross_corpus(spark):
    """New batch deduped against an existing corpus: bipartite LSH +
    exact-Jaccard verify finds the planted dups, never corpus-corpus
    or new-new pairs."""
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators.dedup import (
        incremental_dedup,
    )

    docs = _docs_df(spark)
    corpus = docs.where("doc_id IN (1, 4)")
    incoming = docs.where("doc_id IN (2, 3)")
    got = {
        (r["new_id"], r["old_id"]): r["jaccard"]
        for r in incremental_dedup(corpus, incoming, "doc_id").collect()
    }
    assert got.get((2, 1)) == 1.0, "exact dup of corpus doc must be found"
    assert (3, 1) in got and 0.4 < got[(3, 1)] < 1.0, "near dup must be found"
    assert all(k[0] in (2, 3) and k[1] in (1, 4) for k in got), "pairs must be new x old only"
    assert (2, 4) not in got and (3, 4) not in got


def cosine_to_query_pandas_udf(query_vec: list[float]):
    """Arrow-vectorized scalar ``pandas_udf`` computing cosine
    similarity of every row's embedding against one query vector.

    The JVM-side ``cosine_expr`` is the production path (stays in
    whole-stage codegen, no Python); this is the escape-hatch pattern
    for scoring math that built-in expressions genuinely can't state
    (learned rerankers, custom kernels). Per Arrow batch it is one
    numpy matmul — vectorized, ~10-100x faster than a row-at-a-time
    Python UDF — and the test below pins bit-level agreement with the
    expression path."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    q = np.asarray(query_vec, dtype=np.float64)
    # strictly sequential accumulation, NOT np.dot/np.sum/add.reduce:
    # BLAS and numpy's pairwise summation group additions differently
    # and break bit-parity with the SQL aggregate() left fold
    qn_acc = 0.0
    for x in q:
        qn_acc += x * x
    qn = float(np.sqrt(qn_acc))

    def _score(col):
        m = np.vstack([np.asarray(v, dtype=np.float64) for v in col])
        # vectorized across rows, sequential across dimensions — the
        # same left-to-right order as the SQL fold, one numpy op per dim
        dots = np.zeros(m.shape[0], dtype=np.float64)
        norms_sq = np.zeros(m.shape[0], dtype=np.float64)
        for j in range(m.shape[1]):
            dots += m[:, j] * q[j]
            norms_sq += m[:, j] * m[:, j]
        return pd.Series(dots / (np.sqrt(norms_sq) * qn))

    # real class objects (not string hints): keeps pandas an optional,
    # function-local dependency — collecting this module must not
    # require pandas just for this escape-hatch demo
    _score.__annotations__ = {"col": pd.Series, "return": pd.Series}
    return pandas_udf("double")(_score)


def test_pandas_udf_cosine_bit_matches_expression_path(spark):
    """The Arrow-vectorized pandas_udf escape hatch must agree
    BIT-FOR-BIT with the JVM cosine_expr path (same float32->double
    promotion, same sequential accumulation order)."""
    import pyspark.sql.functions as F

    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators.similarity import (
        cosine_expr,
    )
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.sources.tables import (
        load_table,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    qvec = emb.where(F.col("vec_id") == 0).select("embedding").first()[0]

    udf = cosine_to_query_pandas_udf([float(x) for x in qvec])
    via_udf = {
        r["vec_id"]: r["s"]
        for r in emb.select("vec_id", udf("embedding").alias("s")).collect()
    }
    qlit = F.array(*[F.lit(float(x)).cast("float") for x in qvec])
    via_expr = {
        r["vec_id"]: r["s"]
        for r in emb.select(
            "vec_id", cosine_expr(F.col("embedding"), qlit).alias("s")
        ).collect()
    }
    assert via_udf == via_expr
    assert abs(via_udf[0] - 1.0) < 1e-12


def test_multiprobe_lsh_recall_dominates_single_probe(spark):
    """Multi-probe LSH (flipping the lowest-margin sign bits) must be a
    strict superset of the single-bucket candidates, so its recall@10
    vs the exact top-10 is >= single-probe recall — and measurably
    higher on the synthetic embeddings."""
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_lsh,
    )
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.sources.tables import (
        load_table,
    )

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    queries = emb.where("vec_id < 5")
    exact = cosine_topk(emb, queries, k=10).collect()
    single = cosine_topk_lsh(emb, queries, k=10, n_planes=4, n_probe=0).collect()
    multi = cosine_topk_lsh(emb, queries, k=10, n_planes=4, n_probe=3).collect()

    def rec(rows):
        sets = {}
        for r in rows:
            sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        ex = {}
        for r in exact:
            ex.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return sum(len(ex[q] & sets.get(q, set())) / len(ex[q]) for q in ex) / len(ex)

    r1, rm = rec(single), rec(multi)
    # deterministic fixture (fixed seed + exact arithmetic): measured
    # 0.06 single vs 0.38 multi — multi-probe must keep a wide margin
    assert rm >= r1 + 0.1, f"multi-probe recall {rm} must beat single {r1}"
    assert rm >= 0.3, f"multi-probe recall too low: {rm}"


def test_gap_fill_matches_python_reference_on_random_data(spark):
    """q122's forward-fill window == a per-user python scan on random
    sparse observations (including users with no observation at all)."""
    import random

    import pyspark.sql.functions as F
    from pyspark.sql import Window

    rng = random.Random(13)
    rows = []
    for uid in range(20):
        for i in range(rng.randrange(0, 30)):
            rows.append(
                (
                    uid * 1000 + i,
                    uid,
                    i,
                    rng.random() if rng.random() < 0.2 else None,
                )
            )
    df = spark.createDataFrame(rows, "event_id long, user_id long, t long, obs double")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("t").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    got = {
        r["event_id"]: r["filled"]
        for r in df.select(
            "event_id", F.last("obs", ignorenulls=True).over(w).alias("filled")
        ).collect()
    }

    want = {}
    by_user = {}
    for eid, uid, t, obs in sorted(rows, key=lambda r: (r[1], r[2], r[0])):
        if obs is not None:
            by_user[uid] = obs
        want[eid] = by_user.get(uid)
    assert got == want


def test_cdc_compaction_matches_python_reference_on_random_data(spark):
    """q124's last-write-wins == a python dict replay of the changelog,
    including ties on ts broken by event_id."""
    import random

    import pyspark.sql.functions as F
    from pyspark.sql import Window

    rng = random.Random(29)
    rows = [
        (i, rng.randrange(0, 8), rng.randrange(0, 3), rng.randrange(0, 5), rng.random())
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "event_id long, k1 long, k2 long, ts long, v double")
    w = Window.partitionBy("k1", "k2").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    got = {
        (r["k1"], r["k2"]): (r["event_id"], r["v"])
        for r in df.withColumn("rn", F.row_number().over(w)).where("rn = 1").collect()
    }

    want = {}
    for eid, k1, k2, ts, v in sorted(rows, key=lambda r: (r[3], r[0])):
        want[(k1, k2)] = (eid, v)
    assert got == want


def test_ssjoin_prefix_equals_naive_at_multiple_thresholds(spark):
    """Prefix filtering must be threshold-complete for ANY t: on random
    small token-set docs, ssjoin_prefix == the naive all-pairs Jaccard
    join at t in {0.5, 0.75, 0.9} (the registry gate only pins 0.9)."""
    import random

    import pyspark.sql.functions as F
    from pyspark.sql import Row

    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators.dedup import (
        ssjoin_prefix,
    )

    rng = random.Random(41)
    vocab = [f"w{i}" for i in range(30)]
    docs = []
    for i in range(80):
        k = rng.randrange(3, 12)
        docs.append(Row(doc_id=i, text=" ".join(rng.sample(vocab, k))))
    df = spark.createDataFrame(docs)

    toks = df.select(
        "doc_id", F.array_distinct(F.split(F.trim(F.lower("text")), r"\s+")).alias("ts")
    )
    a = toks.select(F.col("doc_id").alias("a_id"), F.col("ts").alias("ta"))
    b = toks.select(F.col("doc_id").alias("b_id"), F.col("ts").alias("tb"))
    naive_pairs = a.crossJoin(b).where(F.col("a_id") < F.col("b_id")).select(
        "a_id",
        "b_id",
        (
            F.size(F.array_intersect("ta", "tb")) / F.size(F.array_union("ta", "tb"))
        ).alias("jaccard"),
    )

    for t in (0.5, 0.75, 0.9):
        got = sorted(
            (r["a_id"], r["b_id"], r["jaccard"])
            for r in ssjoin_prefix(df, "doc_id", "text", t).collect()
        )
        want = sorted(
            (r["a_id"], r["b_id"], r["jaccard"])
            for r in naive_pairs.where(F.col("jaccard") >= t).collect()
        )
        assert got == want, f"threshold {t}: prefix filter lost or invented pairs"


def test_ivf_index_persist_and_query(spark, tmp_path):
    """Persisted IVF == in-memory IVF (same centroids, cells, scoring),
    and the query-path scan carries a partition filter on cell — the
    index property that makes repeated query batches ~n_probe/n_cells
    of a full scan at 100 TB."""
    import contextlib
    import io

    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators.similarity import (
        build_ivf_index,
        cosine_topk_ivf,
        query_ivf_index,
    )
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.sources.tables import (
        load_table,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.where("vec_id < 5")
    idx = str(tmp_path / "ivf")

    build_ivf_index(emb, idx, n_cells=8, iters=2)
    got_df = query_ivf_index(queries, idx, k=10, n_probe=3)
    got = {(r["query_id"], r["rank"]): (r["neighbor_id"], r["score"]) for r in got_df.collect()}
    want = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["score"])
        for r in cosine_topk_ivf(emb, queries, k=10, n_cells=8, n_probe=3).collect()
    }
    assert got == want
    assert len(got) == 50

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        got_df.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "cell" in plan.split("PartitionFilters", 1)[1][:200]


def test_lsh_bucket_cap_and_audit(spark):
    """max_bucket_size caps pathological buckets deterministically and
    the audit companion reports exactly which buckets were over."""
    from pyspark.sql import Row as _Row

    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators.dedup import (
        lsh_bucket_size_histogram,
    )

    # 30 identical docs: every band collides into one 30-doc bucket
    boiler = spark.createDataFrame(
        [_Row(doc_id=i, text="same boilerplate text repeated everywhere in this corpus") for i in range(30)]
    )
    uncapped = minhash_lsh_candidates(boiler, "doc_id").count()
    assert uncapped == 30 * 29 // 2

    capped = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_candidates(boiler, "doc_id", max_bucket_size=5).collect()
    }
    assert capped == {(a, b) for a in range(5) for b in range(5) if a < b}, (
        "cap must keep the first 5 sorted docs and pair only those"
    )

    audit = lsh_bucket_size_histogram(boiler, "doc_id", max_bucket_size=5).collect()
    assert [tuple(r) for r in audit] == [(30, 8, True)], (
        "all 8 bands hold one oversized 30-doc bucket"
    )


def test_ivf_centroids_invariant_to_partitioning(spark):
    """Tripwire for the ADVICE-flagged float hazard: the Lloyd-step
    mean is an order-dependent float sum, so a 6dp-rounded centroid
    component sitting within an ulp of a rounding boundary could flip
    between cluster shapes and cascade into a q67/q156 assignment
    mismatch. Retrain under shuffled partitioning and ordering; the
    rounded centroids must be bit-identical."""
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators.similarity import (
        ivf_train_centroids,
    )
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.sources.tables import (
        load_table,
    )

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    base = ivf_train_centroids(emb, n_cells=8, iters=2)
    for reshaped in (
        emb.repartition(13),
        emb.repartition(3, "vec_id").sortWithinPartitions(F.desc("vec_id")),
        emb.coalesce(1),
    ):
        assert ivf_train_centroids(reshaped, n_cells=8, iters=2) == base


def test_spread_narrow_scan_widens_only_when_narrow(spark, tmp_path):
    # the adaptive-width contract, enforced on plan SHAPE:
    # - a narrow parquet scan is spread to compute width (small-SF /
    #   filtered-corpus regime);
    # - a scan already at-or-above width passes through IDENTICALLY —
    #   no shuffle (100 TB regime, where a repartition would reshuffle
    #   the whole corpus for nothing);
    # - anything NOT provably project/filter-over-relation takes the
    #   unconditional repartition WITHOUT touching .rdd, because under
    #   AQE materializing .rdd on a plan with exchanges executes the
    #   upstream stages (a hidden eager job) and its static count is
    #   the meaningless pre-AQE width anyway.
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators.dedup import (
        _compute_width,
        _is_scan_shaped,
        _spread_narrow_scan,
    )

    df = spark.range(1000).select(F.col("id").alias("doc"))
    width = _compute_width(df)

    path = str(tmp_path / "spread")
    df.repartition(width * 2).write.parquet(path)

    narrow_scan = spark.read.parquet(path).coalesce(1)  # coalesce = not scan-shaped
    assert not _is_scan_shaped(narrow_scan)
    assert _spread_narrow_scan(narrow_scan, "doc").rdd.getNumPartitions() == width

    # a genuine scan (+ filter/project, which must not break the shape
    # check) with splits >= width passes through with NO added shuffle
    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(4 * 1024 * 1024))
    try:
        wide_scan = (
            spark.read.parquet(path).where(F.col("doc") >= 0).select("doc")
        )
        assert _is_scan_shaped(wide_scan)
        assert wide_scan.rdd.getNumPartitions() >= width
        passthrough = _spread_narrow_scan(wide_scan, "doc")
        assert passthrough is wide_scan, "already-wide scan must pass through unshuffled"
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)

    # post-shuffle shapes: never trusted, always explicitly respread
    for unshaped in (
        df,  # Range leaf
        spark.read.parquet(path).groupBy("doc").count(),
        spark.read.parquet(path).repartition(width, "doc"),
    ):
        assert not _is_scan_shaped(unshaped)
        spread = _spread_narrow_scan(unshaped, "doc")
        assert spread is not unshaped
        assert spread.rdd.getNumPartitions() == width


def test_is_scan_shaped_raises_when_the_plan_cannot_be_inspected():
    """An error inspecting the plan raises instead of reading as "not
    scan-shaped", which would hide the error behind an added shuffle."""
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators.dedup import (
        _is_scan_shaped,
    )

    class _Plan:
        def queryExecution(self):
            raise RuntimeError("optimizer failed")

    class _Frame:
        _jdf = _Plan()

    with pytest.raises(RuntimeError, match="optimizer failed"):
        _is_scan_shaped(_Frame())


def test_ivfpq_recall_tracks_code_capacity(spark):
    """The q209 accept-gate must DISCRIMINATE: more PQ code capacity
    (subspaces x codebook size) must buy recall on the clustered
    synthetic embeddings, and the toy demonstration config (m=2,
    pq_k=4 - 16 distinct code pairs for the whole corpus) must be
    visibly lossy. This pins the measurement's direction, not exact
    values (the driver regenerates testdata). The ceiling is the
    probe budget: n_probe=3 of 8 cells bounds recall for ANY codebook,
    which is why the richest config here still sits well under 1.0."""
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators import (
        similarity,
    )
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.sources.tables import (
        load_table,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    qs = emb.where("vec_id < 5")
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.cosine_topk(emb, qs, k=10).collect()
    }

    def recall(m, pq_k):
        approx = {
            (r["query_id"], r["neighbor_id"])
            for r in similarity.ivfpq_topk(emb, qs, k=10, m=m, pq_k=pq_k).collect()
        }
        return len(approx & exact)

    toy, mid, rich = recall(2, 4), recall(4, 16), recall(8, 16)
    assert toy <= mid <= rich, f"recall must track code capacity: {toy}, {mid}, {rich}"
    assert rich > toy, "richer codebooks must measurably beat the toy config"
