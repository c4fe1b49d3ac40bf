"""Similarity search over embedding columns (`array<float>`).

Two paths, same contract (query ids → top-k neighbor ids):

- **brute force** — broadcast the (small) query set against the corpus;
  dot products via ``zip_with``/``aggregate`` entirely JVM-side. The
  corpus is never shuffled: each partition scores its rows against the
  broadcast queries and a TakeOrderedAndProject per query finishes it.
  This is the exact baseline and stays viable at any corpus size as
  long as the query batch is broadcastable.
- **LSH-bucketed (random hyperplanes)** — the scale path: corpus rows
  hash to sign-pattern buckets of fixed hyperplanes; queries probe only
  their own bucket. Hyperplanes are derived deterministically from a
  seed, so results are reproducible.

Every operator reads an embeddings frame by its ``vec_id`` and
``embedding`` columns.
"""

from __future__ import annotations

import math
import re

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql.types import StructField, StructType

from ..functions.rounding import floor_round6
from ..sources import commit
from .dedup import _spread_narrow_scan


def dot_expr(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ with double accumulation, element order fixed by the
    array — deterministic across partitionings."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")), F.lit(0.0), lambda acc, v: acc + v)


def norm_expr(a: Column) -> Column:
    return F.sqrt(dot_expr(a, a))


def cosine_expr(a: Column, b: Column) -> Column:
    return dot_expr(a, b) / (norm_expr(a) * norm_expr(b))


def _checked_norm(nv: Column) -> Column:
    """The row-norm with the zero-norm guard EMBEDDED in the
    expression: ``raise_error`` fires JVM-side on the first zero-norm
    row the assignment pass touches — zero extra Spark actions, zero
    extra scans (the first-cut guard was a separate
    ``where(norm==0).limit(5)`` action per call site, which added two
    full O(N) passes to q199's build+append path and pushed its bench
    median over the ≤7 s bar). This is the distributed mirror of the
    loud raise in :func:`ivf_train_centroids_local` (the r12 ADVICE
    asymmetry): 0/0 = NaN scores must never reach cell assignment
    because NaN ordering diverges across the three engines (numpy
    ``>=`` never updates, Spark struct ``array_max`` ranks NaN above
    every double, DuckDB 0/0 is NULL and sorts last) — a silent
    cross-engine hash break, surfaced instead as a job error at
    build/append/train time. The same wrapper guards the QUERY side
    (the ``qn`` bindings of cosine_topk / cosine_topk_lsh /
    cosine_topk_ivf / query_ivf_index / the ivf2 probe): a zero-norm
    query vector would otherwise return NaN-ranked neighbors instead
    of failing (code-review r13). Error text matches the local path's
    so callers/tests can match "zero-norm" on either.

    Value-neutral on valid corpora: for every non-zero norm the CASE
    collapses to the bare norm column, same doubles, same folds."""
    return F.when(
        nv == 0.0,
        F.raise_error(
            F.lit(
                "zero-norm vector in IVF assignment: cosine assignment "
                "is undefined — filter them before indexing"
            )
        ).cast("double"),
    ).otherwise(nv)


def _query_rows(queries: DataFrame) -> DataFrame:
    """(query_id, q_vec, qn) — the probe side every scorer ranks from,
    the query norm guarded against zero (:func:`_checked_norm`)."""
    return queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_vec"),
        _checked_norm(norm_expr(F.col("embedding"))).alias("qn"),
    )


def _list_rows(corpus: DataFrame) -> DataFrame:
    """(neighbor_id, c_vec, cn) — the one inverted-list row shape of
    both IVF quantizers (and the brute-force candidate side), widened
    before the per-row folds: a broadcast join evaluates the corpus
    side in the SCAN stage, and an embeddings scan is few bytes per
    FLOP (single split well past sf1.0), so without the spread the
    whole scoring or assignment pass is one task. The norm is stored
    with the row, so no scorer re-folds it."""
    return _spread_narrow_scan(
        corpus.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("c_vec"),
            norm_expr(F.col("embedding")).alias("cn"),
        ),
        "neighbor_id",
    )


def _score_topk(q: DataFrame, c: DataFrame, k: int) -> DataFrame:
    """Score probed queries against the inverted lists they selected:
    broadcast the (tiny) probe table, equi-join on cell, exact cosine,
    per-query top-k. Norms ride the row projections (the cosine_topk
    note), so scores are bit-identical to the per-pair cosine_expr
    form. Returns (query_id, neighbor_id, score, rank)."""
    scored = (
        F.broadcast(q)
        .join(c, on="cell", how="inner")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            floor_round6(
                dot_expr(F.col("q_vec"), F.col("c_vec")) / (F.col("qn") * F.col("cn"))
            ).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def cosine_topk(corpus: DataFrame, queries: DataFrame, k: int = 10) -> DataFrame:
    """Exact top-k cosine neighbors for each query row.

    Returns (query_id, neighbor_id, score, rank); ranking breaks score
    ties on neighbor id for full determinism (scores rounded to 6
    decimals first so ulp-level float noise cannot flip the order).
    """
    # norms ride the row projections so the pairwise score folds only
    # the dot: cosine_expr would re-fold norm(q) per corpus row and
    # norm(c) per query row (HOFs are interpreted, no CSE — the
    # _argmax_cell_expr note). dot/(qn*cn) keeps cosine_expr's exact
    # grouping, so scores are bit-identical.
    q = _query_rows(queries)
    c = _list_rows(corpus)
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            floor_round6(
                dot_expr(F.col("q_vec"), F.col("c_vec")) / (F.col("qn") * F.col("cn"))
            ).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def _hyperplanes(dim: int, n_planes: int) -> list[list[float]]:
    """Deterministic pseudo-random unit-free hyperplanes via a tiny
    splitmix-style generator seeded with 7 — no RNG state, reproducible
    everywhere."""
    planes = []
    x = 7
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            x = (x + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
            z = x
            z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
            z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
            z = z ^ (z >> 31)
            # map to (-1, 1)
            row.append((z / 2**63) - 1.0)
        planes.append(row)
    return planes


def _bucket_expr(planes: list[list[float]]) -> Column:
    """Sign-pattern bucket id: bit p set iff embedding · plane_p > 0."""
    bucket = F.lit(0).cast("long")
    for p, plane in enumerate(planes):
        lit_plane = F.array(*[F.lit(v) for v in plane])
        bit = F.when(dot_expr(F.col("embedding"), lit_plane) > 0, F.shiftleft(F.lit(1).cast("long"), p)).otherwise(F.lit(0).cast("long"))
        bucket = bucket.bitwiseOR(bit)
    return bucket


def _probe_buckets_expr(planes: list[list[float]], n_probe: int) -> Column:
    """Array of buckets to probe: the vector's own sign-pattern bucket
    plus, for the ``n_probe`` planes with the smallest |margin| (the
    least-confident sign decisions), the bucket with that one bit
    flipped — classic multi-probe LSH (Lv et al., VLDB 2007)."""
    own = _bucket_expr(planes)
    if n_probe <= 0:
        return F.array(own)
    # (|margin|, plane index) structs, sorted ascending: the first
    # n_probe entries are the flip candidates
    margins = F.array(
        *[
            F.struct(
                F.abs(dot_expr(F.col("embedding"), F.array(*[F.lit(v) for v in plane]))).alias("m"),
                F.lit(p).alias("p"),
            )
            for p, plane in enumerate(planes)
        ]
    )
    flips = F.slice(F.array_sort(margins), 1, n_probe)
    # shiftleft() needs a literal bit count, so build the mask as
    # 2^p (exact in double for p < 53, and n_planes <= 62); bind the
    # own-bucket expression ONCE via a one-element transform — inlining
    # it in the per-flip lambda would re-evaluate all n_planes dot
    # products per probe (the measured transform-lambda pitfall)
    masks = F.transform(flips, lambda s: F.pow(F.lit(2.0), s["p"]).cast("long"))
    return F.transform(
        F.array(own),
        lambda ob: F.array_append(F.transform(masks, lambda m: ob.bitwiseXOR(m)), ob),
    )[0]


def cosine_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 8,
    dim: int = 64,
    n_probe: int = 0,
) -> DataFrame:
    """Approximate top-k: score only corpus rows in the query's
    hyperplane bucket(s). Recall trades off with ``n_planes``;
    ``n_probe`` > 0 additionally probes the buckets reached by
    flipping the query's lowest-margin sign bits (multi-probe LSH),
    recovering most of the recall lost to unlucky boundary splits for
    (n_probe+1)x the broadcast rows — the corpus side is still hashed
    once and joined equi on the bucket id, never cross-joined."""
    planes = _hyperplanes(dim, n_planes)
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_vec"),
        _checked_norm(norm_expr(F.col("embedding"))).alias("qn"),
        F.explode(_probe_buckets_expr(planes, n_probe)).alias("bucket"),
    )
    # widen before the n_planes x dim bucket fold per corpus row (the
    # cosine_topk width note — the broadcast join leaves this in the
    # scan stage, single-task on a single-split scan)
    c = _spread_narrow_scan(
        corpus.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("c_vec"),
            norm_expr(F.col("embedding")).alias("cn"),
            _bucket_expr(planes).alias("bucket"),
        ),
        "neighbor_id",
    )
    scored = (
        F.broadcast(q)
        .join(c, on="bucket", how="inner")
        .where(F.col("query_id") != F.col("neighbor_id"))
        # norms ride the row projections; the pairwise score folds only
        # the dot (cosine_expr's grouping kept — bit-identical scores)
        .select(
            "query_id",
            "neighbor_id",
            floor_round6(
                dot_expr(F.col("q_vec"), F.col("c_vec")) / (F.col("qn") * F.col("cn"))
            ).alias("score"),
        )
        # no dedup needed: each corpus row lives in exactly one bucket
        # and a query's probe buckets are pairwise distinct, so a
        # (query, neighbor) pair can match on at most one bucket
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def _py_norm(vec: list[float]) -> float:
    """The JVM ``norm_expr`` fold replicated in Python: strictly
    left-to-right double accumulation then sqrt — IEEE ops are
    correctly rounded in both runtimes, so the result is bit-identical
    to evaluating ``norm_expr`` over the same literal array. Lets
    driver-resident centroid norms become plan literals instead of
    per-row interpreted folds."""
    acc = 0.0
    for x in vec:
        acc += float(x) * float(x)
    return math.sqrt(acc)


def _py_floor_round6(x: float) -> float:
    """The canonical 6dp floor-rounding formula in Python — evaluates
    to the identical double as the JVM/SQL forms (functions/rounding.py)."""
    return math.floor(x * 1000000 + 0.5) / 1000000.0


def _py_dot(a: list[float], b: list[float]) -> float:
    """``dot_expr`` replicated in Python: strictly left-to-right double
    accumulation in element order — bit-identical to the JVM fold."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += float(x) * float(y)
    return acc


def _py_assign_cell(
    vec: list[float], centroids: list[list[float]], norms: list[float]
) -> int:
    """``with_assigned_cell``'s argmax replicated in Python: score =
    floor_round6(dot / (row_norm * centroid_norm)) with the identical
    operand grouping, ties to the highest cell id (the struct
    ``array_max`` order). Bit-identical because every IEEE op is
    correctly rounded in both runtimes and the fold orders match."""
    nv = _py_norm(vec)
    best = None
    for i, (cent, nc) in enumerate(zip(centroids, norms)):
        s = _py_floor_round6(_py_dot(vec, cent) / (nv * nc))
        if best is None or (s, i) > best:
            best = (s, i)
    return best[1]


def ivf_train_centroids_local(
    rows: list[tuple[int, list[float]]], n_cells: int, iters: int
) -> list[list[float]]:
    """:func:`ivf_train_centroids` replicated driver-side for a
    DRIVER-RESIDENT vector table (the hierarchical quantizer's level-1
    train over the ≤4096 level-2 centroids, and — since the round-12
    faiss-style train cap — every capped train that fits under
    ``_IVF_LOCAL_TRAIN_MAX`` rows): seeds are the ``n_cells``
    lowest-id rows, each iteration assigns by the exact
    :func:`_py_assign_cell` argmax and re-means per dimension with the
    exact ``_lloyd_dim_means`` fold (contributions accumulate
    left-to-right in id order, mean rounded by the canonical 6dp
    floor; empty cells keep their previous centroid). Bit-identical to
    the distributed train over the same rows — pinned by
    tests/test_ivf_determinism.py — while spending ZERO Spark actions
    (the distributed form costs 3 sequential collects, ~1 s each of
    pure session latency for a table this small: the q199 anatomy in
    BASELINE.md round 11).

    Internals are numpy with PINNED FOLD ORDER — every reduction is a
    loop over one axis of elementwise vector ops, so each element's
    accumulation sequence is the same left-to-right chain of correctly
    rounded IEEE doubles as the scalar helpers and the JVM folds:
    dots/norms accumulate dim-by-dim across all rows at once, means
    accumulate row-by-row (id order) across all dims at once. A
    np.sum/np.dot would be ~10x faster but uses pairwise/BLAS
    summation — a DIFFERENT rounding sequence, which would break the
    cross-engine bit-parity the oracles depend on."""
    import numpy as np

    rows = sorted(rows, key=lambda r: r[0])
    centroids = [[float(x) for x in v] for _, v in rows[:n_cells]]
    n_cells = min(n_cells, len(centroids))  # the distributed clamp, mirrored
    if not rows:
        return centroids
    V = np.array([v for _, v in rows], dtype=np.float64)
    n, dim = V.shape
    # row norms: acc += x*x in dim order (the _py_norm chain, vectorized
    # across rows — each row's sequence is unchanged)
    nv = np.zeros(n)
    for p in range(dim):
        nv += V[:, p] * V[:, p]
    nv = np.sqrt(nv)
    # fail LOUD on zero-norm vectors (the scalar predecessor raised
    # ZeroDivisionError here): silently continuing would put NaN
    # scores in play, and NaN ordering DIVERGES across the three
    # engines (numpy `>=` never updates, Spark struct array_max ranks
    # NaN above every double, DuckDB 0/0 is NULL and sorts last) — a
    # cross-engine hash break the corpus contract is supposed to
    # exclude, surfaced here as an error instead of corrupt centroids
    if not nv.all():
        bad = [rows[i][0] for i in np.flatnonzero(nv == 0.0)[:5]]
        raise ValueError(
            f"zero-norm vector(s) in IVF train (ids {bad}): cosine "
            "assignment is undefined — filter them before indexing"
        )
    for _ in range(iters):
        best_s = np.full(n, -np.inf)
        best_i = np.zeros(n, dtype=np.int64)
        for i in range(n_cells):
            c = centroids[i]
            nc = _py_norm(c)
            dot = np.zeros(n)
            for p in range(dim):  # dim order — the _py_dot chain
                dot += V[:, p] * c[p]
            s = np.floor((dot / (nv * nc)) * 1000000 + 0.5) / 1000000.0
            upd = s >= best_s  # ties -> highest cell id, i ascending
            best_s[upd] = s[upd]
            best_i[upd] = i
        new = []
        for i in range(n_cells):
            mem = V[best_i == i]
            if mem.shape[0] == 0:
                new.append(centroids[i])
                continue
            acc = np.zeros(dim)
            for r in mem:  # id order — the _lloyd_dim_means fold order
                acc += r
            m = np.floor((acc / mem.shape[0]) * 1000000 + 0.5) / 1000000.0
            new.append([float(x) for x in m])
        centroids = new
    return centroids


def _sql_double(v: float) -> str:
    """A Python float as a Spark SQL DOUBLE literal. ``repr`` is the
    shortest round-tripping decimal form and both runtimes parse
    decimal strings correctly rounded, so the parsed literal is the
    bit-identical double."""
    x = float(v)
    if not math.isfinite(x):
        raise ValueError(f"non-finite vector component: {v!r}")
    return repr(x) + "D"


def _sql_double_array(vec: list[float]) -> str:
    return "array(" + ", ".join(_sql_double(v) for v in vec) + ")"


def _sql_dot(a: str, b: str) -> str:
    """SQL text parsing to the exact ``dot_expr`` tree (same HOF nodes,
    same casts, same 0.0D seed). Lambda variables carry a collision-
    proof ``__ivf_`` prefix so a caller column named ``x``/``v``/...
    can never be silently shadowed inside the lambda body (the r15
    ADVICE hazard — backticks do not protect a reference from
    lambda-variable resolution; lambda names are binding-only, so the
    rename leaves the resolved tree and every value unchanged)."""
    return (
        f"aggregate(zip_with({a}, {b}, (__ivf_x, __ivf_y) -> CAST(__ivf_x AS DOUBLE) * "
        f"CAST(__ivf_y AS DOUBLE)), 0.0D, (__ivf_acc, __ivf_v) -> __ivf_acc + __ivf_v)"
    )


def _sql_floor6(e: str) -> str:
    """SQL text parsing to the exact ``floor_round6`` tree (int 1000000
    multiplier, 0.5D addend, 1000000.0D divisor — operand types matter
    for bit parity)."""
    return f"(FLOOR(({e}) * 1000000 + 0.5D) / 1000000.0D)"


def _sql_checked_norm(vec_sql: str) -> str:
    """SQL text parsing to ``_checked_norm(norm_expr(vec))``: the norm
    fold appears in both the predicate and the ELSE arm, exactly like
    the Column form's CaseWhen tree."""
    nrm = f"SQRT({_sql_dot(vec_sql, vec_sql)})"
    return (
        f"CASE WHEN {nrm} = 0.0D THEN CAST(raise_error('zero-norm vector "
        f"in IVF assignment: cosine assignment is undefined "
        f"— filter them before indexing') AS DOUBLE) ELSE {nrm} END"
    )


# Lambda variables bound inside the literal-SQL encodings below. The
# r15 ADVICE hazard: a vec_col named like a bound lambda variable is
# SHADOWED inside the lambda body (backticks quote an identifier but do
# not protect a reference from lambda-variable resolution), and a
# backtick in the name breaks the quoted identifier — both
# silent-wrong-values failure modes. Two defenses: the lambda names
# carry a collision-proof ``__ivf_`` prefix (a real caller legitimately
# used ``v`` — renaming the LAMBDAS, not restricting callers, is the
# fix; lambda names are binding-only so values are untouched), and the
# guard below still rejects the prefixed names plus anything a plain
# identifier can't express.
_SQL_LAMBDA_VARS = frozenset({"__ivf_nv", "__ivf_x", "__ivf_y", "__ivf_acc", "__ivf_v"})


def _check_vec_identifier(vec_col: str) -> None:
    if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", vec_col) or vec_col in _SQL_LAMBDA_VARS:
        raise ValueError(
            f"vec_col {vec_col!r} cannot be used in the literal-SQL cell "
            "scoring expressions: it must be a plain identifier and not "
            f"one of the bound lambda variables {sorted(_SQL_LAMBDA_VARS)} "
            "— rename the column before indexing"
        )


def _argmax_cell_expr(vec_col: str, centroids: list[list[float]]) -> Column:
    """Cell id with the highest cosine to ``vec_col``, as a pure JVM
    expression: an array of (score, cell) structs reduced by
    ``array_max`` (struct ordering compares score first, then cell —
    ties deterministically pick the highest cell id).

    Fold economy (measured on the Lloyd assignment pass): the naive
    per-centroid ``cosine_expr`` evaluates 3 interpreted aggregate
    folds per centroid per row — the dot (necessary), the row norm
    (redundant x n_cells), and the literal centroid norm (Catalyst
    does NOT constant-fold higher-order functions, so even the
    literal fold runs per row). Centroid norms become Python-computed
    literals (``_py_norm``, bit-identical) and the row norm is bound
    ONCE via a single-element ``transform`` — a `let` encoding: HOFs
    run interpreted with no codegen subexpression elimination, so
    naming the norm as a lambda variable is what makes the 8
    references one fold. n_cells=8: 24 folds/row -> 9. The score
    stays dot/(nrm_v * nrm_c), same grouping, values unchanged.

    Built as ONE ``F.expr`` SQL string, not nested Column calls: the
    Column form issued a py4j round trip per literal/lambda — n_cells
    x dim ``F.lit`` nodes ≈ thousands of ~1 ms driver socket calls
    PER CALL SITE (the r15 q212 cProfile: 11.2k py4j sends, ~12 s of
    a 14 s wall, all plan construction). The SQL text parses JVM-side
    in one call to the IDENTICAL expression tree (same HOF nodes,
    same literal doubles via shortest-round-trip repr, same struct
    field order), so values are unchanged by construction."""
    _check_vec_identifier(vec_col)
    norms = [_py_norm(c) for c in centroids]
    v = f"`{vec_col}`"
    entries = ", ".join(
        "named_struct('s', {s}, 'c', {i})".format(
            s=_sql_floor6(
                f"{_sql_dot(v, _sql_double_array(cent))} / (__ivf_nv * {_sql_double(nc)})"
            ),
            i=i,
        )
        for i, (cent, nc) in enumerate(zip(centroids, norms))
    )
    return F.expr(
        f"element_at(transform(array({_sql_checked_norm(v)}), "
        f"__ivf_nv -> array_max(array({entries})).c), 1)"
    )


# Above this count, the literal-fold device stops being the right
# encoding: its expression tree is n_cells x dim literal nodes (x every
# consumer), so a derived sqrt(N) capacity (q208: 256 cells at 20k
# vectors, 4096 at the cap) would spend minutes in Catalyst analysis
# before any execution. The broadcast-join formulation scales in
# n_cells with a constant-size plan.
_ASSIGN_JOIN_THRESHOLD = 16


def _centroid_array_df(spark, centroids: list[list[float]]) -> DataFrame:
    """The whole centroid table as ONE single-row array-of-structs
    DataFrame — crossJoin(broadcast(...)) hands every partition the one
    row (a BroadcastNestedLoopJoin that moves nothing of the other
    side), so per-row centroid scoring stays map-only with a plan whose
    size is constant in n_cells. Norms are Python-computed
    (``_py_norm``, bit-identical to the interpreted fold) so scoring
    folds only the dot."""
    # ONE slice: the default parallelize slicing fans this single row
    # across default.parallelism empty partitions, so every broadcast
    # build of it ran a 32-task job for one row (r15 profile)
    return spark.createDataFrame(
        spark.sparkContext.parallelize(
            [([(i, [float(x) for x in c], _py_norm(c)) for i, c in enumerate(centroids)],)], 1
        ),
        "_cents ARRAY<STRUCT<c: INT, cvec: ARRAY<DOUBLE>, cnorm: DOUBLE>>",
    )


def _cell_score(vec: Column, nv: Column, cent: Column) -> Column:
    """floor_round6 cosine of ``vec`` (row norm ``nv``) against a
    (c, cvec, cnorm) centroid struct — the one score every broadcast
    centroid array is ranked by."""
    return floor_round6(dot_expr(vec, cent["cvec"]) / (nv * cent["cnorm"]))


def _scored_cells(cents: str, vec: Column, nv: Column) -> Column:
    """The centroid array column ``cents`` as (s, c) structs scored by
    :func:`_cell_score`, so array_max/array_sort rank by (score, cell)."""
    return F.transform(
        F.col(cents), lambda e: F.struct(_cell_score(vec, nv, e).alias("s"), e["c"].alias("c"))
    )


def with_probe_cells(
    df: DataFrame,
    vec_col: str,
    centroids: list[list[float]],
    n_probe: int,
    out_col: str = "_probes",
) -> DataFrame:
    """Append ``out_col`` = the ``n_probe`` best (score, cell) structs
    for every row, descending (score DESC, cell DESC) — the
    probe-ranking twin of :func:`with_assigned_cell`, with the same
    dual encoding and the same dispatch threshold:

    - few cells: plan-literal centroid arrays (zero extra operators);
    - above ``_ASSIGN_JOIN_THRESHOLD``: the one-row broadcast centroid
      array — map-only, constant plan size. Before this the derived-
      capacity queries (q208/q211 at sqrt(N) cells) rebuilt the
      n_cells x dim literal tree in the PROBE stage even though the
      assignment stage had already moved to the broadcast encoding —
      at 2048 cells that is ~260k literal nodes of pure Catalyst
      analysis cost.

    Values and tiebreaks are identical across encodings: scores are
    floor_round6(dot / (row_norm * centroid_norm)) with the same
    operation grouping, centroid norms bit-identical by the
    ``_py_norm`` contract, and ranking is array_sort + reverse + slice
    on (s, c) structs in both."""
    if len(centroids) <= _ASSIGN_JOIN_THRESHOLD:
        # one F.expr string mirroring the former per-centroid
        # cosine_expr Columns exactly (same dot/(sqrt*sqrt) grouping,
        # same literal doubles) — the Column form cost a py4j round
        # trip per literal/lambda at plan-construction time (the
        # _argmax_cell_expr note)
        _check_vec_identifier(vec_col)
        v = f"`{vec_col}`"
        cell_scores = ", ".join(
            "named_struct('s', {s}, 'c', {i})".format(
                s=_sql_floor6(
                    "{dot} / (SQRT({vv}) * SQRT({cc}))".format(
                        dot=_sql_dot(v, _sql_double_array(cent)),
                        vv=_sql_dot(v, v),
                        cc=_sql_dot(_sql_double_array(cent), _sql_double_array(cent)),
                    )
                ),
                i=i,
            )
            for i, cent in enumerate(centroids)
        )
        return df.withColumn(
            out_col,
            F.expr(
                f"slice(reverse(array_sort(array({cell_scores}))), 1, {int(n_probe)})"
            ),
        )
    cent1 = _centroid_array_df(df.sparkSession, centroids)

    def ranked(nv: Column) -> Column:
        return F.slice(
            F.reverse(F.array_sort(_scored_cells("_cents", F.col(vec_col), nv))), 1, n_probe
        )

    cols = df.columns
    return df.crossJoin(F.broadcast(cent1)).select(
        *cols,
        F.element_at(F.transform(F.array(norm_expr(F.col(vec_col))), ranked), 1).alias(
            out_col
        ),
    )


def _flat_probe_cells(queries: DataFrame, centroids: list[list[float]], n_probe: int) -> DataFrame:
    """Query side of the flat probe: rank the cells per query and keep
    the ``n_probe`` best (:func:`with_probe_cells`) — the flat twin of
    :func:`_ivf2_probe_cells`. Returns (query_id, q_vec, qn, cell)."""
    return (
        with_probe_cells(_query_rows(queries), "q_vec", centroids, n_probe)
        .select("query_id", "q_vec", "qn", F.explode("_probes").alias("probe"))
        .select("query_id", "q_vec", "qn", F.col("probe.c").alias("cell"))
    )


def with_assigned_cell(
    df: DataFrame, vec_col: str, centroids: list[list[float]], out_col: str = "cell"
) -> DataFrame:
    """Append ``out_col`` = argmax-cosine cell id for every row.

    Two encodings, IDENTICAL values and tiebreaks (score is
    floor_round6(dot/(row_norm * centroid_norm)); ties pick the
    highest cell id):

    - ``n_cells <= _ASSIGN_JOIN_THRESHOLD``: the literal-fold
      expression (:func:`_argmax_cell_expr`) — zero shuffle, the right
      shape for a handful of cells.
    - larger: ship the whole centroid table as ONE broadcast
      array-of-structs column (a single-row BroadcastNestedLoopJoin —
      every partition of ``df`` receives the one centroid row, nothing
      of ``df`` moves) and reduce per input row with the exact
      ``transform``/``array_max`` device of :func:`_argmax_cell_expr`,
      just reading (cvec, cnorm, c) from the broadcast array instead
      of plan literals. MAP-ONLY: no exchange of the vector table at
      all (the round-8 formulation broadcast-joined the flat centroid
      table but then ``groupBy``-ed every input column to reduce the
      argmax — one full vector-table shuffle per assignment pass, i.e.
      per Lloyd iteration and per probe at 100 TB; it also silently
      collapsed duplicate input rows, the r08 ADVICE hazard — both
      gone here because nothing aggregates across rows). Plan size is
      constant in n_cells; the row norm is bound once via the
      single-element-transform `let` (HOFs have no codegen CSE)."""
    if len(centroids) <= _ASSIGN_JOIN_THRESHOLD:
        return df.withColumn(out_col, _argmax_cell_expr(vec_col, centroids))
    cent1 = _centroid_array_df(df.sparkSession, centroids)

    def best(nv: Column) -> Column:
        return F.array_max(_scored_cells("_cents", F.col(vec_col), nv))["c"]

    cols = df.columns
    return df.crossJoin(F.broadcast(cent1)).select(
        *cols,
        F.element_at(
            F.transform(F.array(_checked_norm(norm_expr(F.col(vec_col)))), best), 1
        ).alias(out_col),
    )


def _lloyd_dim_means(assigned: DataFrame) -> list:
    """Per-(cell, dim) Lloyd-step mean with ORDER-PINNED summation:
    contributions fold in vector-id order via
    ``aggregate(array_sort(collect_list(struct(id, x))))`` — the q149/
    q163 device — so a regenerated dataset or a different partitioning
    can never flip an ulp in the sum before the 6dp rounding (a flip
    here would cascade through assignments into every IVF/PQ oracle at
    once). Expects columns (id, cell, v); returns collected rows
    (cell, dims sorted by pos). The mirror SQL form is
    ``list_sum(list(CAST(x AS DOUBLE) ORDER BY vec_id)) / COUNT(*)``."""
    return (
        assigned.select("id", "cell", F.posexplode("v").alias("pos", "x"))
        .groupBy("cell", "pos")
        .agg(
            (
                F.aggregate(
                    F.array_sort(F.collect_list(F.struct("id", "x"))),
                    F.lit(0.0),
                    lambda acc, s: acc + s["x"].cast("double"),
                )
                / F.count(F.lit(1))
            ).alias("m")
        )
        .groupBy("cell")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("dims"))
        .collect()
    )


# Cap on the derived cell count: centroids are driver-resident and the
# Lloyd/probe scoring builds one literal-fold expression per cell, so
# the exponent bounds BOTH driver memory and Catalyst expression size.
# 2^12 = 4096 cells x 64 dims x 8 B = 2 MB of centroids — comfortable;
# past that a real deployment shards the coarse quantizer (hierarchical
# IVF), which is a different operator, not a bigger literal.
_IVF_MAX_CELLS_EXP = 12


def derived_n_cells(n: int) -> int:
    """Cardinality-derived cell count: the smallest power of two >=
    sqrt(n), floored at 4 and capped at 2^_IVF_MAX_CELLS_EXP. sqrt
    balances the two per-query costs — centroid scoring is O(n_cells)
    and each probed inverted list holds ~n/n_cells vectors — so both stay
    O(sqrt n) as the corpus grows, instead of an operator memo bumping
    a toy constant (n_cells=8 is right at 2k vectors and absurd at
    10^9). Pure integer arithmetic ((n-1).bit_length() == ceil(log2 n))
    so an external SQL CASE ladder computes the identical count for
    the identical cardinality — the q190 plane-derivation device.
    m/pq_k are NOT derived here: subspace count is dimension-driven
    (m must divide dim) and codebook size is a byte-budget constant
    (k=256 for 8-bit codes in practice), not cardinality-driven."""
    blen = max(n - 1, 0).bit_length()  # ceil(log2 n), 0 for n <= 1
    return min(1 << _IVF_MAX_CELLS_EXP, max(4, 1 << ((blen + 1) // 2)))


# faiss-standard train-set cap: k-means needs ~O(100) points per
# centroid to place it; past that, extra train points cost
# O(points x n_cells) per Lloyd pass and move centroids < 1 ulp of
# useful signal. faiss's max_points_per_centroid default is 256 —
# adopted verbatim, so the train term is O(min(|train|, 256*n_cells))
# whatever the corpus grows to (at 100 TB a 1/16 predicate alone still
# samples O(N) rows — this cap is what bounds the train-side scan).
_IVF_TRAIN_PER_CELL = 256

# Capped trains at or under this row count collect to the driver once
# and run the zero-action local Lloyd (ivf_train_centroids_local, bit-
# parity pinned): 32768 rows x 64 dims x 8 B = 16 MB on the driver,
# and the fold-order-pinned numpy Lloyd handles it in well under a
# second. Past this, Lloyd stays distributed over the (capped) train.
_IVF_LOCAL_TRAIN_MAX = 32768


def ivf_train_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 8,
    iters: int = 2,
) -> list[list[float]]:
    """Deterministic k-means-lite coarse quantizer: seed centroids are
    the ``n_cells`` lowest-id vectors, refined by ``iters`` Lloyd
    steps over the TRAIN SET = the ``min(|corpus|, 256 * n_cells)``
    lowest-id rows (the faiss ``max_points_per_centroid`` bound; the
    oracles mirror it with a ROW_NUMBER-over-vec_id rank cap). When
    the capped train fits ``_IVF_LOCAL_TRAIN_MAX`` rows it is
    collected ONCE (a bounded TakeOrdered) and Lloyd runs driver-local
    with zero further actions — the q212 level-1 device generalized,
    which is what cut q199's sequential-action floor (r11 verdict ask
    #5). Otherwise each step is one distributed pass: JVM-side cell
    assignment, then a per-dimension mean via ``posexplode`` + groupBy
    — shuffle keys are (cell, dim_pos), never the vectors themselves.
    Centroid components are rounded to 6 decimals so float summation
    order cannot leak into assignments, and the local and distributed
    paths are bit-identical (tests/test_ivf_determinism.py).

    Centroids (n_cells x dim floats) are driver-resident by design —
    an IVF coarse quantizer is tiny regardless of corpus size.
    """
    cap = _IVF_TRAIN_PER_CELL * n_cells
    probe = min(cap, _IVF_LOCAL_TRAIN_MAX)
    # ONE bounded action: the lowest (probe+1) ids tell us whether the
    # capped train is driver-sized without a separate count
    head = corpus.select(id_col, vec_col).orderBy(id_col).limit(probe + 1).collect()
    if cap <= _IVF_LOCAL_TRAIN_MAX or len(head) <= probe:
        rows = [(r[0], [float(x) for x in r[1]]) for r in head[:cap]]
        return ivf_train_centroids_local(rows, n_cells, iters)
    # capped train too large for the driver: distributed Lloyd. Apply
    # the rank cap only when it binds — never at the gate SFs; for
    # SAMPLED trains (q211/q212-family, 1/16) it starts binding past
    # ~16.7M corpus vectors, but an UNSAMPLED derived-capacity train
    # (q208's shape) binds from ~131k vectors (N > 256 * n_cells(N)),
    # i.e. already at sf10. The existence probe is limit(cap+1) — a
    # bounded early-stopping action, NOT corpus.count(): a full count
    # is an O(N) scan at 100 TB spent only to learn "more than cap".
    # The orderBy+limit funnel is then ONE bounded pass of <= cap rows
    # (<= 1M x 64 dims = 512 MB through the global limit), and
    # localCheckpoint truncates lineage so the Lloyd passes iterate
    # over the materialized train, not the sort
    work = corpus
    if corpus.limit(cap + 1).count() > cap:
        work = (
            corpus.select(id_col, vec_col)
            .orderBy(id_col)
            .limit(cap)
            .localCheckpoint(eager=True)
        )
    # zero-norm rows raise inside the assignment expression itself
    # (_checked_norm via with_assigned_cell) — the loud local-path
    # contract at zero extra actions
    seeds = work.orderBy(id_col).limit(n_cells).select(vec_col).collect()
    centroids = [[float(x) for x in r[0]] for r in seeds]
    # effective capacity clamps to the seed count when the training
    # subset is smaller than the requested n_cells (a sampled train
    # predicate at a tiny SF) — the oracle's c0 CTE self-clamps the
    # same way (ROW_NUMBER over the train rows cannot exceed them)
    n_cells = min(n_cells, len(centroids))
    # widen the scan if narrow: an embeddings table is few BYTES per
    # FLOP (sf0.1 = one 15 MB parquet split), so the scan gives the
    # fold-heavy assignment pass 1 task and AQE won't widen it; at
    # real scale the scan is already wide and the shuffle is skipped
    from .dedup import _spread_narrow_scan

    work = _spread_narrow_scan(work, id_col)
    for _ in range(iters):
        assigned = with_assigned_cell(
            work.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")),
            "v",
            centroids,
        )
        means = _lloyd_dim_means(assigned)
        # the canonical floor_round6 formula, NOT Python round(): round()
        # ties half-even while DuckDB round() ties half-away — a documented
        # divergent pair (functions/rounding.py); the floor form evaluates
        # to the identical double in Python, the JVM, and external SQL
        new = {
            r["cell"]: [math.floor(float(d["m"]) * 1000000 + 0.5) / 1000000.0 for d in r["dims"]]
            for r in means
        }
        centroids = [new.get(i, centroids[i]) for i in range(n_cells)]
    return centroids


def cosine_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 8,
    n_probe: int = 3,
    train_where: str | None = None,
    tombstones_where: str | None = None,
) -> DataFrame:
    """IVF approximate top-k: corpus rows are inverted-listed by their
    nearest coarse centroid (two Lloyd steps); each query scores only
    the rows of its ``n_probe`` closest cells. The candidate join is
    equi on the cell id — at 100 TB that is a shuffle of (id, vector)
    pairs within probed cells only, ~``n_probe / n_cells`` of the
    brute-force work, and the inverted lists can be written
    bucketed-by-cell so repeated query batches never reshuffle the
    corpus.

    ``train_where`` restricts the QUANTIZER TRAIN (seeds + Lloyd
    passes) to a deterministic subset while the inverted lists still
    cover every vector — the standard IVF economics at scale: Lloyd is
    O(|train| x n_cells) per iteration, so training on a sample whose
    size is a multiple of n_cells (not on all N rows) removes both
    full-corpus Lloyd passes, leaving the single final
    assignment pass as the only O(N x n_cells) stage (q211; decade
    measurements in BASELINE.md).

    ``tombstones_where`` is the plan-level twin of the persisted
    tombstone delete (:func:`delete_from_ivf_index` /
    :func:`query_ivf_index`): rows matching it are DELETED from the
    candidate side while the quantizer still trains on the FULL corpus
    — exactly the state of an index built before the deletions, its
    coarse quantizer frozen. The filter applies BEFORE the assignment
    pass: per-row assignment is independent, so pre-filtering is
    result-identical to post-filtering the inverted lists and skips
    the O(n_cells) scoring fold for every deleted row. Queries are NOT
    filtered (a deleted id may still ask for neighbors), and ranks are
    assigned after the exclusion — a deleted neighbor frees its rank."""
    train = corpus.where(train_where) if train_where else corpus
    centroids = ivf_train_centroids(train, n_cells=n_cells, iters=2)
    if tombstones_where:
        # IS NOT TRUE semantics, not ~pred: a row where the predicate
        # evaluates NULL is NOT deleted (a NULL id never matches a
        # tombstone in the persisted anti-join this mirrors; bare
        # ~NULL = NULL would silently drop it here)
        corpus = corpus.where(~F.coalesce(F.expr(tombstones_where), F.lit(False)))

    # _list_rows widens BEFORE the O(N x n_cells) scoring fold: an
    # embeddings scan is few bytes per FLOP (sf10 = 200k vectors in ~2
    # parquet splits), so without this the ENTIRE final assignment runs in 1-2 tasks —
    # measured 1029 s single-task vs ~40 s wide at sf10. Training
    # already spreads inside ivf_train_centroids; this is the same
    # lesson applied to the one remaining full-corpus pass. At real
    # scale the scan is already wide and this is a no-op (no shuffle).
    c = with_assigned_cell(_list_rows(corpus), "c_vec", centroids)
    q = _flat_probe_cells(queries, centroids, n_probe)
    return _score_topk(q, c, k)


def _member_table_df(spark, l2: list[list[float]], cell2super: dict[int, int]) -> DataFrame:
    """(super, members) with members = the super's (cell, cvec, cnorm)
    structs in cell order — the broadcast side of the second-level
    argmax. :func:`ivf2_train` guarantees every returned super owns at
    least one member cell (memberless supers are dropped from the
    routable quantizer there), so this table covers every super a row
    or query can route to."""
    by_super: dict[int, list[int]] = {}
    for cell, s in cell2super.items():
        by_super.setdefault(s, []).append(cell)
    rows = [
        (s, [(c, l2[c], _py_norm(l2[c])) for c in sorted(cells)])
        for s, cells in sorted(by_super.items())
    ]
    # one slice — n_super rows total; the broadcast build should not
    # cost a default.parallelism-task job (the _centroid_array_df note)
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1),
        "_super INT, _mcents ARRAY<STRUCT<c: INT, cvec: ARRAY<DOUBLE>, cnorm: DOUBLE>>",
    )


def ivf2_train(
    corpus: DataFrame,
    n_cells: int = 8,
    iters: int = 2,
    train_where: str | None = None,
) -> tuple[list[list[float]], list[list[float]], dict[int, int]]:
    """Two-level (hierarchical) coarse quantizer — the designed escape
    hatch past the flat build's O(N x n_cells) assignment wall
    (BASELINE.md round-9 decade study): level-2 cells train exactly as
    :func:`ivf_train_centroids` (optionally on a ``train_where``
    sample), then the CELL CENTROIDS THEMSELVES are clustered into
    ~sqrt(n_cells) level-1 supercells by the *same verbatim Lloyd
    device* (seeds = lowest cell ids, order-pinned means, 6dp floors)
    — so determinism and the oracle-unroll strategy are inherited, not
    re-proved. Returns (l2_centroids, l1_centroids, cell->super map).

    Assignment economics: a row scores n_super level-1 centroids, then
    only its winning supercell's members — ~2 sqrt(n_cells) scores per
    row instead of n_cells (11x less at 512 cells). The price is the
    standard hierarchical-quantizer approximation: a vector near a
    supercell boundary may land in a different cell than the flat
    argmax would pick. The oracle mirrors the SAME two-level rule, so
    the approximation is value-checked, not hand-waved."""
    train = corpus.where(train_where) if train_where else corpus
    l2 = ivf_train_centroids(train, n_cells=n_cells, iters=iters)
    n_super = derived_n_cells(len(l2))
    # The level-1 train clusters the DRIVER-RESIDENT level-2 centroid
    # table (<= 4096 rows) — run the bit-identical local Lloyd instead
    # of shipping it back through 4 distributed actions of pure session
    # latency (seeds + 2 mean collects + the assignment collect; the
    # distributed twin is pinned equivalent in test_ivf_determinism).
    cent_rows = list(enumerate(l2))
    l1 = ivf_train_centroids_local(cent_rows, n_super, iters)
    l1_norms = [_py_norm(c) for c in l1]
    cell2super = {i: _py_assign_cell(v, l1, l1_norms) for i, v in cent_rows}
    # Routing must only ever target supers that own at least one member
    # cell: Lloyd can leave a level-1 centroid with zero assigned cells
    # (empty cluster kept at its seed), and a corpus vector whose best
    # super were memberless would otherwise silently vanish from the
    # index — unreturnable for ANY query. Drop memberless supers from
    # the returned quantizer and renumber the rest by ascending
    # original id: order-preserving, so every argmax tie-break below
    # ranks identically to the unfiltered ids (the oracle mirrors by
    # restricting its super argmaxes to supers present in cellsup).
    routable = sorted(set(cell2super.values()))
    remap = {s: i for i, s in enumerate(routable)}
    l1 = [l1[s] for s in routable]
    cell2super = {c: remap[s] for c, s in cell2super.items()}
    return l2, l1, cell2super


def _ivf2_corpus_lists(corpus: DataFrame, members: DataFrame, l1: list[list[float]]) -> DataFrame:
    """Corpus rows routed level-1 supercell -> best member cell
    (map-only: the supercell argmax is :func:`with_assigned_cell`, the
    member argmax folds a per-super broadcast array — no vector ever
    shuffles). Returns (neighbor_id, c_vec, cn, cell) — the
    hierarchical inverted lists."""

    def best_member(nv: Column) -> Column:
        return F.array_max(_scored_cells("_mcents", F.col("c_vec"), nv))["c"]

    return (
        with_assigned_cell(_list_rows(corpus), "c_vec", l1, out_col="_super")
        .join(F.broadcast(members), "_super")
        # cn IS norm_expr(c_vec) — reuse it as the bound row norm
        .select(
            "neighbor_id",
            "c_vec",
            "cn",
            F.element_at(F.transform(F.array(F.col("cn")), best_member), 1).alias("cell"),
        )
    )


def _ivf2_probe_cells(
    queries: DataFrame,
    members: DataFrame,
    l1: list[list[float]],
    n_super_probe: int,
    n_probe: int,
) -> DataFrame:
    """Query side of the hierarchical probe: top ``n_super_probe``
    supercells -> member-cell ranking -> ``n_probe`` cells. Returns
    (query_id, q_vec, qn, cell)."""
    qs = (
        with_probe_cells(_query_rows(queries), "q_vec", l1, n_super_probe, out_col="_sprobes")
        .select("query_id", "q_vec", "qn", F.explode("_sprobes").alias("sp"))
        .select("query_id", "q_vec", "qn", F.col("sp.c").alias("_super"))
        .join(F.broadcast(members), "_super")
        .select("query_id", "q_vec", "qn", F.explode("_mcents").alias("mc"))
        .select(
            "query_id",
            "q_vec",
            "qn",
            F.col("mc.c").alias("cell"),
            _cell_score(F.col("q_vec"), F.col("qn"), F.col("mc")).alias("_cs"),
        )
    )
    wq = Window.partitionBy("query_id").orderBy(F.col("_cs").desc(), F.col("cell").desc())
    return (
        qs.withColumn("_rn", F.row_number().over(wq))
        .where(F.col("_rn") <= n_probe)
        .select("query_id", "q_vec", "qn", "cell")
    )


def cosine_topk_ivf2(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 8,
    n_probe: int = 3,
    n_super_probe: int = 2,
    train_where: str | None = None,
) -> DataFrame:
    """Hierarchical-IVF approximate top-k (:func:`ivf2_train`, two Lloyd
    steps): corpus rows route level-1 supercell -> best member cell
    (map-only: the supercell argmax is :func:`with_assigned_cell`, the
    member argmax folds a per-super broadcast array — no vector ever
    shuffles); queries probe their ``n_super_probe`` best supercells, rank the
    union of those supers' member cells, keep ``n_probe``, and score
    only those inverted lists. Per-row assignment work drops from
    O(n_cells) to O(sqrt n_cells) both build- and query-side."""
    spark = corpus.sparkSession
    l2, l1, cell2super = ivf2_train(corpus, n_cells, 2, train_where)
    members = _member_table_df(spark, l2, cell2super)
    c = _ivf2_corpus_lists(corpus, members, l1)
    q = _ivf2_probe_cells(queries, members, l1, n_super_probe, n_probe)
    return _score_topk(q, c, k)


def build_ivf2_index(
    corpus: DataFrame,
    path: str,
    n_cells: int = 8,
    iters: int = 2,
    train_where: str | None = None,
) -> tuple[list[list[float]], list[list[float]], dict[int, int]]:
    """Persist a HIERARCHICAL IVF index — :func:`build_ivf_index`'s
    contract at the two-level scale path: train the two-level quantizer
    (:func:`ivf2_train` — sampled level-2 Lloyd, driver-local level-1),
    route every corpus row supercell -> best member cell (map-only),
    write the inverted lists ``partitionBy("cell")`` with the row norm
    precomputed, and store both centroid levels + the cell->supercell
    map in the index's manifest. At 10^9 vectors this is the layout a
    serving tier wants: the expensive corpus pass happens once, per-row
    routing cost is O(sqrt n_cells), and every query batch reads only
    its probed cells' files via partition pruning. The crash contract
    is :func:`build_ivf_index`'s."""
    l2, l1, cell2super = ivf2_train(corpus, n_cells, iters, train_where)
    _write_index(corpus, path, l2, l1, cell2super)
    return l2, l1, cell2super


def recall_hits(base: DataFrame, approx: DataFrame, exact: DataFrame) -> DataFrame:
    """``base`` (one row per ``query_id``) with ``n_hits``: how many of
    the query's (query_id, neighbor_id) rows in ``approx`` are also in
    ``exact``, a bigint that is 0 for a query with none. The hit counts
    are per query, so they broadcast into the left join."""
    hits = (
        approx.join(exact, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return base.join(F.broadcast(hits), "query_id", "left").withColumn(
        "n_hits", F.coalesce("n_hits", F.lit(0)).cast("bigint")
    )


def ivf2_recall_sweep(
    corpus: DataFrame,
    queries: DataFrame,
    combos: list[tuple[int, int]],
    k: int = 10,
    n_cells: int = 8,
    train_where: str | None = None,
    persist=None,
) -> DataFrame:
    """Recall@k curve over (n_super_probe, n_probe) combinations — the
    table a deployment reads to pick its probe widths: the quantizer
    trains ONCE (:func:`ivf2_train`, two Lloyd steps), the corpus
    routes into its hierarchical inverted lists ONCE, and each combo
    re-runs only the query-side probe + scoring against the shared lists, with recall@k
    measured per query against the exact brute-force top-k
    (:func:`cosine_topk`) and aggregated per combo.

    Returns one row per combo:
    (n_super_probe, n_probe, n_queries, mean_recall, min_recall),
    mean_recall = sum(hits) / (k * n_queries) — exact integer
    arithmetic until the one terminal division.

    ``persist`` (optional callable, e.g. the registry's eager
    ``_persist``) caches the two combo-invariant corpus passes — the
    inverted lists and the exact baseline — so C combos cost C
    query-side probes, not C corpus scans. At index scale a deployment
    runs this sweep against an already-persisted index (q156/q199's
    device); the in-plan cache is the sweep-as-one-query equivalent."""
    spark = corpus.sparkSession
    l2, l1, cell2super = ivf2_train(corpus, n_cells, 2, train_where)
    members = _member_table_df(spark, l2, cell2super)
    c = _ivf2_corpus_lists(corpus, members, l1)
    exact = cosine_topk(corpus, queries, k).select("query_id", "neighbor_id")
    if persist is not None:
        c = persist(c)
        exact = persist(exact)
    qids = queries.select(F.col("vec_id").alias("query_id"))

    per_combo = []
    for n_super_probe, n_probe in combos:
        q = _ivf2_probe_cells(queries, members, l1, n_super_probe, n_probe)
        approx = _score_topk(q, c, k).select("query_id", "neighbor_id")
        per_combo.append(
            recall_hits(qids, approx, exact).select(
                F.lit(n_super_probe).cast("int").alias("n_super_probe"),
                F.lit(n_probe).cast("int").alias("n_probe"),
                "n_hits",
            )
        )
    union = per_combo[0]
    for rec in per_combo[1:]:
        union = union.unionByName(rec)
    return (
        union.groupBy("n_super_probe", "n_probe")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_queries"),
            floor_round6(
                F.sum("n_hits").cast("double")
                / (F.lit(float(k)) * F.count(F.lit(1)).cast("double"))
            ).alias("mean_recall"),
            floor_round6(F.min("n_hits").cast("double") / F.lit(float(k))).alias(
                "min_recall"
            ),
        )
        .orderBy("n_super_probe", "n_probe")
    )


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    n_cells: int = 8,
    iters: int = 2,
    train_where: str | None = None,
) -> list[list[float]]:
    """Persist an IVF index: train the coarse quantizer once, write the
    corpus as (neighbor_id, c_vec, cn) inverted lists
    ``partitionBy("cell")`` — ``vec_id`` and ``embedding`` renamed and
    the row norm stored, the list schema both quantizers share — and
    store the centroids in the index's manifest. At 100 TB this is the point of
    IVF — the expensive corpus pass happens once; every later query
    batch reads only its probed cells' files (partition pruning), never
    rescanning or reshuffling the corpus.

    ``train_where`` restricts the QUANTIZER TRAIN (seeds + Lloyd
    passes) to a deterministic subset while the inverted lists still
    cover the whole corpus — the cosine_topk_ivf/q211 train-on-sample
    economics applied to the persisted build: Lloyd is O(|train| x
    n_cells) per iteration, so sampling removes ``iters`` full-corpus
    scoring passes and leaves the final list-writing assignment as the
    only O(N x n_cells) stage.

    A crashed build converges when it is re-run: the lists commit in one
    ``sources.commit.write`` and the manifest lands after them
    (:func:`_write_index`)."""
    train = corpus.where(train_where) if train_where else corpus
    centroids = ivf_train_centroids(train, n_cells=n_cells, iters=iters)
    # zero-norm corpus rows (even outside the train subset) raise
    # inside the list-writing assignment expression (_checked_norm)
    # — no separate guard pass over the corpus
    _write_index(corpus, path, centroids)
    return centroids


# An index is three stores: its inverted lists at ``path`` (parquet,
# partitioned by cell), the ``<path>_tombstones`` table, and one
# manifest, a versioned JSON document (``sources.commit.write_document``)
# under ``<path>_manifest``:
#
#   {"l2": level-2 centroids, "l1": level-1 centroids or null,
#    "cell2super": each cell's supercell or null,
#    "schema": the list schema, "tokens": the batch tokens appended}
#
# A flat index has a null l1 and cell2super. The manifest is read on the
# driver with no Spark job: the quantizer and the tokens come from it,
# and its list schema pins every list read, so none infers one from
# parquet footers. (The tombstones keep inference: their neighbor_id
# column carries the caller's id type.)
_MANIFEST = "manifest"


def _routed_lists(
    corpus: DataFrame,
    l2: list[list[float]],
    l1: list[list[float]] | None = None,
    cell2super: dict[int, int] | None = None,
) -> DataFrame:
    """``corpus`` as (neighbor_id, c_vec, cn, cell) inverted-list rows,
    routed by the flat quantizer ``l2`` or, given ``l1``, the
    hierarchical one."""
    if l1 is None:
        return with_assigned_cell(_list_rows(corpus), "c_vec", l2)
    members = _member_table_df(corpus.sparkSession, l2, cell2super)
    return _ivf2_corpus_lists(corpus, members, l1)


def _write_index(
    corpus: DataFrame,
    path: str,
    l2: list[list[float]],
    l1: list[list[float]] | None = None,
    cell2super: dict[int, int] | None = None,
) -> None:
    """The one write path of both builds: ``corpus`` routed by the
    quantizer (:func:`_routed_lists`); ``l1``/``cell2super`` are None
    for a flat index.

    The lists repartition ON the partition column before the
    partitioned write: with derived capacities the cell count is large
    (2048 at 2M vectors), and a direct partitionBy write fans every
    assignment task across every cell — tasks x cells files (65k at
    sf10; 391 four-KB files under q199's 2000-row sf0.1 index; at
    cluster scale, executors x cells — a metadata explosion every
    probe, audit, and the driver-side job commit pay for). One shuffle
    of the routed rows buys ~one file per cell; the assignment fold
    itself still runs map-side, before the exchange. The appends apply
    the same device.

    A build starts a new generation. The old index's tombstones name
    rows of the index it replaces, so they are dropped first. The lists
    then commit in one ``sources.commit.write`` that retires every live
    list file, and the manifest, with no batch token, lands last. No
    step reads the old index, so re-running a crashed build converges
    from any crash point; until it has, a reader can pair the new lists
    with the old manifest."""
    spark = corpus.sparkSession
    lists = _routed_lists(corpus, l2, l1, cell2super)
    _recover_index(spark, path)
    commit.drop(spark, path + "_tombstones")
    retire = commit.live_files(spark, path)
    commit.write(spark, path, lists.repartition(F.col("cell")), retire=retire, partition_by=["cell"])
    # nullable, as parquet inference reports every field
    schema = StructType([StructField(f.name, f.dataType, True) for f in lists.schema.fields])
    manifest = {
        "l2": l2,
        "l1": l1,
        "cell2super": None if cell2super is None else [cell2super[c] for c in range(len(l2))],
        "schema": schema.jsonValue(),
        "tokens": [],
    }
    versions = commit.document_versions(spark, path + "_manifest", _MANIFEST)
    commit.write_document(spark, path + "_manifest", _MANIFEST, versions, manifest)


def _recover_index(spark, path: str) -> None:
    """Converge a crashed commit of the lists or of the tombstones
    (``sources.commit.recover``); every maintenance op runs this before
    it reads the index, so no table is read half-written and no stage
    is left in a later write's way."""
    for table in (path, path + "_tombstones"):
        commit.recover(spark, table)


def _read_manifest(spark, path: str) -> tuple[list[int], dict]:
    """(versions on disk, the newest manifest) of the index at ``path``.
    A missing manifest raises, and so does an unreadable one: routing
    needs the quantizer, and none is guessed from the lists."""
    versions, manifest = commit.read_document(spark, path + "_manifest", _MANIFEST)
    if manifest is None:
        raise RuntimeError(
            f"IVF index at {path} has no manifest under {path}_manifest — "
            "build it with build_ivf_index or build_ivf2_index"
        )
    return versions, manifest


def _quantizer(manifest: dict):
    """The persisted quantizer as (l2, l1, cell2super); ``l1`` and
    ``cell2super`` are None for a flat index."""
    cell2super = manifest["cell2super"]
    return manifest["l2"], manifest["l1"], None if cell2super is None else dict(enumerate(cell2super))


def _read_index(spark, path: str, manifest: dict) -> DataFrame:
    """The inverted lists, read with the schema the build recorded."""
    return spark.read.schema(StructType.fromJson(manifest["schema"])).parquet(path)


def append_to_ivf_index(
    new_vectors: DataFrame,
    path: str,
    skip_existing_ids: bool = True,
    batch_token: str | None = None,
) -> None:
    """Incremental index maintenance: assign a batch of NEW vectors to
    the EXISTING coarse quantizer (the manifest's, never retrained)
    and append their inverted-list rows. Existing cells' files are
    untouched — the append is a ``sources.commit.write`` that retires
    nothing, so only the new rows' files move into their cells'
    directories, and a crash mid-append publishes all of the batch or
    none of it. This is how a 100 TB IVF index absorbs daily arrivals;
    periodic retraining (when the data distribution drifts enough that
    cell occupancy skews — see the audit in q125's family) is a
    separate, rarer full rebuild.

    Serves both quantizers: the batch routes under whichever one the
    manifest records (:func:`_quantizer`) — the
    flat argmax over every cell, O(n_cells) per row, or supercell ->
    best member cell, O(sqrt n_cells) per row — and lands as the same
    (neighbor_id, c_vec, cn, cell) rows the build wrote.

    Idempotency — two guards with different cost contracts:

    - ``batch_token`` (the 100 TB path): the caller names the batch
      (ingest date, staging dir, upstream job id). Appends record the
      token in the index's manifest; a retry that presents an
      already-recorded token is a NO-OP after one driver read of the
      manifest, with no Spark job — independent of index size. This is
      the guard that keeps the "marginal cost O(|batch|)" promise.
    - ``skip_existing_ids`` (default, token-free): anti-joins the
      batch against the index's id column. The scan is column-pruned
      (ids only, no vectors), but it IS a pass over every index id —
      O(index ids) per append, NOT O(|batch|). Fine while the index
      is small or appends are rare; at 100 TB pass ``batch_token``
      (or route writes through deterministic per-batch staging dirs
      and set ``skip_existing_ids=False``).

    Both guards protect against the same failure: a blind re-append
    silently doubles inverted-list rows (duplicate neighbors, skewed
    occupancy audits).

    A batch containing a currently-TOMBSTONED id raises (see
    :func:`delete_from_ivf_index`): re-inserting a deleted id is only
    well-defined after a compaction, and proceeding would lose the new
    vector silently under either idempotency guard.

    Failure semantics of the manifest read: a missing or unreadable
    manifest RAISES before anything is appended — the batch cannot be
    routed without the quantizer, and proceeding past unreadable tokens
    is exactly the silent re-append the token exists to prevent.

    Crash window the token does NOT cover: the data append commits
    before the token is recorded in the next manifest version, so a
    crash between the two leaves committed rows with no token — a
    retry with the same token would re-append them. Keep
    ``skip_existing_ids=True`` as the backstop unless your
    orchestrator guarantees the data+token pair lands atomically. The
    check-then-write is also not serialized across CONCURRENT
    appenders presenting the same token; dedupe retries upstream
    (one writer per token) rather than racing two. The serialization
    requirement extends to EVERY mutating op on the index — an append
    racing a live compaction can roll back its uncommitted
    stage (the single-writer contract of ``sources.commit``)."""
    spark = new_vectors.sparkSession
    # converge any crashed write first: the index is read below, and a
    # stage left in place would make this append's staging write fail
    # (one fs.exists per table when nothing is pending)
    _recover_index(spark, path)
    versions, manifest = _read_manifest(spark, path)
    if batch_token is not None and batch_token in manifest["tokens"]:
        return
    # Re-inserting a TOMBSTONED id is rejected loudly (code-review r13):
    # silently it loses the update both ways — skip_existing_ids
    # anti-joins the new vector away against the still-present old row,
    # and without the skip the new row is written but the query-time
    # tombstone anti-join hides it and the next compaction deletes both
    # AND clears the tombstone. The delete+reinsert "update" pattern
    # must run compact_ivf_index between the two steps; this bounded
    # probe (broadcast semi-join against the tiny tombstone sidecar)
    # turns the silent loss into an instruction.
    tombs = commit.read_optional(spark, path + "_tombstones")
    if tombs is not None:
        clash = (
            new_vectors.select(F.col("vec_id").alias("neighbor_id"))
            .join(F.broadcast(tombs.select("neighbor_id")), on="neighbor_id", how="left_semi")
            .limit(5)
            .collect()
        )
        if clash:
            raise ValueError(
                f"append batch contains tombstoned id(s) {[r[0] for r in clash]}: "
                "use update_in_ivf_index (or run compact_ivf_index) before "
                "re-inserting a deleted id "
                "(appending now would be silently hidden by the tombstone "
                "and removed by the next compaction)"
            )
    l2, l1, cell2super = _quantizer(manifest)
    batch = new_vectors
    if skip_existing_ids:
        existing = _read_index(spark, path, manifest).select(F.col("neighbor_id").alias("vec_id"))
        batch = batch.join(existing, on="vec_id", how="left_anti")
    # zero-norm batch rows raise inside the assignment expression
    # (_checked_norm) during the append write — no extra guard action
    lists = _routed_lists(batch, l2, l1, cell2super)
    # repartition on the partition column before the partitioned write
    # (the _write_index note): an append otherwise lands
    # tasks x touched-cells new files EVERY batch, compounding the
    # index's file count with each ingest window.
    commit.write(spark, path, lists.repartition(F.col("cell")), partition_by=["cell"])
    if batch_token is not None:
        tokens = [*manifest["tokens"], batch_token]
        commit.write_document(spark, path + "_manifest", _MANIFEST, versions, {**manifest, "tokens": tokens})


def delete_from_ivf_index(
    ids: DataFrame,
    path: str,
    id_col: str = "vec_id",
) -> None:
    """Logical deletion — the missing step of the index lifecycle
    (build → persist → append → DELETE → compact). Records ``ids``
    (their ``id_col``) in a tiny ``_tombstones`` sidecar keyed
    ``neighbor_id`` — the lists' id column, with the caller's id type
    — on either quantizer;
    :func:`query_ivf_index` anti-joins it so deleted vectors stop
    appearing as neighbors IMMEDIATELY, while the inverted-list files
    are untouched — at 100 TB a delete must not rewrite a single data
    partition. Physical removal is :func:`compact_ivf_index`; WHEN to
    run it is what :func:`tombstone_debt_report` (q225) reports:
    per-cell tombstone debt, the index-wide tombstone share, and the
    fraction of cells a compaction would touch (the pruning ratio that
    decides whether compacting now amortizes the rewrites).

    Cost contract: appended tombstones are deduped against the
    existing sidecar by anti-join — O(#tombstones) per delete, NOT
    O(index). The sidecar is assumed orders of magnitude smaller than
    the index (compaction resets it); if deletes ever rival corpus
    size, the index wants rebuilding, not tombstoning. Deleting an id
    the index never held is a harmless no-op tombstone (it anti-joins
    nothing and compaction clears it).

    Updating a vector is :func:`update_in_ivf_index` (delete →
    ``only_ids`` micro-compact → append — O(cells-of-batch), not a
    full compaction). Hand-rolling delete-then-reinsert still requires
    a compaction between the two steps: ``append_to_ivf_index``
    REJECTS a batch containing a currently-tombstoned id (loudly, with
    this instruction), because accepting it would lose the update
    silently either way — the default existing-id anti-join drops the
    new vector against the still-present old row, and without the skip
    the new row is hidden by the tombstone and removed (with the old
    one) by the next compaction.

    Idempotency/crash notes: a re-run of the same delete adds no
    duplicate tombstones (the anti-join); a crash mid-append leaves at
    most a committed subset of the batch — re-run to converge. Like
    ``append_to_ivf_index``, concurrent deleters are the caller's to
    serialize."""
    spark = ids.sparkSession
    _recover_index(spark, path)
    batch = ids.select(F.col(id_col).alias("neighbor_id")).distinct()
    existing = commit.read_optional(spark, path + "_tombstones")
    if existing is not None:
        batch = batch.join(existing.select("neighbor_id"), on="neighbor_id", how="left_anti")
    # one file per delete batch: the sidecar is tiny by contract, and
    # the distinct() above otherwise fans it across the shuffle width
    commit.write(spark, path + "_tombstones", batch.coalesce(1))


def _no_rewrite(tombstones: int = 0) -> dict:
    """The stats of a compaction that rewrote no cell."""
    return {"tombstones": tombstones, "cells_rewritten": [], "cells_removed": [], "rows_removed": 0}


def compact_ivf_index(spark, path: str, only_ids: DataFrame | None = None) -> dict:
    """Physical removal of tombstoned rows — the list-compaction half
    of delete. LAYOUT-AGNOSTIC: the rewrite keeps every non-partition
    column of the surviving rows verbatim, and only the lists'
    ``neighbor_id`` and the ``cell`` partition column are named, so
    one implementation compacts both quantizers' lists.
    Partition-pruned: ONLY cells that actually hold a tombstoned row
    are read (a column-pruned (id, cell) scan finds them) and ONLY
    those partitions are rewritten. A cell whose
    every member is tombstoned gets its directory removed outright;
    its centroid in the manifest is retained — a trained-but-empty cell is a
    legal index state (build produces them too) and queries probing it
    read nothing.

    ``only_ids`` restricts the compaction to tombstones whose id is in
    the given set (its ``neighbor_id`` column) — the MICRO-COMPACTION
    behind :func:`update_in_ivf_index`: only the cells holding THOSE ids'
    rows are rewritten (O(cells-of-batch), independent of how much
    unrelated tombstone debt the index carries), and only those ids
    leave the sidecar — unrelated tombstones stay recorded, and any of
    their rows living in a rewritten cell survive the rewrite still
    tombstoned. Ids in ``only_ids`` that are not currently tombstoned
    are ignored. Default ``None`` = full compaction (all tombstones,
    sidecar cleared).

    The partition rewrite is one ``sources.commit.write``:
    survivors stage under the invisible ``.maint-tmp``, and an intent
    retires the affected cells' files — a crash at ANY point converges
    under ``sources.commit.recover`` (which this function runs first,
    so a retried job self-heals before reading). The tombstone sidecar
    is still written LAST, in a commit of its own: a crash after the
    list commit but before the sidecar commit leaves tombstones that
    match nothing — queries stay correct, and a re-run finds zero
    affected cells and just rewrites the sidecar (one-way convergence).

    Returns a stats dict; no-op (nothing written, tombstones kept —
    there are none to keep) when the sidecar is absent or empty."""
    _recover_index(spark, path)
    tombs_all = commit.read_optional(spark, path + "_tombstones")
    if tombs_all is None:
        return _no_rewrite()
    tombs_all = tombs_all.select("neighbor_id").distinct().localCheckpoint(eager=True)
    if only_ids is not None:
        tombs = (
            tombs_all.join(
                only_ids.select("neighbor_id").distinct(), on="neighbor_id", how="left_semi"
            )
            .localCheckpoint(eager=True)
        )
    else:
        tombs = tombs_all
    n_tombs = tombs.count()
    if n_tombs == 0:
        return _no_rewrite()

    idx = _read_index(spark, path, _read_manifest(spark, path)[1])
    # ONE column-pruned pass (ids + the cell partition column, never
    # vectors) yields both the affected-cell list AND the matched-row
    # counts — the first cut ran two separate semi-join scans for them
    # (code-review r13). Taken BEFORE any rewrite: the scan is lazy,
    # and an action after the overwrite would read the
    # already-compacted files and count zero.
    per_cell = (
        idx.select("neighbor_id", "cell")
        .join(F.broadcast(tombs), on="neighbor_id", how="left_semi")
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    affected = sorted(int(r["cell"]) for r in per_cell)
    stats = _no_rewrite(n_tombs)
    if affected:
        stats["rows_removed"] = sum(int(r["n"]) for r in per_cell)
        # partition-pruned members of affected cells, EVERY column kept
        # (layout-agnostic — see docstring); checkpointed so the
        # rewrite does not read the files it replaces
        keep = (
            idx.where(F.col("cell").isin(affected))
            .join(tombs, on="neighbor_id", how="left_anti")
            .withColumn("cell", F.col("cell").cast("int"))
            .localCheckpoint(eager=True)
        )
        survivors = {
            int(r["cell"])
            for r in keep.select("cell").distinct().collect()
        }
        removed = [c for c in affected if c not in survivors]
        rewritten = [c for c in affected if c in survivors]
        if not survivors:
            # no affected cell keeps a row — if no COLD cell exists
            # either, this compaction would delete every cell=*
            # directory and leave a parquet directory with no data
            # file, which every later reader (audit, query, append's
            # id anti-join) fails to infer a schema from. That end
            # state is a delete of the whole corpus — the documented
            # "if deletes rival corpus size, rebuild" boundary — so
            # refuse it BEFORE any write (state unchanged, index still
            # queryable through its tombstones) instead of committing
            # an unreadable layout. Cheap: this column-pruned distinct
            # runs only on the rare all-affected-cells-dead branch.
            n_data_cells = idx.select("cell").distinct().count()
            if n_data_cells == len(affected):
                raise ValueError(
                    "compaction would remove every row of the index "
                    f"({n_tombs} tombstones cover all {n_data_cells} "
                    "cells' members): an emptied parquet index is "
                    "unreadable — rebuild the index (or drop its "
                    "directory) instead of compacting a total delete"
                )
        # one commit: survivors staged invisibly by cell (~one file
        # each), every affected cell's files retired, emptied cells'
        # directories dropped; cold cells are never listed or touched
        retire = commit.live_files(spark, path, [f"cell={c}" for c in affected])
        commit.write(spark, path, keep.repartition("cell"), retire=retire, partition_by=["cell"])
        stats.update(cells_rewritten=rewritten, cells_removed=removed)
    # rewrite the sidecar LAST (see docstring), always carrying its OWN
    # schema — a hardcoded BIGINT DDL would leave mixed-schema parquet
    # under _tombstones for an index with non-BIGINT ids. Full
    # compaction clears it; a micro-compaction removes only the
    # compacted ids and keeps unrelated tombstone debt recorded.
    if only_ids is None:
        remaining = tombs_all.limit(0)
    else:
        remaining = tombs_all.join(tombs, on="neighbor_id", how="left_anti")
    # one commit retiring every live file: a write whose job fails
    # leaves the old tombstones as they were (an overwrite would have
    # deleted them before the job ran)
    tombstones = path + "_tombstones"
    commit.write(spark, tombstones, remaining, retire=commit.live_files(spark, tombstones))
    return stats


def occupancy_report(counts: DataFrame) -> DataFrame:
    """(cell, n) → the occupancy audit report — per-cell counts and
    shares, the max/mean skew factor, and the ``needs_rebalance`` flag
    (skew > 2×). ONE implementation shared by the flat audit (q200)
    and the hierarchical one (q227), so the alarm threshold and its
    expression tree live in exactly one place and cannot desynchronize
    from the oracles that value-check them."""
    w = Window.partitionBy()  # bounded: ≤ n_cells rows
    total = F.sum("n").over(w).cast("double")
    mx = F.max("n").over(w).cast("double")
    ncells = F.count("*").over(w).cast("double")
    return counts.select(
        "cell",
        F.col("n").cast("bigint").alias("n_vectors"),
        floor_round6(F.col("n").cast("double") / total).alias("share"),
        floor_round6(mx * ncells / total).alias("skew_factor"),
        (mx * ncells > F.lit(2.0) * total).alias("needs_rebalance"),
    ).orderBy("cell")


def tombstone_debt_report(per_cell: DataFrame) -> DataFrame:
    """(cell, n, nt) → the tombstone-debt report — per-cell live/dead
    counts and fractions, the index-wide tombstone share, the
    affected-cell fraction (a compaction's pruning ratio), and the
    integer-exact ``needs_compact`` trigger (10·Σnt > Σn). The
    oracle-checked plan q225 builds its report with it."""
    w = Window.partitionBy()  # bounded: ≤ n_cells rows
    tot_n = F.sum("n").over(w)
    tot_t = F.sum("nt").over(w)
    return per_cell.select(
        "cell",
        F.col("n").cast("bigint").alias("n_vectors"),
        F.col("nt").cast("bigint").alias("n_tombstoned"),
        floor_round6(F.col("nt").cast("double") / F.col("n").cast("double")).alias(
            "tombstone_frac"
        ),
        floor_round6(tot_t.cast("double") / tot_n.cast("double")).alias("tombstone_share"),
        floor_round6(
            F.sum((F.col("nt") > 0).cast("long")).over(w).cast("double")
            / F.count(F.lit(1)).over(w).cast("double")
        ).alias("affected_cell_frac"),
        (F.lit(10) * tot_t > tot_n).alias("needs_compact"),
    ).orderBy("cell")


def update_in_ivf_index(
    new_vectors: DataFrame,
    path: str,
    batch_token: str | None = None,
) -> dict:
    """In-place vector UPDATE — the lifecycle step r14 named as the
    one remaining gap: through r14, replacing a single vector cost
    delete → FULL :func:`compact_ivf_index` (rewriting every
    tombstone-holding cell in the index) → append, because the
    re-insert guard correctly refuses anything cheaper. This composes
    the same three primitives with the compaction SCOPED to the update
    batch (``only_ids`` micro-compaction), so an update pays
    O(cells holding the batch's old rows) — for a single id, ONE cell
    rewrite — regardless of how much unrelated tombstone debt the
    index carries:

    1. tombstone the batch ids (:func:`delete_from_ivf_index` — the
       old vectors stop appearing as neighbors immediately);
    2. micro-compact exactly those ids
       (``compact_ivf_index(only_ids=batch)`` — their old rows leave
       the only cells that hold them, and only those ids leave the
       sidecar; unrelated tombstones stay recorded and their rows in a
       rewritten cell survive still-tombstoned);
    3. append the new vectors (they route fresh under the frozen
       quantizer — possibly to DIFFERENT cells than the old rows, as
       an updated embedding should; the re-insert guard passes because
       step 2 un-tombstoned the ids, and the existing-id guard is
       skipped because step 2 provably removed the old rows).

    Upsert semantics: an id the index never held tombstones nothing,
    micro-compacts nothing, and appends normally. Updating EVERY row
    of the index raises BEFORE any mutation (the total-wipe boundary —
    that is a rebuild, the same documented boundary as a total
    delete); the pre-check short-circuits on the first live id outside
    the batch, so the normal case pays ~one partition probe, not an
    index scan.

    Crash/idempotency (each step converges, so the composition does):
    after 1 → ids hidden, re-run converges; after 2 → ids absent
    entirely (the documented mid-update window — queries miss them
    until the re-run appends), re-run re-tombstones, finds no rows,
    clears the ids again, appends; mid-3 → the append is one commit, so
    recovery publishes all of the batch or none of it, and a re-run
    removes it (steps 1-2) and re-appends it whole. ``batch_token`` names
    the whole update: a token already recorded in the manifest makes
    the re-run a no-op BEFORE step 1 (step 3 records the token LAST, in
    the next manifest version, so a token is only ever visible for a
    fully-applied update).

    Single-writer contract (same as every mutating op on the index —
    see ``sources.commit``): serialize updates against appends,
    deletes and compactions.

    Serves both quantizers: step 3 is :func:`append_to_ivf_index`,
    which routes under whichever one the index was built with.

    Returns step 2's stats dict (the measured cost of the update's
    rewrite)."""
    spark = new_vectors.sparkSession
    # converge any crashed write before the pre-check reads the index
    # (a torn cell could otherwise make the wipe probe misjudge)
    _recover_index(spark, path)
    manifest = _read_manifest(spark, path)[1]
    if batch_token is not None and batch_token in manifest["tokens"]:
        return {**_no_rewrite(), "skipped_token": batch_token}
    ids = (
        new_vectors.select(F.col("vec_id").alias("neighbor_id"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # Total-wipe boundary, checked BEFORE any mutation (a code-review
    # r15 finding: the micro-compaction's own refusal fires only AFTER
    # step 1 has tombstoned every id — the whole index would sit
    # hidden behind the sidecar with every retry re-raising). The
    # anti-join probe is cheap in the normal case:
    # limit(1) short-circuits on the first live id outside the
    # (broadcast) batch, so only the pathological near-wipe case scans
    # far.
    survivor = (
        _read_index(spark, path, manifest)
        .select("neighbor_id")
        .join(F.broadcast(ids), on="neighbor_id", how="left_anti")
        .limit(1)
        .count()
    )
    if survivor == 0:
        raise ValueError(
            "update batch covers every row of the index: an in-place "
            "update of the whole corpus is a rebuild — run "
            "build_ivf_index/build_ivf2_index instead"
        )
    delete_from_ivf_index(ids, path, id_col="neighbor_id")
    stats = compact_ivf_index(spark, path, only_ids=ids)
    # skip_existing_ids=False: the guard would be a no-op by
    # construction — step 2 just physically removed every batch id's
    # rows, and a crash re-run re-executes steps 1-2 before reaching
    # this append — so the O(index ids) anti-join scan it costs would
    # buy nothing (a code-review r15 finding: that scan was the only
    # term breaking the documented O(cells-of-batch) update cost).
    append_to_ivf_index(new_vectors, path, skip_existing_ids=False, batch_token=batch_token)
    return stats


def query_ivf_index(
    queries: DataFrame,
    path: str,
    k: int = 10,
    n_probe: int = 3,
    n_super_probe: int = 2,
) -> DataFrame:
    """Top-k against a persisted IVF index of either quantizer. The
    driver-resident quantizer is read from the manifest
    (:func:`_quantizer`, no Spark job) and each query probes its ``n_probe``
    best cells — flat: ranked over every cell; hierarchical: the
    ``n_super_probe`` best supercells' member cells (the exact
    :func:`_ivf2_probe_cells` ranking; ``n_super_probe`` is read only
    on a hierarchical index). The probed cell set (≤ n_cells ids, one
    tiny driver round-trip) becomes a static partition filter on the
    inverted-list scan — the plan reads ONLY those cells' files
    (``PartitionFilters`` on the scan), which is what makes repeated
    query batches ~``n_probe / n_cells`` of a full scan. Values are
    identical to the in-plan :func:`cosine_topk_ivf` /
    :func:`cosine_topk_ivf2`: the persisted lists carry the same
    (c_vec, cn) and the probe/score devices are shared verbatim.
    Tombstoned ids (:func:`delete_from_ivf_index`) are anti-joined out
    of the candidate side before scoring, so deletes are visible
    without any file rewrite; ranks are assigned AFTER the exclusion
    (a deleted neighbor frees its rank for the next-best row)."""
    spark = queries.sparkSession
    manifest = _read_manifest(spark, path)[1]
    l2, l1, cell2super = _quantizer(manifest)
    if l1 is None:
        q = _flat_probe_cells(queries, l2, n_probe)
    else:
        members = _member_table_df(spark, l2, cell2super)
        q = _ivf2_probe_cells(queries, members, l1, n_super_probe, n_probe)
    # q is consumed twice (probed-cell collect, then the broadcast join);
    # checkpoint so the per-row centroid scoring runs once
    q = q.localCheckpoint(eager=True)

    # dedup driver-side: q is ≤ queries x n_probe rows (already
    # materialized above), and .distinct() before the collect costs an
    # extra shuffle + AQE job for a set the driver builds in microseconds
    probed_cells = sorted({r["cell"] for r in q.select("cell").collect()})
    c = _read_index(spark, path, manifest).where(F.col("cell").isin(probed_cells))
    tombs = commit.read_optional(spark, path + "_tombstones")
    if tombs is not None:
        # logical deletes: exclude BEFORE scoring/ranking, so a deleted
        # neighbor frees its rank for the next-best candidate. The
        # tombstone side is tiny (compaction resets it) — broadcast
        # anti-join, no shuffle of the candidate lists
        c = c.join(F.broadcast(tombs.select("neighbor_id")), on="neighbor_id", how="left_anti")
    return _score_topk(q, c, k)


def split_hot_cells(members: DataFrame, materialize=None) -> DataFrame:
    """The deterministic 2-seed farthest-point split of the
    oracle-checked plan q223_ivf_cell_split: the seed rules, the
    ``min(struct(cos_a, id))`` argmin, the ``>=`` tie-to-A assignment,
    and the 6dp flooring.

    ``members``: (cell, id, v, nrm) rows of the hot cells only.
    Returns (cell, id, v, sub) with sub in ('a', 'b'): seed A is the
    cell's lowest id, seed B its farthest member by 6dp-rounded cosine
    (id tiebreak), members join the nearer seed with ties to A.
    ``materialize`` (optional) is applied to the cos_a member table,
    which feeds BOTH the seed-B argmin and the final assignment — pass
    an eager persist/checkpoint hook so that pass runs once."""
    sa = (
        members.groupBy("cell")
        .agg(F.min("id").alias("a_id"))
        .join(
            members.select(
                F.col("id").alias("a_id"),
                F.col("v").alias("a_vec"),
                F.col("nrm").alias("a_nrm"),
            ),
            "a_id",
        )
        .select("cell", "a_vec", "a_nrm")
    )
    d = members.join(F.broadcast(sa), "cell").select(
        "cell",
        "id",
        "v",
        "nrm",
        floor_round6(
            dot_expr(F.col("v"), F.col("a_vec")) / (F.col("nrm") * F.col("a_nrm"))
        ).alias("cos_a"),
    )
    if materialize is not None:
        d = materialize(d)
    sb = (
        d.groupBy("cell")
        .agg(F.min(F.struct("cos_a", "id")).alias("m"))
        .select("cell", F.col("m.id").alias("b_id"))
        .join(
            members.select(
                F.col("id").alias("b_id"),
                F.col("v").alias("b_vec"),
                F.col("nrm").alias("b_nrm"),
            ),
            "b_id",
        )
        .select("cell", "b_vec", "b_nrm")
    )
    return d.join(F.broadcast(sb), "cell").select(
        "cell",
        "id",
        "v",
        F.when(
            F.col("cos_a")
            >= floor_round6(
                dot_expr(F.col("v"), F.col("b_vec")) / (F.col("nrm") * F.col("b_nrm"))
            ),
            F.lit("a"),
        )
        .otherwise(F.lit("b"))
        .alias("sub"),
    )


def embedding_near_dup_pairs(
    corpus: DataFrame, threshold: float = 0.95, n_planes: int = 8
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, score ≥
    threshold), LSH-blocked over 64-dim embeddings: near-identical
    vectors land in the same sign bucket with high probability, so
    candidate generation is an equi self-join on bucket.

    Two in-bucket-compute rules (sf1.0, 20k vectors, p=8, measured):

    - Norms are computed ONCE per vector in the tagged projection, so
      each candidate pair evaluates only the dot fold — the per-pair
      ``cosine_expr`` form re-folds both norms per pair (3× the
      interpreted higher-order-function work; the DuckDB oracle's
      ``a.nrm * c.nrm`` CTE is the same shape, and the division
      grouping dot/(nrm_a·nrm_b) is unchanged so values stay
      bit-identical).
    - Both join sides get an explicit ``repartition(width, bucket)``:
      the tagged table is ~10 MB of shuffle bytes, so AQE coalesces
      the self-join to ~1 partition and the O(bucket²) interpreted
      cosine folds run single-threaded (the dedup._compute_width
      lesson: AQE's partition model is bytes, not FLOPs). This stays
      UNCONDITIONAL (no narrow-scan check): the equi-join on bucket
      requires a bucket-hash exchange anyway, so the explicit one
      replaces the join's own — zero extra shuffle at any scale; it
      only pins the width AQE would otherwise coalesce away."""
    from .dedup import _compute_width

    planes = _hyperplanes(64, n_planes)
    tagged = (
        corpus.select(
            F.col("vec_id").alias("doc"),
            F.col("embedding").alias("vec"),
            _bucket_expr(planes).alias("bucket"),
            norm_expr(F.col("embedding")).alias("nrm"),
        )
        .repartition(_compute_width(corpus), "bucket")
    )
    a, b = tagged.alias("a"), tagged.alias("b")
    return (
        a.join(b, on=(F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.doc") < F.col("b.doc")), how="inner")
        .select(
            F.col("a.doc").alias("id_a"),
            F.col("b.doc").alias("id_b"),
            floor_round6(
                dot_expr(F.col("a.vec"), F.col("b.vec")) / (F.col("a.nrm") * F.col("b.nrm"))
            ).alias("score"),
        )
        .where(F.col("score") >= threshold)
    )


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    lo: float,
    hi: float,
    k: int = 10,
) -> DataFrame:
    """Hard-negative mining for contrastive/embedding training: per
    query, the top-k corpus vectors whose cosine lands in [lo, hi) —
    similar enough to be informative negatives, below the near-dup
    threshold (``hi``) so positives/duplicates are excluded.

    Same shape as ``cosine_topk`` (broadcast queries × corpus, no
    corpus shuffle); the band filter runs on the 6dp-floored score so
    the boundary is ulp-stable and identical cross-engine. At scale
    the corpus side swaps in the IVF/LSH candidate streams (the band
    filter composes unchanged).
    """
    q = queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec"))
    c = corpus.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_vec"))
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            floor_round6(cosine_expr(F.col("q_vec"), F.col("c_vec"))).alias("score"),
        )
        .where((F.col("score") >= F.lit(lo)) & (F.col("score") < F.lit(hi)))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


# --- product quantization (PQ) ----------------------------------------
#
# Embedding compression for billion-vector ANN: split each vector into
# M subspaces, k-means each subspace, store each vector as M small
# codes (here 2 x 2 bits instead of 64 floats). Search uses asymmetric
# distance computation (ADC): per query, one small distance table per
# subspace against the codebook, then every corpus vector's distance
# is M table lookups — no original vectors touched (Jegou et al.,
# "Product Quantization for Nearest Neighbor Search", TPAMI'11).
# Codebooks are driver-resident like the IVF centroids (M*K*dsub
# floats, bounded); training is the same distributed Lloyd device as
# ivf_train_centroids with L2/argmin instead of cosine/argmax.


def l2_expr(a: Column, b: Column) -> Column:
    """Squared L2 distance, same fold device as dot_expr."""
    return F.aggregate(
        F.zip_with(
            a, b, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _argmin_cell_expr(vec_col: Column, centroids: list[list[float]]) -> Column:
    """Cell id with the smallest 6dp-floored L2 to the vector:
    array_min over (dist, cell) structs — ties pick the LOWEST cell id
    (struct ordering), mirrored in oracles as ORDER BY dist, cell."""
    entries = []
    for i, cent in enumerate(centroids):
        lit_c = F.array(*[F.lit(v) for v in cent])
        entries.append(
            F.struct(floor_round6(l2_expr(vec_col, lit_c)).alias("d"), F.lit(i).alias("c"))
        )
    return F.array_min(F.array(*entries))["c"]


def pq_train(
    corpus: DataFrame,
    m: int = 2,
    k: int = 4,
    iters: int = 2,
    dim: int = 64,
) -> list[list[list[float]]]:
    """Train M codebooks of K centroids each (deterministic: seeds are
    the K lowest-id vectors' sub-vectors, per-dimension means floored
    to 6dp — the ivf_train_centroids contract, per subspace)."""
    dsub = dim // m
    books: list[list[list[float]]] = []
    spread = _spread_narrow_scan(corpus, "vec_id")  # the Lloyd width note
    for s in range(m):
        sub = F.slice(F.col("embedding"), s * dsub + 1, dsub)
        subdf = spread.select(F.col("vec_id").alias("id"), sub.alias("sv"))
        seeds = subdf.orderBy("id").limit(k).select("sv").collect()
        cents = [[float(x) for x in r[0]] for r in seeds]
        for _ in range(iters):
            assigned = subdf.select(
                F.col("id"),
                F.col("sv").alias("v"),
                _argmin_cell_expr(F.col("sv"), cents).alias("cell"),
            )
            means = _lloyd_dim_means(assigned)
            new = {
                r["cell"]: [
                    math.floor(float(d["m"]) * 1000000 + 0.5) / 1000000.0 for d in r["dims"]
                ]
                for r in means
            }
            cents = [new.get(i, cents[i]) for i in range(k)]
        books.append(cents)
    return books


def pq_encode(corpus: DataFrame, books: list[list[list[float]]]) -> DataFrame:
    """(vec_id, code_0 .. code_{M-1}): each vector compressed to M small
    codes — the representation that lets a billion-vector index live
    in memory. Pure JVM expressions, no shuffle."""
    dsub = len(books[0][0])
    cols = [F.col("vec_id")]
    for s, cents in enumerate(books):
        sub = F.slice(F.col("embedding"), s * dsub + 1, dsub)
        cols.append(_argmin_cell_expr(sub, cents).alias(f"code_{s}"))
    # widen before the M x K x dsub fold per row (the cosine_topk_ivf
    # width note — single-split scans serialize the encode pass)
    return _spread_narrow_scan(corpus, "vec_id").select(*cols)


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    books: list[list[list[float]]],
    k: int = 10,
) -> DataFrame:
    """Asymmetric-distance top-k: corpus side is codes only; per pair
    the distance is the sum over subspaces of the 6dp-floored L2 from
    the query's sub-vector to the centroid the code names (the
    distance-table lookup, expressed as element_at into a per-query
    literal-codebook table)."""
    dsub = len(books[0][0])
    codes = pq_encode(corpus, books)
    q = queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec"))
    adc = None
    for s, cents in enumerate(books):
        qsub = F.slice(F.col("q_vec"), s * dsub + 1, dsub)
        table = F.array(
            *[
                floor_round6(l2_expr(qsub, F.array(*[F.lit(v) for v in cent])))
                for cent in cents
            ]
        )
        term = F.element_at(table, F.col(f"code_{s}") + F.lit(1))
        adc = term if adc is None else adc + term
    scored = (
        F.broadcast(q)
        .crossJoin(codes)
        .where(F.col("query_id") != F.col("vec_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), adc.alias("adc_dist"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("adc_dist").asc(), F.col("neighbor_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    m: int = 2,
    pq_k: int = 4,
) -> DataFrame:
    """IVF + PQ — the canonical billion-vector ANN stack (FAISS
    IVFPQ): the coarse quantizer (8 cells, two Lloyd steps) prunes the
    corpus to the 3 probed cells' inverted lists, and within them candidates are ranked by
    asymmetric PQ distance — so query-time work is
    ~3/8 of the 64-dim corpus in CODES (2 small ints per
    vector), with original vectors touched by neither stage. Both
    quantizers are the deterministic Lloyd devices already
    value-checked alone (q67, q177)."""
    centroids = ivf_train_centroids(corpus, n_cells=8, iters=2)
    books = pq_train(corpus, m=m, k=pq_k)
    dsub = 64 // m

    codes = with_assigned_cell(
        _spread_narrow_scan(
            corpus.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("embedding").alias("_v"),
            ),
            "neighbor_id",
        ),
        "_v",
        centroids,
    ).select(
        "neighbor_id",
        "cell",
        *[
            _argmin_cell_expr(
                F.slice(F.col("_v"), s * dsub + 1, dsub), books[s]
            ).alias(f"code_{s}")
            for s in range(m)
        ],
    )

    q = (
        with_probe_cells(
            queries.select(
                F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec")
            ),
            "q_vec",
            centroids,
            3,
        )
        .select("query_id", "q_vec", F.explode("_probes").alias("probe"))
        .select("query_id", "q_vec", F.col("probe.c").alias("cell"))
    )

    adc = None
    for s, cents in enumerate(books):
        qsub = F.slice(F.col("q_vec"), s * dsub + 1, dsub)
        table = F.array(
            *[
                floor_round6(l2_expr(qsub, F.array(*[F.lit(v) for v in cent])))
                for cent in cents
            ]
        )
        term = F.element_at(table, F.col(f"code_{s}") + F.lit(1))
        adc = term if adc is None else adc + term

    scored = (
        F.broadcast(q)
        .join(codes, on="cell", how="inner")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", adc.alias("adc_dist"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("adc_dist").asc(), F.col("neighbor_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)
