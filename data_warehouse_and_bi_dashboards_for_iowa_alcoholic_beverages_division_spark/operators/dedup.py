"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Beyond-reference layer for training-data pipelines. Design for 100 TB:

- **exact**: hash-groupBy on a fingerprint — one shuffle on the
  fingerprint, no full-text shuffle (group by md5, not by the text).
- **MinHash+LSH**: signatures are computed JVM-side (shingle → per-seed
  ``xxhash64`` → ``array_min``) with zero Python; banding turns the
  O(n²) pair space into per-bucket joins — the only shuffle is on
  (band index, band hash), and bucket sizes bound the join blowup.
- **SimHash**: 64-bit weighted-bit fingerprint; near-dups differ in
  few bits. Computed JVM-side with bit arithmetic.
- **n-gram Jaccard**: exact verify step over LSH candidate pairs only
  (``array_intersect``/``array_union`` on distinct shingle arrays).

Determinism: all hash seeds are fixed constants; no RNG at runtime.
"""

from __future__ import annotations

import re as _re

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame


def exact_dedup_keys(df: DataFrame, id_col: str) -> DataFrame:
    """Group identical ``text`` values: one row per distinct content
    with the kept (minimum) id and the duplicate count. Shuffles only
    (fingerprint, id) pairs — never the document bodies."""
    fp = F.md5(F.col("text"))
    return (
        df.select(F.col(id_col), fp.alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_copies"))
    )


# --- engine-portable MinHash hash family --------------------------------
# Base hash: 60-bit md5 prefix reduced mod 2^30; per-seed family:
# (a_i * h + b_i) mod (2^31 - 1) with a_i, b_i < 2^30 from the splitmix
# stream — every product stays < 2^60, so the arithmetic is exact 64-bit
# integer math in ANY engine (no overflow, no engine-specific hashing).
# xxhash64 remains the production family (one multiply-shift mix per
# value); the portable family costs a full md5 per shingle and exists so
# the complete MinHash+LSH pipeline can be value-checked externally.
_MH_PRIME = 2_147_483_647
_MH_BASE_MOD = 1 << 30


def _mh_family_constants(n: int, seed: int = 11) -> list[tuple[int, int]]:
    x = seed & 0xFFFFFFFFFFFFFFFF
    out = []
    for _ in range(n):
        pair = []
        for _ in range(2):
            x = (x + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
            z = x
            z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
            z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
            z = z ^ (z >> 31)
            pair.append(z % (_MH_BASE_MOD - 1) + 1)
        out.append((pair[0], pair[1]))
    return out


def portable_base_hash(c: Column) -> Column:
    """md5-prefix 60-bit hash reduced mod 2^30 (non-negative, exact in
    any engine)."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long") % F.lit(_MH_BASE_MOD)


def portable_family(consts: list[tuple[int, int]]):
    def fam(h: Column, i: int) -> Column:
        a, b = consts[i]
        return (F.lit(a) * h + F.lit(b)) % F.lit(_MH_PRIME)

    return fam


def portable_band_bucket(elements: list[Column]) -> Column:
    """Polynomial combine of a band's signature rows (base 31, no mod:
    4 values < 2^31 fold to < 2^46 — exact in 64-bit everywhere)."""
    acc = elements[0]
    for e in elements[1:]:
        acc = acc * F.lit(31) + e
    return acc


_PORTABLE_BUCKET_MOD = 1 << 52


def portable_band_bucket_mod():
    """Mod-folding variant of :func:`portable_band_bucket` for WIDE
    bands: beyond 4 rows the plain base-31 fold exceeds 64 bits, so
    each step reduces mod 2^52 (one fold step peaks below
    31 * 2^52 + 2^31 < 2^57, exact in 64-bit integer math in any
    engine). Wide bands (e.g. 4 bands x 8 rows) demand much
    higher per-band agreement (J^8 vs J^4), the right trade for
    near-identical-content detection like q188's excerpt windows where
    true matches have J ~= 1 and template-similar noise sits at
    J ~= 0.5."""

    def bb(elements: list[Column]) -> Column:
        acc = elements[0]
        for e in elements[1:]:
            acc = (acc * F.lit(31) + e) % F.lit(_PORTABLE_BUCKET_MOD)
        return acc

    return bb


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n_hashes: int = 32,
    shingle_k: int = 9,
    base_hash=None,
    family=None,
) -> DataFrame:
    """MinHash signatures as (doc, sig: array<bigint>[n_hashes]).

    Formulated as explode(shingles) → groupBy(doc) with one ``min``
    aggregate per seed: the shingle array is materialized once and
    each hash family is a vectorized aggregate — versus inlining
    ``array_min(transform(...))`` per seed, which re-evaluates the
    shingling n_hashes times (measured ~30× slower). The only shuffle
    is the partial-aggregated (doc, n_hashes mins) rows — map-side
    combine keeps it tiny regardless of document size."""
    # Explode shingle POSITIONS first: the generator materializes the
    # lowered text once per document, and each exploded row substrings
    # the materialized column. Building a shingle array via
    # transform(sequence(...), substring(lower(text), ...)) instead
    # re-evaluates lower() per element inside the lambda — measured ~8s
    # vs ~1s for 1.5M shingles. Duplicate shingles are harmless here
    # (min over a multiset equals min over its set).
    # the whole per-shingle hash stream — explode, substring, base
    # hash, and the map-side partial min-aggregation — executes in the
    # SCAN stage, and a text corpus is few bytes per FLOP (sf1.0
    # documents = one ~50 MB parquet split -> one task for the entire
    # 46 s signature stream). _spread_narrow_scan widens exactly when
    # the split count is the bottleneck and skips the corpus shuffle
    # when the scan is already wide (the 100 TB case).
    lowered = _spread_narrow_scan(
        df.select(F.col(id_col).alias("doc"), F.lower(F.col(text_col)).alias("lt")), "doc"
    )
    positions = lowered.select(
        "doc",
        "lt",
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.length("lt") - F.lit(shingle_k - 1), F.lit(1)))
        ).alias("i"),
    )
    # One string hash per shingle; the per-seed family then re-hashes
    # the resulting LONG (fixed-width input) instead of re-hashing the
    # string n_hashes times. Two cheaper-looking families were measured
    # SLOWER: arithmetic double-hashing (a + i*b mod p) loses to seeded
    # xxhash64 because pmod's integer division costs more than
    # xxhash64's multiply-shift mix, and ANSI mode forbids the
    # classic overflowing a*h+b. Seeded xxhash64 over the long wins
    # under any session config.
    base_hash = base_hash or (lambda c: F.xxhash64(c))
    family = family or (lambda h, i: F.xxhash64(h, F.lit(i)))
    base = positions.select("doc", base_hash(F.expr(f"substring(lt, i, {shingle_k})")).alias("h0"))
    sig_aggs = [F.min(family(F.col("h0"), i)).alias(f"h{i}") for i in range(n_hashes)]
    per_seed = base.groupBy("doc").agg(*sig_aggs)
    return per_seed.select("doc", F.array(*[f"h{s}" for s in range(n_hashes)]).alias("sig"))


def _bucket_pairs_expr(docs: Column) -> Column:
    """All ordered pairs (aᵢ, aⱼ), i<j, from a sorted array — inline
    array comprehension, no self-join."""
    return F.flatten(
        F.transform(
            docs,
            lambda x, i: F.transform(
                F.slice(docs, i + F.lit(2), F.size(docs)),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )


def _banded_docs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int,
    bands: int,
    shingle_k: int,
    base_hash,
    family,
    band_bucket,
) -> DataFrame:
    """(doc, band, bucket) rows — the ONE definition of band layout and
    bucketing, shared by candidate generation, incremental dedup, and
    the oversized-bucket audit so all three always describe the same
    buckets for the same hash-family parameters."""
    rows_per_band = n_hashes // bands
    band_bucket = band_bucket or (lambda els: F.xxhash64(*els))
    return minhash_signatures(df, id_col, text_col, n_hashes, shingle_k, base_hash, family).select(
        "doc",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        band_bucket(
                            [F.element_at("sig", b * rows_per_band + r + 1) for r in range(rows_per_band)]
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc", "bb.band", "bb.bucket")


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 9,
    base_hash=None,
    family=None,
    band_bucket=None,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """LSH banding: split the signature into ``bands`` bands of
    ``n_hashes/bands`` rows; docs sharing any band hash are candidate
    near-duplicate pairs. Returns (id_a, id_b) with id_a < id_b.

    Bucket membership is aggregated (``collect_list`` per (band,
    bucket)) and pairs are generated inline with array functions rather
    than by self-joining the bucket table: a self-join duplicates the
    whole signature-computation lineage into both join inputs (measured
    ~2x the signature cost at sf0.1) and shuffles twice. Here
    signatures are computed ONCE and the only shuffle is the tiny
    (band, bucket, doc) stream. Per-bucket pair count is O(s²) in
    bucket size either way — at 100 TB pass ``max_bucket_size`` to cap
    pathological buckets (boilerplate-heavy corpora) and report the
    capped ones via :func:`lsh_bucket_size_histogram`.
    """
    banded = _banded_docs(
        df, id_col, text_col, n_hashes, bands, shingle_k, base_hash, family, band_bucket
    )

    buckets = (
        banded.groupBy("band", "bucket")
        .agg(F.sort_array(F.collect_list("doc")).alias("docs"))
        .where(F.size("docs") > 1)
    )
    if max_bucket_size is not None:
        # pathological buckets (boilerplate-heavy corpora hash identical
        # bands for huge doc sets) generate O(s²) pairs; cap them to the
        # first ``max_bucket_size`` sorted members — deterministic, and
        # the kept prefix still pairs every retained doc. A capped bucket
        # loses recall by construction: count them via the DataFrame
        # below rather than capping silently.
        buckets = buckets.withColumn("docs", F.slice("docs", 1, max_bucket_size))
    return (
        buckets.select(F.explode(_bucket_pairs_expr(F.col("docs"))).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )


def lsh_bucket_size_histogram(
    df: DataFrame,
    id_col: str,
    bands: int = 8,
    max_bucket_size: int = 1000,
    base_hash=None,
    family=None,
    band_bucket=None,
) -> DataFrame:
    """Bucket-size histogram for a banded run over 32 hashes of the
    9-shingles of ``text``: (size, n_buckets, over_cap) per distinct
    bucket size: the audit companion to ``max_bucket_size``. Healthy
    corpora report a real distribution every run (so the audit query
    itself is value-checkable), and any ``over_cap`` row is recall the
    capped candidate run skipped. Pass the SAME hash-family parameters
    as the capped run — both go through :func:`_banded_docs`, so the
    histogram describes exactly the buckets that were capped."""
    banded = _banded_docs(df, id_col, "text", 32, bands, 9, base_hash, family, band_bucket)
    return (
        banded.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("size"))
        .groupBy("size")
        .agg(F.count(F.lit(1)).alias("n_buckets"))
        .select("size", "n_buckets", (F.col("size") > max_bucket_size).alias("over_cap"))
    )


def _compute_width(df: DataFrame) -> int:
    """Partition count for compute-bound stages: the session's shuffle
    width. Passed EXPLICITLY to ``repartition`` so AQE does not
    coalesce it away — AQE sizes partitions by shuffle bytes, which
    under-parallelizes stages whose per-byte compute dominates
    (shingling expands each input byte into ~k shingle-compares)."""
    try:
        return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        return df.sparkSession.sparkContext.defaultParallelism


_SCAN_SHAPED_NODES = frozenset({"Project", "Filter", "Relation", "LogicalRelation"})


def _is_scan_shaped(df: DataFrame) -> bool:
    """True iff the optimized logical plan contains ONLY
    projection/filter nodes over a relation — no joins, aggregates,
    windows, unions, or repartitions anywhere in the lineage. Checked
    off the optimized plan's tree (analysis only, never runs a job).
    An error inspecting the plan raises: it is not an answer."""
    tree = df._jdf.queryExecution().optimizedPlan().treeString()
    for line in tree.splitlines():
        name = line.lstrip(" +:-!*'")
        if not name:
            continue
        head = _re.match(r"[A-Za-z]+", name)
        if head is None or head.group(0) not in _SCAN_SHAPED_NODES:
            return False
    return True


def _spread_narrow_scan(df: DataFrame, *cols: str) -> DataFrame:
    """Widen a SCAN-stage input only when its static split count is
    below the compute width. Two regimes, one correct answer each:

    - Small SF / filtered corpus: the whole table is one
      ``maxPartitionBytes`` split, so fold-heavy work chained onto the
      scan runs single-task — repartition to compute width.
    - 100 TB: the scan already has thousands of splits; an
      unconditional repartition would shuffle the ENTIRE text stream
      just to re-spread what is already parallel — skip it.

    The check reads the static partition count off the RDD lineage
    (no job). This is ONLY valid for scan-shaped inputs, where the
    count is the real file-split count — AND where materializing
    ``.rdd`` is job-free. On a plan containing exchanges, ``.rdd``
    under AQE actually EXECUTES the upstream query stages (a hidden
    eager job at construction time) and the static count it returns
    is the meaningless pre-AQE width anyway. So the shape is
    ENFORCED, not assumed: anything that is not provably
    project/filter-over-relation takes the unconditional explicit
    repartition — the correct device for post-shuffle stages, whose
    AQE byte-blind coalescing is invisible to any static count."""
    width = _compute_width(df)
    if _is_scan_shaped(df) and df.rdd.getNumPartitions() >= width:
        return df
    return df.repartition(width, *[F.col(c) for c in cols])


def ngram_jaccard_pairs(
    df: DataFrame,
    candidate_pairs: DataFrame,
    id_col: str,
    text_col: str = "text",
    shingle_k: int = 9,
    persist_fn=None,
) -> DataFrame:
    """Exact Jaccard verification over candidate pairs: |A∩B| / |A∪B|
    on distinct shingle sets. Run only on the (small) candidate set —
    the expensive set ops never touch the full corpus cross-product.

    Two measured hot-path rules (sf1.0, 35k members, 174k pairs):

    - The lowered text is projected BEFORE the shingle lambda.
      Inlining ``lower(text)`` inside the ``transform`` body
      re-evaluates the full-document lowercase once PER SHINGLE —
      49.3 s vs ~2 s for the member set.
      (Same pitfall ``minhash_signatures`` documents; q188 fixed its
      own copy in round 6, this is the shared-operator fix.)
    - |A∪B| is computed as |A|+|B|−|A∩B| from per-member distinct
      counts instead of materializing ``array_union`` per pair —
      identical value (set identity), half the per-pair array work.
    - The member set is explicitly re-spread (``repartition(n,
      "doc")``) before the shingle projection: AQE coalesces the
      semi-join output by shuffle BYTES (35k docs ≈ 50 MB → one
      partition) but shingling expands each byte ~100× in compute,
      so the coalesced stage runs effectively single-threaded —
      measured 25.0 s → 2.2 s at 32 cores. The explicit partition
      count pins compute parallelism where AQE's byte model is blind.

    ``persist_fn``: the shingle table feeds BOTH join legs; the two
    branches of one downstream action each recompute it unless it is
    cached eagerly (a lazy persist lets the branches race past the
    empty cache — q188's measured 47 s vs 22 s failure mode). Callers
    with a cache registry pass their tracked eager-persist hook here;
    the default None keeps the operator side-effect-free.

    The shingle sets are carried as DISTINCT 60-BIT MD5-PREFIX HASHES
    (``md5_token_hash``), not strings — "dedup shuffles fingerprints,
    not bodies" applies to the verify stage too. The pair joins drag
    both members' shingle arrays through an id_b shuffle, so array
    bytes ARE the stage: at sf10 (500k docs, 7.2M pairs) the string
    form spent 194 s almost entirely in that shuffle (the intersect
    added <1 s); 8-byte hash arrays ran the same verify in 30 s and
    built the shingle table 3.4× faster (less to write into the
    cache). |A∩B| over hashes equals the string count unless two
    shingles of one pair collide in 60 bits (~1e-12 per pair) — and
    the DuckDB oracles hash with the IDENTICAL md5 device, so
    cross-engine parity is exact by construction even then.
    """
    # only shingle documents that appear in some candidate pair — the
    # expensive set materialization never touches the full corpus.
    # Both pair columns explode out of ONE pass over the pair table
    # (the r15 profile: the union-of-two-projections form read the
    # cached pair table twice — a 64-task broadcast-build stage where
    # 32 suffice; same device as connected_components' one-pass
    # symmetric edge list).
    member_ids = candidate_pairs.select(
        F.explode(F.array("id_a", "id_b")).alias("doc")
    ).distinct()
    shingle = F.array_distinct(
        F.expr(
            f"transform(sequence(1, greatest(length(_lt) - {shingle_k - 1}, 1)),"
            f" i -> substring(_lt, i, {shingle_k}))"
        )
    )
    hashed = F.array_distinct(F.transform(shingle, md5_token_hash))
    shingled = (
        df.select(F.col(id_col).alias("doc"), F.col(text_col).alias("_txt"))
        .join(member_ids, "doc", "left_semi")
        .repartition(_compute_width(df), "doc")
        .select("doc", F.lower(F.col("_txt")).alias("_lt"))
        .select("doc", hashed.alias("sh"))
        .select("doc", "sh", F.size("sh").alias("n_sh"))
    )
    if persist_fn is not None:
        shingled = persist_fn(shingled)
    a = shingled.select(
        F.col("doc").alias("id_a"), F.col("sh").alias("sh_a"), F.col("n_sh").alias("na")
    )
    b = shingled.select(
        F.col("doc").alias("id_b"), F.col("sh").alias("sh_b"), F.col("n_sh").alias("nb")
    )
    return (
        candidate_pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            "na",
            "nb",
            F.size(F.array_intersect("sh_a", "sh_b")).cast("double").alias("_i"),
        )
        .select(
            "id_a",
            "id_b",
            (
                F.col("_i") / (F.col("na").cast("double") + F.col("nb").cast("double") - F.col("_i"))
            ).alias("jaccard"),
        )
    )


# one literal mask per bit; 1<<63 is the (negative) sign-bit mask in
# signed-64 arithmetic, which bitwiseAND handles correctly
_BIT_MASKS = [1 << i for i in range(63)] + [-(1 << 63)]


def md5_token_hash(t: Column) -> Column:
    """Engine-portable 60-bit token hash: the first 15 hex chars of
    md5, parsed as an integer. Slower than ``xxhash64`` (the production
    default) but reproducible in external engines, which makes the
    whole SimHash pipeline value-checkable against an independent SQL
    implementation."""
    return F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")


def simhash_expr(text_col: str = "text", hash_fn=None) -> Column:
    """SimHash: per token, ``hash_fn`` (default ``xxhash64``) supplies
    the bit pattern; each bit position accumulates +1/−1 across tokens;
    the sign of each accumulator forms the fingerprint bit. Pure bit
    arithmetic via ``aggregate``/``zip_with`` over the token array —
    JVM-side, no UDF. (Shift amounts must be literals in Spark, so
    per-bit masks are a literal array zipped against the accumulator.)"""
    hash_fn = hash_fn or (lambda t: F.xxhash64(t))
    tokens = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    hashes = F.transform(tokens, hash_fn)
    masks = F.array(*[F.lit(m).cast("long") for m in _BIT_MASKS])
    counts = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), len(_BIT_MASKS)),
        lambda acc, h: F.zip_with(
            acc, masks, lambda a, m: a + F.when(h.bitwiseAND(m) != 0, F.lit(1)).otherwise(F.lit(-1))
        ),
    )
    return F.aggregate(
        F.zip_with(counts, masks, lambda c, m: F.when(c > 0, m).otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"),
        lambda acc, x: acc.bitwiseOR(x),
    )


def simhash_near_dup_pairs(
    df: DataFrame, id_col: str, max_hamming: int = 3, hash_fn=None
) -> DataFrame:
    """Near-dup pairs of ``text`` by SimHash Hamming distance, blocked
    on the four 16-bit quarters (pigeonhole: ≤3 differing bits ⇒ at
    least one identical quarter). Like the MinHash path, blocks are
    aggregated and pairs generated inline — the simhash computation
    runs once, not twice as in a bucket self-join."""
    # widen before the fold-heavy fingerprint if the scan is narrow
    # (the _spread_narrow_scan note: the 64-mask SimHash accumulation
    # would otherwise run inside a single-split scan stage)
    sh = _spread_narrow_scan(
        df.select(F.col(id_col).alias("doc"), F.col("text").alias("_txt")), "doc"
    ).select("doc", simhash_expr("_txt", hash_fn).alias("sh"))
    quarters = sh.select(
        "doc",
        "sh",
        F.explode(
            F.array(*[F.struct(F.lit(q).alias("q"), F.shiftright("sh", q * 16).bitwiseAND(F.lit(0xFFFF)).alias("qv")) for q in range(4)])
        ).alias("blk"),
    ).select("doc", "sh", "blk.q", "blk.qv")

    buckets = (
        quarters.groupBy("q", "qv")
        .agg(F.sort_array(F.collect_list(F.struct("doc", "sh"))).alias("members"))
        .where(F.size("members") > 1)
    )
    pairs = (
        buckets.select(F.explode(_bucket_pairs_expr(F.col("members"))).alias("p"))
        .select(
            F.col("p.id_a.doc").alias("id_a"),
            F.col("p.id_b.doc").alias("id_b"),
            F.col("p.id_a.sh").alias("sh_a"),
            F.col("p.id_b.sh").alias("sh_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return pairs.select("id_a", "id_b", hamming.alias("hamming")).where(F.col("hamming") <= max_hamming)


def _bipartite_bucket_pairs(docs: Column) -> Column:
    """(new, old) pairs from one bucket's member array of
    struct(doc, is_new) — inline, no self-join."""
    news = F.filter(docs, lambda d: d["is_new"])
    olds = F.filter(docs, lambda d: ~d["is_new"])
    return F.flatten(
        F.transform(
            news,
            lambda x: F.transform(
                olds, lambda y: F.struct(x["doc"].alias("new_id"), y["doc"].alias("old_id"))
            ),
        )
    )


def incremental_dedup(
    corpus: DataFrame,
    incoming: DataFrame,
    id_col: str,
    text_col: str = "text",
    n_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 9,
    min_jaccard: float = 0.5,
    base_hash=None,
    family=None,
    band_bucket=None,
    persist_fn=None,
) -> DataFrame:
    """Near-duplicates of ``incoming`` documents against an existing
    ``corpus`` — the per-batch dedup a continuously-ingesting training
    pipeline runs (new crawl slice vs. everything already kept).

    Both sides are minhash-banded with the SAME seeds, unioned with a
    side flag, and bucketed in ONE aggregation; candidate (new, old)
    pairs come from a bipartite in-bucket expansion, so there is no
    corpus x corpus work and no bucket-table self-join. Candidates are
    then verified with exact shingle Jaccard (only candidate pairs are
    ever shingled). Incremental cost scales with |incoming| + the
    touched buckets of the corpus, not |corpus|² — and at 100 TB the
    corpus-side signatures would be a precomputed table, making the
    marginal cost |incoming| only.

    Returns (new_id, old_id, jaccard) with jaccard >= ``min_jaccard``.
    """
    def banded(df: DataFrame, is_new: bool) -> DataFrame:
        return _banded_docs(
            df, id_col, text_col, n_hashes, bands, shingle_k, base_hash, family, band_bucket
        ).select("doc", F.lit(is_new).alias("is_new"), "band", "bucket")

    both = banded(incoming, True).unionByName(banded(corpus, False))
    buckets = (
        both.groupBy("band", "bucket")
        .agg(F.collect_list(F.struct("doc", "is_new")).alias("docs"))
        .where(F.size("docs") > 1)
    )
    cand = (
        buckets.select(F.explode(_bipartite_bucket_pairs(F.col("docs"))).alias("p"))
        .select("p.new_id", "p.old_id")
        .distinct()
    )
    # exact-verify on the union of both frames (ids are assumed to be
    # from one id space, as in a corpus with a monotonically growing id)
    all_docs = incoming.unionByName(corpus)
    pairs = cand.select(F.col("new_id").alias("id_a"), F.col("old_id").alias("id_b"))
    # the pair table feeds the member restriction AND the verify join;
    # cached via the caller's tracked hook so the banding lineage runs
    # once (same persist_fn contract as ngram_jaccard_pairs)
    if persist_fn is not None:
        pairs = persist_fn(pairs)
    verified = ngram_jaccard_pairs(all_docs, pairs, id_col, text_col, shingle_k, persist_fn)
    return (
        verified.where(F.col("jaccard") >= min_jaccard)
        .select(
            F.col("id_a").alias("new_id"),
            F.col("id_b").alias("old_id"),
            "jaccard",
        )
    )


def ssjoin_prefix(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
) -> DataFrame:
    """All-pairs set-similarity join via prefix filtering (PPJoin
    family, Xiao et al.): find every pair of documents whose word-set
    Jaccard is >= ``threshold``, WITHOUT the O(n^2) cross product and
    without the false negatives LSH candidates can have.

    Completeness argument: order every token by a global total order
    (ascending document frequency, then token text). If two sets with
    sizes na, nb overlap at >= t, each must contain at least one of
    the other's ``n - ceil(t*n) + 1`` smallest-ranked tokens — so
    joining only on *prefix* tokens under that order loses no
    qualifying pair. Rare-first ordering makes those prefixes nearly
    unique, so the candidate join is small.

    Scale shape: the token-rank table is |vocabulary| rows (its
    ranking window is a deliberate single-partition pass over the
    vocab, never the corpus); the candidate join shuffles prefix
    tokens only; exact verification joins token arrays back for the
    surviving pairs. Jaccard is int-count arithmetic — engine-exact.
    """
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    toks = docs.select(
        F.col(id_col).alias("id"), F.explode(F.array_distinct(F.split(norm, " "))).alias("t")
    ).where(F.col("t") != "")
    from pyspark.sql import Window

    rank = (
        toks.groupBy("t")
        .agg(F.count(F.lit(1)).alias("df"))
        .withColumn("r", F.row_number().over(Window.orderBy(F.asc("df"), F.asc("t"))))
        .select("t", "r")
    )
    arrs = (
        toks.join(F.broadcast(rank), "t")
        .groupBy("id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("r", "t"))), lambda s: s["t"]
            ).alias("ts")
        )
        .withColumn("n", F.size("ts"))
        .withColumn(
            "prefix",
            F.slice(
                "ts", 1, (F.col("n") - F.ceil(F.lit(threshold) * F.col("n")) + 1).cast("int")
            ),
        )
    )
    # arrs feeds four join inputs (pa, pb, ta, tb); checkpoint it once
    # so the tokenize + vocab-rank + collect_list lineage is not
    # recomputed per input (same device as the dedup-cluster loop)
    arrs = arrs.localCheckpoint(eager=True)
    pa = arrs.select(F.col("id").alias("a_id"), F.explode("prefix").alias("pt"))
    pb = arrs.select(F.col("id").alias("b_id"), F.explode("prefix").alias("pt"))
    cands = (
        pa.join(pb, "pt")
        .where(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )
    ta = arrs.select(F.col("id").alias("a_id"), F.col("ts").alias("ta"), F.col("n").alias("na"))
    tb = arrs.select(F.col("id").alias("b_id"), F.col("ts").alias("tb"), F.col("n").alias("nb"))
    # |A∪B| = |A|+|B|−|A∩B| from the already-carried set sizes — one
    # array op per pair instead of two (same identity as
    # ngram_jaccard_pairs; values bit-identical)
    return (
        cands.join(ta, "a_id")
        .join(tb, "b_id")
        .select(
            "a_id",
            "b_id",
            F.size(F.array_intersect("ta", "tb")).alias("_i"),
            "na",
            "nb",
        )
        .select(
            "a_id",
            "b_id",
            (F.col("_i") / (F.col("na") + F.col("nb") - F.col("_i"))).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )
