"""K-Minimum-Values (KMV) distinct sketch — beyond-reference layer.

Completes the mergeable-sketch family (HLL: q150/q153 distinct counts;
Count-Min: q154 frequencies) with the one capability HLL lacks:
**set-operation estimates**. A KMV sketch is the k smallest distinct
hash values of a set; because min-of-union = union-of-mins, sketches
merge associatively (take the k smallest of the concatenation), and
two sets' sketches jointly estimate Jaccard similarity and
intersection size (Beyer et al., "On Synopses for Distinct-Value
Estimation Under Multiset Operations", SIGMOD'07):

    D(S)     ~= (k-1) / h_(k)          (h_(k) = k-th min, hash in [0,1))
    J(A,B)   ~= |KMV(A u B) n KMV(A) n KMV(B)| / k
    |A n B|  ~= J * D(A u B)

Scale shape: hashing and dedup are one distinct on (group, hash);
per-group k-mins are a window rank over that deduped stream (the
grouped form), and a *global* k-min is ``ORDER BY LIMIT k`` —
TakeOrderedAndProject, a per-partition heap + driver merge of k values,
no full sort, no single-partition window. Partial sketches from
disjoint shards merge by re-ranking k*shards rows — kilobytes — which
is what answers corpus-wide distinct/overlap questions at 100 TB
without rescanning (same contract as the HLL register MAX-merge).

Hashes are the portable 60-bit md5-prefix family (exact integer math,
reproducible in DuckDB), kept as longs until the final estimate so the
only float ops are the last division and the 6dp floor.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

TWO_60 = float(1 << 60)  # exact power of two


def kmv_hash(col: Column) -> Column:
    """60-bit md5-prefix hash of the value's string form (DuckDB twin:
    ``CAST(('0x' || substr(md5(CAST(x AS VARCHAR)), 1, 15)) AS BIGINT)``)."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 15), 16, 10).cast("long")


def kmv_global_sketch(df: DataFrame, value_col: str, k: int) -> DataFrame:
    """The k smallest distinct hashes of ``value_col`` as rows (`hv`).
    TakeOrderedAndProject: no full sort, no window."""
    return (
        df.select(kmv_hash(F.col(value_col)).alias("hv")).distinct().orderBy("hv").limit(k)
    )


def kmv_grouped_sketch(df: DataFrame, group_expr: Column, value_col: str, k: int) -> DataFrame:
    """Per-group k smallest distinct hashes: rows (g, hv). One shuffle
    on (g, hv) for the dedup + rank."""
    h = df.select(group_expr.alias("g"), kmv_hash(F.col(value_col)).alias("hv")).distinct()
    w = Window.partitionBy("g").orderBy("hv")
    return h.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= k).select("g", "hv")


def kmv_merge(partials: DataFrame, k: int) -> DataFrame:
    """Merge partial sketches (rows of `hv`, any number of shards) into
    the sketch of the union: k smallest distinct values."""
    return partials.select("hv").distinct().orderBy("hv").limit(k)


# --- mergeable equi-width histogram → quantile estimates ---------------
#
# Fourth member of the sketch family: HLL (counts), Count-Min
# (frequencies), KMV (set operations), histogram (quantiles). Fixed
# power-of-two bin width over a declared domain → the sketch is a
# (bin, count) vector; partial vectors from disjoint shards merge by
# integer addition (associative, exact), so corpus-wide percentiles
# come from kilobytes of per-shard state. Bin width a power of two
# keeps `value / width` exact in IEEE doubles → identical binning in
# any engine.


def histogram_bins(df: DataFrame, value_col: str, width: int) -> DataFrame:
    """(bin, cnt) histogram; ``bin = floor(value / width)``. One
    map-side-combined aggregation."""
    b = F.floor(F.col(value_col).cast("double") / F.lit(float(width))).cast("long")
    return df.select(b.alias("bin")).groupBy("bin").agg(F.count("*").alias("cnt"))


def histogram_merge(partials: DataFrame) -> DataFrame:
    """Sum partial (bin, cnt) vectors — exact, associative."""
    return partials.groupBy("bin").agg(F.sum("cnt").alias("cnt"))


def histogram_quantiles(bins: DataFrame, width: int, qs: list[float]) -> DataFrame:
    """Linear-interpolated quantile estimates from a (bin, cnt)
    histogram: one row (quantile, estimate) per q. The cumulative walk
    is over the bin vector (|bins| = domain/width rows, never the
    data), so the single-partition window is over kilobytes.

    Float parity: target rank ``ceil(q * n)``, interpolation
    ``bin*width + width * ((target - cum_before) / cnt)`` — fixed
    expression trees mirrored in the q164 oracle.
    """
    spark = bins.sparkSession
    n = bins.agg(F.sum("cnt").alias("n"))
    cum = bins.withColumn(
        "cum", F.sum("cnt").over(Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0))
    )
    qdf = spark.createDataFrame([(float(x),) for x in qs], "quantile double")
    targets = qdf.crossJoin(F.broadcast(n)).select(
        "quantile",
        F.ceil(F.col("quantile") * F.col("n").cast("double")).cast("long").alias("target"),
    )
    crossing = (
        targets.join(cum, cum["cum"] >= targets["target"])
        .groupBy("quantile", "target")
        .agg(F.min("bin").alias("bin"))
    )
    est = (
        F.col("bin").cast("double") * F.lit(float(width))
        + F.lit(float(width))
        * ((F.col("target") - (F.col("cum") - F.col("cnt"))).cast("double") / F.col("cnt").cast("double"))
    )
    return (
        crossing.join(cum.select("bin", "cnt", "cum"), "bin")
        .select("quantile", est.alias("estimate"))
    )
