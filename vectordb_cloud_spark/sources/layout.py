"""Z-order (Morton-curve) data layout for multi-column file skipping.

A linear sort clusters files tightly on ONE column: predicates on the sort
key skip almost everything, predicates on any other column skip nothing.
Interleaving the bits of several columns' rank-bucket indices (the Morton /
Z-value) gives every participating column partial locality, so a
multi-column box predicate intersects far fewer files' min/max stat ranges
— Delta OPTIMIZE ZORDER BY / Iceberg sort-order, reproduced on plain
parquet.

All driver work is ``approxQuantile`` (two sketch passes); the z-value
itself is pure JVM bit algebra, and the layout write is one repartition
into equi-depth z slices + local sort — the cost of a plain global sort.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _bucket_index(col: Column, boundaries: list[float], bits: int) -> Column:
    """Map a value to its quantile bucket in [0, 2^bits): the count of
    boundaries <= value. Skew-robust (equi-depth, not equi-width); NULLs go
    to bucket 0. O(2^bits) literal comparisons folded into codegen."""
    arr = F.array(*[F.lit(float(b)) for b in boundaries])
    idx = F.size(F.filter(arr, lambda b: b <= col.cast("double")))
    return F.least(F.coalesce(idx, F.lit(0)), F.lit((1 << bits) - 1))


def zorder_value(cols_with_bounds: list[tuple[Column, list[float]]], bits: int) -> Column:
    """Interleave the bucket-index bits of each column into one long."""
    n = len(cols_with_bounds)
    if bits * n > 63:
        # Java shiftleft wraps the shift count mod 64: positions past 63
        # would silently fold onto low bits and scramble the curve
        raise ValueError(
            f"bits*len(cols) = {bits * n} exceeds the 63 usable bits of one "
            "long; lower bits or split the column set"
        )
    parts = []
    for ci, (col, bounds) in enumerate(cols_with_bounds):
        b = _bucket_index(col, bounds, bits)
        for bit in range(bits):
            # bit `bit` of column ci lands at interleaved position bit*n + ci
            parts.append(
                F.shiftleft(
                    F.shiftright(b.cast("long"), bit).bitwiseAND(F.lit(1)),
                    bit * n + ci,
                )
            )
    return reduce(lambda a, c: a.bitwiseOR(c), parts)


def _hash_partition_keys(n: int) -> list[int]:
    """``n`` long keys, the i-th landing in partition i under Spark's
    ``repartition(n, key)`` (``pmod(murmur3(key), n)``, the hash
    ``functions.hashing.murmur3_long`` reproduces): routing a row by the
    key of its file index sends each index to its own partition."""
    from vectordb_cloud_spark.functions.hashing import murmur3_long

    keys: dict[int, int] = {}
    k = 0
    while len(keys) < n:
        keys.setdefault(murmur3_long(k) % n, k)
        k += 1
    return [keys[i] for i in range(n)]


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    bits: int = 8,
    n_files: int = 16,
    quantile_error: float = 0.01,
) -> None:
    """Write ``df`` clustered on the Z-curve over ``cols``.

    One approxQuantile sketch pass computes each column's 2^bits equi-depth
    boundaries; rows get a z-value; a second sketch pass cuts the z range
    into ``n_files`` equi-depth slices, and each slice goes to its own
    output task (sorted on z), so every output file is a contiguous z-range
    and parquet footer min/max stats on EACH of ``cols`` stay tight per
    file. The file boundaries are a function of the data alone: no
    sampled range partitioner, whose sample seed follows the RDD id.
    """
    probs = [i / (1 << bits) for i in range(1, 1 << bits)]
    # one sketch job for ALL columns (the list overload) — not one full
    # scan per column
    all_bounds = df.approxQuantile(cols, probs, quantile_error)
    with_bounds = [(F.col(c), b) for c, b in zip(cols, all_bounds)]
    zdf = df.withColumn("__z", zorder_value(with_bounds, bits))
    cuts = zdf.approxQuantile(
        "__z", [i / n_files for i in range(1, n_files)], quantile_error)
    file_idx = _bucket_index(F.col("__z"), cuts, n_files.bit_length())
    keys = F.array(*[F.lit(k).cast("long")
                     for k in _hash_partition_keys(n_files)])
    (
        zdf.repartition(n_files, F.element_at(keys, file_idx + 1))
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite").parquet(path)
    )


def file_stats(df_read: DataFrame, cols: list[str]) -> DataFrame:
    """Per-file min/max of ``cols`` — the information parquet footers expose
    to the scan planner; used to measure how many files a box predicate
    could skip under a given layout."""
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"min_{c}"), F.max(c).alias(f"max_{c}")]
    return df_read.groupBy(F.input_file_name().alias("file")).agg(*aggs)


def files_matching_box(stats: DataFrame, box: dict[str, tuple[float, float]]) -> int:
    """How many files' stat ranges intersect the box predicate — i.e. how
    many files a stats-pruning scan must open."""
    pred = F.lit(True)
    for c, (lo, hi) in box.items():
        pred = pred & (F.col(f"max_{c}") >= lo) & (F.col(f"min_{c}") <= hi)
    return stats.filter(pred).count()
