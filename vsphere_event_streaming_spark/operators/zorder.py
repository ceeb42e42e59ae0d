"""Z-order (Morton-curve) clustering for multi-dimensional pruning.

Partition/bucket layouts prune on ONE leading dimension; a filter on
the second column of a sort key reads everything. Interleaving the
bits of two normalized keys into one Morton value and range-writing by
it gives every parquet file a tight min/max envelope in BOTH
dimensions, so scan-time row-group/file skipping works for either
predicate — the standard lakehouse technique for two-column point/range
workloads at 100 TB.

All plain column expressions: normalization is ``width_bucket`` over
the observed min/max (two scalars from one tiny aggregate), the
interleave is a shift/or chain over ``bits`` levels (codegen), and the
layout write is ``repartitionByRange(z)`` + ``sortWithinPartitions(z)``
— one shuffle, paid once at write time like bucketing.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def z_value(
    df: DataFrame, col_a: str, col_b: str, bits: int = 12
) -> DataFrame:
    """Attach ``__z``: the Morton value of the two columns, each
    min/max-normalized into 2^bits equal-width cells. Thin wrapper
    over :func:`z_value_n` (n=2 bit placement is identical: a at
    2j+1, b at 2j — asserted by the legacy parquet-footer test)."""
    return z_value_n(df, [col_a, col_b], bits)


def write_zordered(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    num_files: int = 16,
    bits: int = 12,
) -> None:
    """Write ``df`` as parquet clustered on the Morton curve of
    (col_a, col_b): range-partition by ``__z`` into ``num_files``
    output tasks and sort within each, so every file's min/max
    envelope is tight in both dimensions and either predicate skips
    most files at scan time."""
    write_zordered_n(df, path, [col_a, col_b], num_files, bits)


def interleave_bits_n(cols: list[Column], bits: int) -> Column:
    """Morton value of N non-negative ints already in [0, 2^bits):
    bit j of column i lands at position j*N + (N-1-i), so the curve
    cycles through every dimension once per bit level. N*bits must
    stay under 63 (signed int64)."""
    n = len(cols)
    if n * bits > 63:
        raise ValueError(
            f"{n} columns x {bits} bits = {n * bits} Morton bits > 63"
        )
    z = F.lit(0).cast("long")
    for j in range(bits):
        for i, c in enumerate(cols):
            z = z.bitwiseOR(
                F.shiftleft(
                    F.shiftright(c, j).bitwiseAND(F.lit(1)),
                    j * n + (n - 1 - i),
                )
            )
    return z


def z_value_n(df: DataFrame, cols: list[str], bits: int = 8) -> DataFrame:
    """N-column generalization of :func:`z_value`: attach ``__z``, the
    Morton value over every listed column min/max-normalized into
    2^bits cells. One tiny aggregate produces all 2N scalars. The
    2-column form keeps 12 bits/dim; more dimensions trade per-dim
    resolution for dimensions (N*bits <= 63)."""
    # argument-only check FIRST — before the min/max aggregate scans
    # the data, so a misconfigured call fails for free
    if len(cols) * bits > 63:
        raise ValueError(
            f"{len(cols)} columns x {bits} bits = {len(cols) * bits} "
            "Morton bits > 63"
        )
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"{c}__min"), F.max(c).alias(f"{c}__max")]
    stats = df.agg(*aggs).first()
    if stats is None or any(v is None for v in stats):
        raise ValueError(
            f"z_value_n({cols!r}): cannot normalize an empty DataFrame "
            "or an all-NULL cluster column (min/max undefined)"
        )
    cells = float(1 << bits)

    def bucket(c: str) -> Column:
        lo, hi = stats[f"{c}__min"], stats[f"{c}__max"]
        span = float(hi - lo) or 1.0
        raw = F.floor(
            (F.col(c).cast("double") - F.lit(float(lo))) / F.lit(span)
            * F.lit(cells)
        ).cast("long")
        return F.least(F.greatest(raw, F.lit(0)), F.lit((1 << bits) - 1))

    return df.withColumn(
        "__z", interleave_bits_n([bucket(c) for c in cols], bits)
    )


def write_zordered_n(
    df: DataFrame,
    path: str,
    cols: list[str],
    num_files: int = 16,
    bits: int = 8,
) -> None:
    """N-column :func:`write_zordered`: range-partition + sort on the
    N-dim Morton value so every file's min/max envelope is tight in
    ALL listed dimensions."""
    (
        z_value_n(df, cols, bits)
        .repartitionByRange(num_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )
