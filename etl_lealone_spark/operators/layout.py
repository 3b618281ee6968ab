"""Data-layout clustering: Z-order (Morton) multi-column co-sort.

Parquet data skipping is 1-dimensional: files/row-groups sorted on one
column give tight min/max bounds on that column and useless bounds on
every other. At 100 TB that decides whether a 2-predicate query reads
0.1% or 100% of the table. Z-ordering interleaves the bits of several
columns into one sort key so a range on ANY clustered column maps to a
bounded set of key ranges — every file then covers a small hyper-box,
and footer min/max stats prune on all clustered dimensions at once.

Mechanics (all JVM-side, codegen-friendly — no UDFs):

1. **Grid coordinate**: each column is affinely mapped onto a
   ``2^bits``-cell integer grid between its min and max (one tiny agg
   computes the bounds; they become plan literals).
2. **Bit interleave**: coordinate bits are woven
   ``x0 y0 x1 y1 …`` (low bit first) into a single long — a fixed
   expression tree of shifts/masks/ORs that whole-stage codegen fuses.
3. **Layout**: ``repartitionByRange`` on the key (contiguous key ranges
   per file = disjoint hyper-boxes) + ``sortWithinPartitions`` (tight
   row-group stats inside each file).

The key arithmetic is a deterministic function of the data, so the
DuckDB oracle recomputes keys bit-for-bit (``*_sql`` twins below).

Reference parity: the reference's layout controls are single-node BTree
clustered indexes (MainIndexColumn / CreateIndex — one sort order per
table); Z-order is the distributed columnar analogue and an extension
(BASELINE.json). The SQL shell exposes it as
``OPTIMIZE <table> ZORDER BY (c1, c2, …)`` (catalog router).
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def grid_coord(col: Column, mn: float, mx: float, bits: int) -> Column:
    """Map ``col`` onto the integer grid [0, 2^bits) between mn and mx.

    Pure double arithmetic (sub, mul, div, floor) — IEEE-identical in
    any engine evaluating the same expression on the same literals.
    """
    cells = float((1 << bits) - 1)
    if mx <= mn:
        return F.lit(0).cast("long")
    scaled = F.floor((col.cast("double") - mn) * cells / (mx - mn)).cast("long")
    return F.greatest(F.lit(0).cast("long"), F.least(F.lit((1 << bits) - 1).cast("long"), scaled))


def interleave_bits(coords: Sequence[Column], bits: int) -> Column:
    """Morton-interleave ``coords`` (each already in [0, 2^bits)) into one
    long: output bit ``b*n + i`` is bit ``b`` of coordinate ``i``."""
    n = len(coords)
    if n * bits > 62:
        raise ValueError(f"{n} cols × {bits} bits exceeds a signed long")
    z = F.lit(0).cast("long")
    for b in range(bits):
        for i, c in enumerate(coords):
            bit = F.shiftrightunsigned(c, b).bitwiseAND(F.lit(1).cast("long"))
            z = z.bitwiseOR(F.shiftleft(bit, b * n + i))
    return z


def interleave_bits_sql(exprs: Sequence[str], bits: int) -> str:
    n = len(exprs)
    terms = [
        f"((({e} >> {b}) & 1) << {b * n + i})"
        for b in range(bits)
        for i, e in enumerate(exprs)
    ]
    return "(" + " | ".join(terms) + ")"


def zorder_key(
    df: DataFrame,
    cols: Sequence[str],
    bits: int = 16,
    bounds: Optional[dict[str, tuple[float, float]]] = None,
) -> Column:
    """The Z-order key expression for ``df[cols]``.

    ``bounds`` (min, max per column) are plan-time literals; when omitted
    they are computed with one min/max aggregate — a driver-side scalar
    fetch of 2×len(cols) numbers, not a data collect.
    """
    if bounds is None:
        aggs = []
        for c in cols:
            aggs += [F.min(F.col(c).cast("double")).alias(f"mn_{c}"),
                     F.max(F.col(c).cast("double")).alias(f"mx_{c}")]
        row = df.agg(*aggs).collect()[0]
        bounds = {c: (row[f"mn_{c}"], row[f"mx_{c}"]) for c in cols}
    coords = [grid_coord(F.col(c), bounds[c][0], bounds[c][1], bits) for c in cols]
    return interleave_bits(coords, bits)


def cluster_by_zorder(
    df: DataFrame,
    cols: Sequence[str],
    num_partitions: int,
    bits: int = 16,
    bounds: Optional[dict[str, tuple[float, float]]] = None,
) -> DataFrame:
    """Rewrite ``df`` into ``num_partitions`` Z-clustered partitions.

    Range partitioning on the key gives each output file a contiguous
    key interval (a disjoint hyper-box in the clustered columns);
    in-partition sort tightens per-row-group stats. One shuffle —
    the same cost as any repartition, paid once at write time, saved on
    every subsequent multi-column-filtered read.
    """
    z = zorder_key(df, cols, bits=bits, bounds=bounds)
    return (
        df.withColumn("__zkey", z)
        .repartitionByRange(num_partitions, "__zkey")
        .sortWithinPartitions("__zkey")
        .drop("__zkey")
    )


# ---------------------------------------------------------------------------
# Skipping effectiveness: parquet footer min/max pruning, measured
# ---------------------------------------------------------------------------
def file_prune_fraction(path: str, col: str, lo, hi) -> float:
    """Fraction of parquet row-groups under ``path`` whose footer
    [min, max] for ``col`` does NOT intersect [lo, hi] — i.e. what a
    stats-pruning reader skips without touching data pages."""
    import pyarrow.dataset as ds

    total = 0
    skipped = 0
    for frag in ds.dataset(path, format="parquet").get_fragments():
        for rg in frag.row_groups:
            stats = rg.statistics.get(col) if rg.statistics else None
            total += 1
            if stats and (stats["min"] > hi or stats["max"] < lo):
                skipped += 1
    if total == 0:
        return 0.0
    return skipped / total
