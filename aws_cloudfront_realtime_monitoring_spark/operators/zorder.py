"""Z-order (Morton-curve) data layout for multi-dimensional scan pruning.

At 100 TB the cheapest query is the one that never reads the file: parquet
row-group min/max statistics prune scans, but they only help along the
physical sort order. Sorting by a Z-ORDER KEY -- the bit-interleave of two
(or more) quantized dimensions -- clusters rows so that BOTH dimensions'
min/max ranges stay tight in every file, the same layout technique
Delta/Iceberg expose as ``OPTIMIZE ... ZORDER BY``. The key itself is pure
integer arithmetic (shifts, masks, adds), engine-portable and therefore
DuckDB-oracle-checkable like every other operator here.

Scale posture: computing the key is a zero-shuffle narrow map; laying out
by it is one range-partitioned sort (``repartitionByRange(zkey) +
sortWithinPartitions``) -- the exact shuffle a time-partition layout
already pays, just on a better key. Nothing here is driver-side.

Like production ``ZORDER BY``, the interleave only clusters well when the
quantized dimensions have comparable bit-widths -- rank-quantize (or
scale) a narrow-domain column into the ZBITS space before interleaving,
or its bits contribute nothing and the layout degenerates to a sort on
the wider dimension alone (pytest pins this property on uniform dims).

The interleave loop unrolls to a fixed expression tree (``ZBITS`` pairs of
shift/mask/or), so Catalyst sees plain bit ops inside whole-stage codegen
-- no UDF.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: bits kept per dimension; 2*ZBITS must fit a signed BIGINT (63)
ZBITS = 16
_MASK = (1 << ZBITS) - 1


def zorder_key_sql(a: str, b: str) -> str:
    """Morton interleave of two non-negative ints quantized to ZBITS bits,
    as portable SQL (Spark and DuckDB both parse this spelling: &, >>,
    <<, + over BIGINTs): bit i of ``a`` lands at position 2i, bit i of
    ``b`` at 2i+1.

    PRECONDITION: inputs must already fit ZBITS bits — values beyond
    2^16-1 ALIAS modulo 2^16 (v and v+65536 interleave identically),
    which silently destroys the min/max pruning the layout exists for
    (r12 review: hours-since-epoch is ~490k and ids outgrow 65535 at
    scale). Quantize wide domains first with
    :func:`zorder_quantize_sql` — ``zorder_layout`` and the registry row
    do it for you."""
    terms = []
    # each term FULLY parenthesized: in Postgres-style grammars (DuckDB),
    # `+` binds tighter than `<<`, so `x << 0 + y << 1` would parse as
    # `x << (0 + y) << 1` -- an overflow, not an interleave
    for i in range(ZBITS):
        # CAST ... AS BIGINT first: a shift keeps its input's type, so an
        # INT ``b`` would overflow at bit 15 (1 << 31 = INT_MIN, a
        # negative Morton key that breaks the layout sort -- r7 review,
        # pinned by the int-column round-trip test)
        terms.append(
            f"((((CAST(({a}) AS BIGINT) & {_MASK}) >> {i}) & 1) << {2 * i})"
        )
        terms.append(
            f"((((CAST(({b}) AS BIGINT) & {_MASK}) >> {i}) & 1) << {2 * i + 1})"
        )
    return "(" + " + ".join(terms) + ")"


def zorder_quantize_sql(v: str, vmin: str, vmax: str, dialect: str) -> str:
    """Monotone range quantization of ``v`` onto [0, 2^ZBITS) as SQL:
    ``q = (v - vmin) * (2^ZBITS - 1) div span`` — order-preserving, so
    per-file min/max tightness survives, and NO aliasing however wide
    the domain (the raw interleave's low-bit mask made v and v+65536
    identical, r12 review). The bounds are SQL expressions: literals,
    or columns of a one-row stats relation. Spark spells integer
    division ``div``, DuckDB ``//`` — both floor, and (v - vmin) is
    nonnegative by construction so they agree."""
    intdiv = "//" if dialect == "duck" else "div"
    span = f"greatest(CAST(({vmax}) AS BIGINT) - CAST(({vmin}) AS BIGINT), 1)"
    return (f"(((CAST(({v}) AS BIGINT) - CAST(({vmin}) AS BIGINT)) "
            f"* {_MASK}) {intdiv} {span})")


def zorder_decode(z: int) -> tuple[int, int]:
    """Python-side inverse (tests): recover (a, b) from the Morton key."""
    a = b = 0
    for i in range(ZBITS):
        a |= ((z >> (2 * i)) & 1) << i
        b |= ((z >> (2 * i + 1)) & 1) << i
    return a, b


def zorder_layout(df: DataFrame, a: Column, b: Column,
                  partitions: int | None = None) -> DataFrame:
    """Cluster ``df`` along the Morton curve of (a, b): one range shuffle
    + in-partition sort, after which BOTH dimensions' per-file min/max
    ranges are tight (write the result with any parquet writer).

    Runs ONE stats job up front (min/max of both dimensions) to
    range-quantize them into the ZBITS space — the same pre-pass Delta's
    OPTIMIZE ZORDER BY performs, and acceptable here because this is a
    write-side maintenance operator, not a lazy plan builder; without it
    a dimension wider than 2^16 would alias and every file's min/max
    would span the whole domain (r12 review)."""
    if partitions is not None and partitions < 1:
        # a computed count that underflowed to 0 used to fall through
        # the falsy check and silently take the default partitioning
        # (r11 review): surface the sizing bug instead
        raise ValueError("zorder_layout: partitions must be >= 1 or None")
    for hidden in ("__z", "__za", "__zb"):
        if hidden in df.columns:
            # withColumns would silently replace the caller's column and
            # the final drop would erase it from the output (r12 review)
            raise ValueError(
                f"zorder_layout: input already has a {hidden} column")
    lo_a, hi_a, lo_b, hi_b = df.select(
        F.min(a), F.max(a), F.min(b), F.max(b)
    ).first()
    # PER-DIMENSION defaulting (r13 review): the old joint branch zeroed
    # BOTH dimensions' bounds when only ONE was all-NULL, so the live
    # dimension quantized with vmin=vmax=0 -> q = v*65535 past the
    # 16-bit interleave space -- the exact aliasing the r12 quantization
    # exists to prevent. An all-NULL (or empty) dimension contributes a
    # constant 0, degrading to a clean sort on the other one.
    if lo_a is None:
        lo_a = hi_a = 0
    if lo_b is None:
        lo_b = hi_b = 0
    quantized = []
    for name, col, lo, hi in (("a", "__za", lo_a, hi_a),
                              ("b", "__zb", lo_b, hi_b)):
        if not isinstance(lo, int):
            # surface the contract up front: dimensions are integers
            # (cast timestamps to epoch units first, as every in-repo
            # caller does)
            raise TypeError(
                f"zorder_layout: dimension {name} must be integer-typed "
                f"(got {type(lo).__name__}); cast timestamps/dates to "
                "epoch hours/days first"
            )
        if hi - lo >= 1 << 37:
            # keeps (v - vmin) * (2^ZBITS - 1) far inside a BIGINT
            raise ValueError("zorder_layout: dimension span too wide")
        # coalesce AFTER quantizing (r14 advice): a NULL dimension VALUE
        # -- every row of an all-NULL column, or stray NULLs in a live
        # one -- quantizes to NULL, NULL propagates through the
        # interleave's +, and every affected row's __z goes NULL: the
        # r13 per-dimension bounds defaulting then delivered ONE range
        # partition (all-NULL sort key), not the promised clean sort on
        # the live dimension. NULLs contribute a constant 0 to the key
        # instead, exactly like an all-NULL dimension's bounds do.
        quantized.append("coalesce(" + zorder_quantize_sql(
            col, str(lo), str(hi), "spark") + ", 0)")
    keyed = (
        df.withColumns({"__za": a, "__zb": b})
        .withColumn("__z", F.expr(zorder_key_sql(*quantized)))
        .drop("__za", "__zb")
    )
    ranged = (
        keyed.repartitionByRange(partitions, "__z")
        if partitions is not None
        else keyed.repartitionByRange("__z")
    )
    return ranged.sortWithinPartitions("__z").drop("__z")
