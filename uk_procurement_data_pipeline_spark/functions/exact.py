"""Order-independent ("exact") aggregates over doubles.

Why this exists (SURVEY.md §7 watchlist #1): the driver hash-compares the
engine's results against a DuckDB oracle. A plain SUM over doubles is
order-dependent — Spark sums per-partition then merges, DuckDB sums in its
own parallel order — so the last bits differ between engines and the hash
mismatches. The fix is algebraic, not tolerance-based: cast each double
term to a wide decimal (the cast of a given IEEE double is deterministic
and identical in both engines — an exact decimal tie at scale 8 would need
a factor of 5^9 in the double's denominator, impossible for base-2
floats), sum the decimals exactly (associative, order-independent), and
cast the final sum back to double (deterministic IEEE nearest).

The same pattern works at 100 TB: decimal sums use Spark's regular
partial+final hash aggregation, no extra shuffle, no precision loss at
plausible magnitudes (38-8=30 integer digits of headroom).

Scale budget rule (learned from the cross-SF sweep, round 4): the OUTPUT
rounding scale must satisfy sum x 10^scale < 2^53, or the final
decimal->double conversion double-rounds differently per engine. Sums of
SQUARED money-scale values blow this at scale 4 even at sf0.001 — size
the per-sum output scale to the sum's magnitude (see lineitem_stats_corr:
sxx at 4, sxy at 2, syy at 0), or shrink the inputs structurally (see
value_trend_per_user: day-rebased time). Do NOT shrink inputs by
dividing doubles: terms must stay exactly scale-8-representable or
Spark's shortest-repr rounding and DuckDB's binary-value rounding
disagree per term.
"""

from __future__ import annotations

from pyspark.sql import Column, WindowSpec
from pyspark.sql import functions as F

# Internal decimal scale. Two empirically-calibrated constraints:
#   * terms are cast at scale 8 — wide enough that a double holding a
#     decimal-quantized value (the fixtures use <=6 fractional digits) is
#     recovered EXACTLY in both engines, so no per-row tie can flip
#     differently (Spark rounds the shortest-repr string, DuckDB rounds the
#     binary value; at scale 4 the fixtures' .xxxx5 products flipped);
#   * the final sum is ROUNDed to scale 4 in BOTH engines before the double
#     cast — both round the SAME exact decimal with the same away-from-zero
#     tie rule, and at scale 4 the scaled integer of any realistic sum stays
#     below 2^53 so the decimal->double conversion is a single identical
#     rounding (at scale 8, a ~3e9 sum scales past 2^53 and DuckDB's
#     int128/10^s path double-rounds differently from Spark's BigDecimal).
_DEC = "decimal(38,8)"
_OUT_SCALE = 4


def dec(col: Column | str) -> Column:
    """Deterministically widen a double expression to the exact decimal."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(_DEC)


def exact_sum(col: Column | str, alias: str | None = None) -> Column:
    """Order-independent SUM over a double column, returned as double."""
    out = F.round(F.sum(dec(col)), _OUT_SCALE).cast("double")
    return out.alias(alias) if alias else out


def exact_sum_over(
    col: Column | str, window: WindowSpec, alias: str | None = None
) -> Column:
    """:func:`exact_sum` as a window aggregate: the same decimal terms and
    final rounding, evaluated over ``window`` (mirrored by :func:`oracle_sum`
    on the grouped side, since the sum of a whole partition is the group's)."""
    out = F.round(F.sum(dec(col)).over(window), _OUT_SCALE).cast("double")
    return out.alias(alias) if alias else out


def exact_avg(col: Column | str, alias: str | None = None) -> Column:
    """Order-independent AVG: exact decimal sum / count, divided as doubles."""
    c = F.col(col) if isinstance(col, str) else col
    out = F.round(F.sum(dec(c)), _OUT_SCALE).cast("double") / F.count(c).cast("double")
    return out.alias(alias) if alias else out


def oracle_sum(expr: str) -> str:
    """DuckDB SQL mirroring :func:`exact_sum` (same decimal round-trip)."""
    return f"CAST(ROUND(SUM(CAST(({expr}) AS DECIMAL(38,8))), 4) AS DOUBLE)"


def oracle_avg(expr: str) -> str:
    """DuckDB SQL mirroring :func:`exact_avg`."""
    return (
        f"CAST(ROUND(SUM(CAST(({expr}) AS DECIMAL(38,8))), 4) AS DOUBLE)"
        f" / CAST(COUNT({expr}) AS DOUBLE)"
    )
