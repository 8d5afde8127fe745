"""Spatial scalar kernels.

Reference parity (all citations into /root/reference):

- haversine: ``utils/common_functions_curated.py:113-138`` — great-circle km,
  R=6371, computed with Spark column trig. Same formula here.
- spatial grid: ``utils/common_functions_curated.py:62-88`` — floor-quantize
  lat/lon to bucket ids.
- geohash: ``utils/common_functions_curated.py:164-185`` wraps a pure-Python
  base-32 encoder (``:283-317``) in a row-at-a-time ``F.udf`` — the single
  biggest physical-execution defect of the reference (SURVEY §4). Here the
  encoder is a **native column expression**: quantize lat/lon to 15-bit grid
  ordinates, interleave the bits, print the interleave in base 32.
  Stays inside whole-stage codegen; no Python worker hop.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

EARTH_RADIUS_KM = 6371.0

_GEOHASH_B32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def haversine_km(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Great-circle distance in km between two points (R=6371).

    Pure column expression — codegen'd, no UDF. Matches the reference
    formula at ``utils/common_functions_curated.py:113-138``.
    """
    dlat = F.radians(lat2 - lat1)
    dlon = F.radians(lon2 - lon1)
    a = (
        F.pow(F.sin(dlat / 2), 2)
        + F.cos(F.radians(lat1)) * F.cos(F.radians(lat2)) * F.pow(F.sin(dlon / 2), 2)
    )
    # Clamp the asin argument against FP drift just past 1.0 with
    # when/otherwise, NOT least(): least ignores NULLs, so a NULL input
    # (e.g. lag() on the first point of an entity) would silently become
    # asin(1.0) = a half-circumference 20015 km "jump" instead of NULL.
    root = F.sqrt(a)
    return 2 * EARTH_RADIUS_KM * F.asin(
        F.when(root > 1.0, F.lit(1.0)).otherwise(root)
    )


def grid_cell(coord: Column, precision_deg: float) -> Column:
    """Floor-quantize a coordinate into a grid bucket id (long).

    Reference: ``utils/common_functions_curated.py:62-88``.
    """
    return F.floor(coord / F.lit(precision_deg)).cast("long")


#: (shift, mask) steps that move bit i of a 32-bit value to bit 2i
_SPREAD_STEPS = (
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
)


def _spread_bits(x: Column, bits: int) -> Column:
    """Move bit i of the low ``bits`` bits of long ``x`` to bit 2i, zeros
    between — the half of a Morton/geohash interleave. log2(bits)
    shift-or-mask steps (only those whose shift is below ``bits``) instead
    of one term per bit, so the expression tree stays small."""
    out = x.bitwiseAND(F.lit((1 << bits) - 1))
    for shift, mask in _SPREAD_STEPS:
        if shift < bits:
            out = out.bitwiseOR(F.shiftleft(out, shift)).bitwiseAND(F.lit(mask))
    return out


def geohash_expr(lat: Column, lon: Column, precision: int = 6) -> Column:
    """Base-32 geohash of (lat, lon) as a native column expression.

    Equivalent to the standard bisection encoder the reference wraps in a
    Python UDF (``utils/common_functions_curated.py:283-317``): the lon
    axis gets ceil(precision*5/2) bits (the extra bit on odd lengths, per
    the public spec), lat gets the rest, and quantization
    ``floor((x-min)/range * 2^bits)`` reproduces the bisection bit
    pattern exactly. The two ordinates are bit-interleaved, lon bit first,
    and the interleave is printed in base 32 (``conv``), its digits
    translated to the geohash alphabet and left-padded with the zero
    digit. Precisions 1–12 (total bits ≤ 60 stay inside long).
    """
    if not 1 <= precision <= 12:
        raise ValueError("geohash precision must be in 1..12")
    total = precision * 5
    lon_bits = (total + 1) // 2
    lat_bits = total // 2

    lon_q = _clamped_floor((lon + F.lit(180.0)) / F.lit(360.0), lon_bits)
    lat_q = _clamped_floor((lat + F.lit(90.0)) / F.lit(180.0), lat_bits)
    # the most significant output bit is lon's: on even totals lon takes
    # the odd positions, on odd totals (one extra lon bit) the even ones
    inter = F.shiftleft(_spread_bits(lon_q, lon_bits), total - 2 * lon_bits + 1).bitwiseOR(
        F.shiftleft(_spread_bits(lat_q, lat_bits), total - 2 * lat_bits)
    )
    digits = F.translate(
        F.conv(inter.cast("string"), 10, 32), "0123456789ABCDEFGHIJKLMNOPQRSTUV", _GEOHASH_B32
    )
    return F.lpad(digits, precision, _GEOHASH_B32[0])


def _clamped_floor(unit: Column, bits: int) -> Column:
    """``floor(unit * 2^bits)`` as a long, the top edge (unit == 1) folded
    into the last cell. when/otherwise, not least(): least skips NULLs and
    would encode a NULL coordinate as the axis maximum."""
    q = F.floor(unit * F.lit(float(1 << bits))).cast("long")
    top = (1 << bits) - 1
    return F.when(q > top, F.lit(top).cast("long")).otherwise(q)


def morton_key(x: Column, y: Column, bits: int = 16) -> Column:
    """Z-order (Morton) key of two non-negative integer columns — bit
    interleaving x and y into one long, x taking the even output bits
    (bit 0, 2, …) and y the odd. Writing a table sorted by this key
    clusters rows that are close in BOTH dimensions into the same
    parquet row groups, so min/max column statistics prune scans for 2-D
    predicates (id-range × time-range, lat × lon cells) — the layout
    trick table formats call Z-ORDER, as a plain column expression any
    writer can `sortWithinPartitions` by. ``bits`` per dimension, ≤ 31
    so the interleave stays inside a long. Inputs are masked to
    ``bits`` (callers quantize first, e.g. grid_cell).
    """
    if not 1 <= bits <= 31:
        raise ValueError("morton bits must be in 1..31")
    return _spread_bits(x.cast("long"), bits).bitwiseOR(
        F.shiftleft(_spread_bits(y.cast("long"), bits), 1)
    )


# ---------------------------------------------------------------------------
# Hilbert curve via 2-bit block LUT (see q422)
# ---------------------------------------------------------------------------

#: 2-bit-block Hilbert automaton: (state, x_bits, y_bits) -> (d_digit,
#: next_state). Exactly the 4 orientations of the 2-D Hilbert curve;
#: derived offline from the standard xy2d recurrence (Wikipedia
#: "Hilbert curve", convert (x,y) to d) and pinned by
#: tests/test_hilbert_lut.py, which re-derives it from the recurrence
#: and checks the composed 10-bit index exhaustively.
HILBERT_LUT_2BIT: tuple[tuple[int, int, int, int, int], ...] = (
    (0,0,0,0,0), (0,0,1,3,1), (0,0,2,4,2), (0,0,3,5,0), (0,1,0,1,2), (0,1,1,2,2), (0,1,2,7,3), (0,1,3,6,0),
    (0,2,0,14,3), (0,2,1,13,3), (0,2,2,8,2), (0,2,3,9,0), (0,3,0,15,0), (0,3,1,12,1), (0,3,2,11,3), (0,3,3,10,0),
    (1,0,0,10,1), (1,0,1,11,2), (1,0,2,12,0), (1,0,3,15,1), (1,1,0,9,1), (1,1,1,8,3), (1,1,2,13,2), (1,1,3,14,2),
    (1,2,0,6,1), (1,2,1,7,2), (1,2,2,2,3), (1,2,3,1,3), (1,3,0,5,1), (1,3,1,4,3), (1,3,2,3,0), (1,3,3,0,1),
    (2,0,0,0,2), (2,0,1,1,0), (2,0,2,14,1), (2,0,3,15,2), (2,1,0,3,3), (2,1,1,2,0), (2,1,2,13,1), (2,1,3,12,3),
    (2,2,0,4,0), (2,2,1,7,1), (2,2,2,8,0), (2,2,3,11,1), (2,3,0,5,2), (2,3,1,6,2), (2,3,2,9,2), (2,3,3,10,2),
    (3,0,0,10,3), (3,0,1,9,3), (3,0,2,6,3), (3,0,3,5,3), (3,1,0,11,0), (3,1,1,8,1), (3,1,2,7,0), (3,1,3,4,1),
    (3,2,0,12,2), (3,2,1,13,0), (3,2,2,2,1), (3,2,3,3,2), (3,3,0,15,3), (3,3,1,14,0), (3,3,2,1,1), (3,3,3,0,3),
)


def hilbert_xy2d_py(n: int, x: int, y: int) -> int:
    """Reference Python xy2d recurrence (driver-side; tests + LUT
    derivation only — the engine path is the LUT join in q422)."""
    d = 0
    s = n // 2
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x = s - 1 - x
                y = s - 1 - y
            x, y = y, x
        s //= 2
    return d
