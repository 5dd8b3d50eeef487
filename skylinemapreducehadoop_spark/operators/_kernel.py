"""Coordinate encoding and strict dominance for the skyline family.

This module is the only place that knows how a dimension value becomes
a min-normalized coordinate and what strict dominance is; every skyline
operator goes through it.

Encoding (the reference applies the min/max sign once, at parse time —
``value_type``, reference ``Skyline.java:31``): TIMESTAMP becomes epoch
microseconds, TIMESTAMP_NTZ the microseconds of its wall-clock value
since 1970-01-01 00:00 (read with no time zone), DATE becomes epoch
days, every other type is cast to ``double``; the result is multiplied
by the dimension's sign (+1 min, -1 max). The Arrow encoder
(:func:`arrow_coords`, executor side) and the Column encoder
(:func:`column_coords`, JVM side) agree bit for bit under any session
time zone, so a tree, VPn map or bound computed by Spark can be probed
from Python.

Dominance (``Point.dominates``, reference ``Point.java:62-70``):
p dominates q iff p <= q on every dimension and p < q on at least one.
Strict dominance means exact duplicates never dominate each other, so
every copy of a non-dominated duplicate survives.

The reference uses an O(n² · d) scalar nested loop. Here: sort-filter-
skyline (SFS) with chunked numpy broadcasting. Sorting ascending by the
dimension sum (a monotone score), ties broken by the coordinates in
order, guarantees a dominator sorts strictly before anything it
dominates — even where float64 sums of large coordinates (epoch µs)
round equal — so by transitivity a point is dominated
iff it is dominated by an *already-found skyline point*. Each chunk is
therefore (a) filtered against the accumulated skyline window, then
(b) resolved intra-chunk — no per-row Python loop anywhere. Every
pairwise comparison runs in blocks of at most ``_BLOCK_CELLS`` cells.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# SFS chunk: rows resolved together against the window and each other
_CHUNK = 2048
# opponents compared per block (bounds the block's second axis)
_OPP_CHUNK = 4096
# cells (rows × opponents × d) in one broadcast temporary: 16 MB of bool
_BLOCK_CELLS = 1 << 24


# --- coordinate encoding ------------------------------------------------------


def _arrow_values(c: pa.ChunkedArray) -> np.ndarray:
    if pa.types.is_timestamp(c.type):
        # Spark timestamps are already microseconds; a finer unit (a
        # pandas frame) truncates to the microsecond Spark would keep
        c = c.cast(pa.timestamp("us", c.type.tz), safe=False).cast(pa.int64())
    elif pa.types.is_date(c.type):
        c = c.cast(pa.date32()).cast(pa.int32())
    # decimals convert through Python Decimal objects, which round
    # correctly like Spark's cast; Arrow's own decimal cast does not
    return c.to_numpy(zero_copy_only=False).astype(np.float64)


def arrow_coords(tbl: pa.Table, dim_signs: Sequence[tuple[str, float]]) -> np.ndarray:
    """(n, d) float64 min-normalized coordinates of ``tbl``'s dim columns.

    Straight from Arrow: pass-through columns are never converted, and
    int64 values are cast once (pandas would round-trip nullable ints
    through float64 first)."""
    arr = np.empty((tbl.num_rows, len(dim_signs)), dtype=np.float64)
    for j, (col, sign) in enumerate(dim_signs):
        arr[:, j] = sign * _arrow_values(tbl.column(col))
    return arr


def _ntz_micros(c: Column) -> Column:
    """Wall-clock µs since 1970-01-01 00:00 of a TIMESTAMP_NTZ column.

    Built from fields that ignore the session time zone; a cast to
    TIMESTAMP would read the value in that zone (shifting it, and by a
    different amount across a DST change), while Arrow carries the bare
    wall-clock µs."""
    return (
        F.unix_date(c.cast("date")).cast("long") * 86_400_000_000
        + F.hour(c).cast("long") * 3_600_000_000
        + F.minute(c).cast("long") * 60_000_000
        + (F.date_part(F.lit("SECOND"), c) * 1_000_000).cast("long")
    )


def column_coords(df: DataFrame, dim_signs: Sequence[tuple[str, float]]) -> list[Column]:
    """JVM twin of :func:`arrow_coords`: one double Column per dimension,
    named ``__s0 .. __s{d-1}``, bit-equal to the Arrow encoder."""
    out = []
    for j, (col, sign) in enumerate(dim_signs):
        dt = df.schema[col].dataType
        c = F.col(col)
        if isinstance(dt, T.TimestampType):
            c = F.unix_micros(c)
        elif isinstance(dt, T.TimestampNTZType):
            c = _ntz_micros(c)
        elif isinstance(dt, T.DateType):
            c = F.unix_date(c)
        out.append((c.cast("double") * F.lit(float(sign))).alias(f"__s{j}"))
    return out


# --- dominance ----------------------------------------------------------------


def dominates(p: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Strict Pareto dominance of ``p`` over ``q`` on min-normalized
    vectors (Point.java:62-70), broadcast over all but the last axis."""
    return (p <= q).all(axis=-1) & (p < q).any(axis=-1)


def block_rows(cells_per_row: int) -> int:
    """Rows per block when each row's comparison costs ``cells_per_row``
    cells, so one temporary stays within ``_BLOCK_CELLS``."""
    return max(1, _BLOCK_CELLS // max(cells_per_row, 1))


def _opp_step(d: int) -> int:
    return max(1, min(_OPP_CHUNK, _BLOCK_CELLS // max(d, 1)))


def _blocks(n_rows: int, n_opp: int, d: int):
    """(row slice, opponent slice) pairs covering an n_rows × n_opp
    comparison in blocks of at most ``_BLOCK_CELLS`` cells."""
    o_step = _opp_step(d)
    for o0 in range(0, n_opp, o_step):
        r_step = block_rows(min(o_step, n_opp - o0) * d)
        for r0 in range(0, n_rows, r_step):
            yield slice(r0, r0 + r_step), slice(o0, o0 + o_step)


def dominated_mask(rows: np.ndarray, opponents: np.ndarray) -> np.ndarray:
    """Which ``rows`` are strictly dominated by at least one opponent.

    Rows found dominated drop out before the next opponent block."""
    out = np.zeros(len(rows), dtype=bool)
    if len(rows) == 0 or len(opponents) == 0:
        return out
    o_step = _opp_step(rows.shape[1])
    for o0 in range(0, len(opponents), o_step):
        opp = opponents[o0 : o0 + o_step]
        live = np.flatnonzero(~out)
        for r, _ in _blocks(len(live), len(opp), rows.shape[1]):
            idx = live[r]
            out[idx] = dominates(opp[None, :, :], rows[idx][:, None, :]).any(axis=1)
    return out


def dominator_counts(rows: np.ndarray, opponents: np.ndarray) -> np.ndarray:
    """For each row, how many opponents strictly dominate it
    (duplicates count, ties don't dominate)."""
    counts = np.zeros(len(rows), dtype=np.int64)
    if len(rows) == 0 or len(opponents) == 0:
        return counts
    for r, o in _blocks(len(rows), len(opponents), rows.shape[1]):
        counts[r] += dominates(opponents[None, o, :], rows[r, None, :]).sum(axis=1)
    return counts


def dominance_matrix(rows: np.ndarray, opponents: np.ndarray) -> np.ndarray:
    """(n, m) bool: ``rows[i]`` strictly dominates ``opponents[j]``."""
    out = np.zeros((len(rows), len(opponents)), dtype=bool)
    if len(rows) == 0 or len(opponents) == 0:
        return out
    for r, o in _blocks(len(rows), len(opponents), rows.shape[1]):
        out[r, o] = dominates(rows[r, None, :], opponents[None, o, :])
    return out


def skyline_mask(values: np.ndarray, chunk: int = _CHUNK) -> np.ndarray:
    """Boolean mask of Pareto-optimal rows of a (n, d) min-normalized array.

    ``values`` must be float with no NaNs — callers drop null rows first
    (engine semantics: skyline is defined over non-null dimension values;
    the reference corrupts on its missing-value sentinels — SURVEY.md
    §1.2 — we filter instead).
    """
    values = np.asarray(values, dtype=np.float64)
    if values.ndim != 2:
        raise ValueError(f"expected (n, d) array, got shape {values.shape}")
    n = values.shape[0]
    if n == 0:
        return np.zeros(0, dtype=bool)

    # primary key the sum, then each coordinate: when sums round equal,
    # a dominator is still lexicographically smaller than what it dominates
    order = np.lexsort((*values.T[::-1], values.sum(axis=1)))
    sv = values[order]

    keep_sorted = np.zeros(n, dtype=bool)
    window = np.empty_like(sv)  # accumulated skyline points, sum-ordered
    w = 0

    for start in range(0, n, chunk):
        c = sv[start : start + chunk]
        # (a) filter against the accumulated skyline window
        alive = ~dominated_mask(c, window[:w])
        # (b) intra-chunk pairwise dominance among survivors
        idx = np.flatnonzero(alive)
        a = c[idx]
        alive[idx[dominated_mask(a, a)]] = False

        survivors = c[alive]
        keep_sorted[start : start + len(c)] = alive
        window[w : w + len(survivors)] = survivors
        w += len(survivors)

    mask = np.zeros(n, dtype=bool)
    mask[order] = keep_sorted
    return mask
