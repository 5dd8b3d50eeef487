"""Seeded input generators.

Every input the benchmark hands the engine is a pure function of the
``--seed`` argument: the same seed writes byte-identical files and
yields the identical op stream.  Each generator also returns its
ground truth (the values it wrote) so the checks never trust the
engine's own parse.
"""

from __future__ import annotations

from dataclasses import dataclass, replace

import numpy as np
import pandas as pd
import pyarrow as pa

# --- GSOD fixed-width text -------------------------------------------------
# NOAA GSOD record layout (0-based [start, end) byte spans), the format the
# reference engine parses.  Kept here rather than imported from the engine so
# the benchmark's files and ground truth do not depend on the code under test.
#   (name, start, end, sentinel, lo, hi, p_missing, skyline direction)
GSOD_LAYOUT = (
    ("temp", 24, 30, 9999.9, -30.0, 110.0, 0.03, "max"),
    ("dewp", 35, 41, 9999.9, -40.0, 80.0, 0.03, "max"),
    ("slp", 46, 52, 9999.9, 950.0, 1050.0, 0.05, "max"),
    ("stp", 57, 63, 9999.9, 850.0, 1050.0, 0.05, "min"),
    ("wdsp", 78, 83, 999.9, 0.0, 40.0, 0.03, "min"),
    ("mxspd", 88, 93, 999.9, 0.0, 60.0, 0.03, "min"),
    ("gust", 95, 100, 999.9, 0.0, 80.0, 0.08, "min"),
    ("max_temp", 102, 108, 9999.9, -20.0, 120.0, 0.03, "max"),
    ("min_temp", 110, 116, 9999.9, -40.0, 100.0, 0.03, "min"),
)
GSOD_DIMS = [(name, d) for name, *_, d in GSOD_LAYOUT]
GSOD_HEADER = (
    "STN--- WBAN   YEARMODA    TEMP       DEWP      SLP        STP       VISIB"
    "      WDSP     MXSPD   GUST    MAX     MIN   PRCP   SNDP  FRSHTT"
)
_GSOD_WIDTH = 116
_GSOD_BLANK_EVERY = 200


def write_gsod(path: str, n_rows: int, seed, correlated: float = 0.9) -> pd.DataFrame:
    """Write ``n_rows`` GSOD records (header, a blank line every 200 rows,
    all-9s sentinels for missing values) and return the ground truth:
    one row per record, missing values as NaN.

    ``seed`` is anything ``numpy.random.default_rng`` takes.  Fields
    derive from one latent quality factor plus ``1 - correlated`` noise:
    at 0.9 the 9-dim skyline stays small, as on real weather data; at 0.0
    every field is independent uniform.
    """
    rng = np.random.default_rng(seed)
    buf = np.full((n_rows, _GSOD_WIDTH), ord(" "), dtype=np.uint8)

    def put(start: int, end: int, text: np.ndarray) -> None:
        buf[:, start:end] = (
            text.astype(f"S{end - start}").view(np.uint8).reshape(n_rows, end - start)
        )

    stn = 100000 + rng.integers(0, 500, n_rows)
    date = 20240100 + rng.integers(1, 29, n_rows) + 100 * rng.integers(0, 12, n_rows)
    put(0, 6, np.char.mod("%6d", stn))
    put(14, 22, np.char.mod("%8d", date))
    truth = {"stn": stn.astype(np.int32), "obs_date": date.astype(np.int32)}
    q = rng.random(n_rows)
    for name, start, end, sentinel, lo, hi, p_missing, direction in GSOD_LAYOUT:
        base = 1.0 - q if direction == "max" else q
        u = correlated * base + (1.0 - correlated) * rng.random(n_rows)
        missing = rng.random(n_rows) < p_missing
        vals = np.where(missing, sentinel, lo + u * (hi - lo))
        text = np.char.mod(f"%{end - start}.1f", vals)
        put(start, end, text)
        parsed = text.astype(np.float64)
        truth[name] = np.where(missing, np.nan, parsed)

    lines = buf.view(f"S{_GSOD_WIDTH}").ravel()
    with open(path, "wb") as f:
        f.write(GSOD_HEADER.encode() + b"\n")
        for s0 in range(0, n_rows, _GSOD_BLANK_EVERY):
            f.write(b"\n".join(lines[s0 : s0 + _GSOD_BLANK_EVERY]) + b"\n\n")
    return pd.DataFrame(truth)


# --- star-schema tables (TPC-H-shaped, sf0.01 sizes) ----------------------
LINEITEM_ROWS = 60_000
PART_ROWS = 2_000
EVENTS_ROWS = 10_000
SHIP_START = np.datetime64("1995-01-02")
SHIP_DAYS = 2498  # through 2001-11-04


def lineitem(seed: int, n_rows: int = LINEITEM_ROWS) -> pa.Table:
    rng = np.random.default_rng([seed, 1])
    qty = rng.integers(1, 51, n_rows).astype(np.float64)
    price = np.round(qty * rng.uniform(900.0, 2100.0, n_rows), 2)
    ship = SHIP_START + rng.integers(0, SHIP_DAYS, n_rows).astype("timedelta64[D]")
    return pa.table(
        {
            "l_orderkey": np.arange(n_rows, dtype=np.int64) // 4,
            "l_partkey": rng.integers(0, PART_ROWS, n_rows),
            "l_linenumber": (np.arange(n_rows) % 4 + 1).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": price,
            "l_discount": rng.integers(0, 11, n_rows) / 100.0,
            "l_tax": rng.integers(0, 9, n_rows) / 100.0,
            "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n_rows),
            "l_shipdate": pa.array(ship.astype("datetime64[us]")),
        }
    )


def part(seed: int, n_rows: int = PART_ROWS) -> pa.Table:
    rng = np.random.default_rng([seed, 2])
    return pa.table(
        {
            "p_partkey": np.arange(n_rows, dtype=np.int64),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_rows).astype(str)),
            "p_size": rng.integers(1, 51, n_rows).astype(np.int32),
            "p_retailprice": np.round(rng.uniform(900.0, 1000.0, n_rows), 1),
        }
    )


def events(seed: int, n_rows: int = EVENTS_ROWS) -> pa.Table:
    rng = np.random.default_rng([seed, 3])
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86_400 * 1_000_000
    ts = start + np.sort(rng.integers(0, span_us, n_rows)).astype("timedelta64[us]")
    return pa.table(
        {
            "event_id": np.arange(n_rows, dtype=np.int64),
            "ts": pa.array(ts),
            "user_id": rng.integers(0, 150, n_rows),
            "event_type": rng.choice(np.array(["click", "view", "buy", "error", "share"]), n_rows),
            "value": np.round(rng.exponential(40.0, n_rows), 2),
        }
    )


# --- serving_mix op stream -------------------------------------------------
LINEITEM_DIMS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_shipdate")
NUMERIC_LINEITEM_DIMS = LINEITEM_DIMS[:-1]
#: fresh (never seen) ops cycle through these kinds in this order, so every
#: seed runs the same mix and only the dims, directions and points vary
FRESH_CYCLE = ("twophase", "quadtree", "by", "reverse", "kband", "sql", "by_events")
#: the hot op repeated at every odd stream position: one query, far below
#: the engine's 8-frame persist cap, so its cache can stay warm
HOT_KIND = "twophase"


@dataclass(frozen=True)
class Op:
    op_id: int
    kind: str
    dims: tuple[tuple[str, str], ...] = ()
    point: tuple[float, ...] = ()
    quarter: int = 0
    hot: bool = False


def _draw(rng: np.random.Generator, kind: str, op_id: int, hot: bool) -> Op:
    if kind == "reverse":
        point = (round(float(rng.uniform(905.0, 995.0)), 1), float(rng.integers(5, 46)))
        return Op(op_id, kind, (("p_retailprice", "min"), ("p_size", "min")), point, hot=hot)
    if kind == "by_events":
        dirs = rng.choice(["min", "max"], 2)
        return Op(op_id, kind, (("value", dirs[0]), ("ts", dirs[1])), hot=hot)
    # quadtree draws numeric dims only: a timestamp dim makes it raise
    # (see README.md, "Known defects"), and a benchmark op must not fail
    pool = NUMERIC_LINEITEM_DIMS if kind == "quadtree" else LINEITEM_DIMS
    k = int(rng.integers(2, 5)) if kind != "kband" else 2
    cols = [str(c) for c in rng.choice(pool, min(k, len(pool)), replace=False)]
    dims = tuple((c, str(rng.choice(["min", "max"]))) for c in cols)
    quarter = int(rng.integers(0, 27)) if kind == "kband" else 0
    return Op(op_id, kind, dims, quarter=quarter, hot=hot)


def op_stream(seed: int, n_ops: int) -> tuple[list[Op], Op]:
    """The serving_mix op stream and the set-up's untimed op.

    Even positions are fresh ops cycling through FRESH_CYCLE; odd
    positions repeat the hot op, so half the stream re-issues a query
    the engine has seen before.  The untimed op is the hot op itself, so
    its first timed repeat can already find its cache.
    """
    rng = np.random.default_rng([seed, 5])
    hot = _draw(rng, HOT_KIND, -1, True)
    ops = [
        _draw(rng, FRESH_CYCLE[(i // 2) % len(FRESH_CYCLE)], i, False)
        if i % 2 == 0
        else replace(hot, op_id=i)
        for i in range(n_ops)
    ]
    return ops, hot
