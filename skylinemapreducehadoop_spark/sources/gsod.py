"""Fixed-width GSOD (Global Surface Summary of Day) text reader.

The reference engine's native input path: each line is a fixed-width
ASCII record; fields are parsed by column offset and missing values are
all-9s sentinels (``/root/reference/Point.java:18-32`` for the offsets,
``/root/reference/Range.java:20`` for the sentinels,
``/root/reference/gsod_readme.txt`` for the format spec).

Spark-first: ``spark.read.text`` + per-field ``substring().cast()``
column expressions — the whole parse is one JVM-side projection with
column pruning, never a Python loop. Sentinels become real NULLs at
ingest (the reference leaked them into dominance math — SURVEY.md §1.2
documents that as a bug we fix, not semantics we keep).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# (name, start, end, sentinel, skyline direction) — offsets are the
# reference's 0-based [start, end) spans (Skyline.java:29-31); sentinel
# None means "key field, never missing".
GSOD_FIELDS: tuple[tuple[str, int, int, float | None, str | None], ...] = (
    ("stn", 0, 6, None, None),
    ("obs_date", 14, 22, None, None),
    ("temp", 24, 30, 9999.9, "max"),
    ("dewp", 35, 41, 9999.9, "max"),
    ("slp", 46, 52, 9999.9, "max"),
    ("max_temp", 102, 108, 9999.9, "max"),
    ("stp", 57, 63, 9999.9, "min"),
    ("wdsp", 78, 83, 999.9, "min"),
    ("mxspd", 88, 93, 999.9, "min"),
    ("gust", 95, 100, 999.9, "min"),
    ("min_temp", 110, 116, 9999.9, "min"),
)

#: dims spec for the reference's 9-dim skyline query
#: (value_type = {-1,-1,-1,-1,1,1,1,1,1}, /root/reference/Skyline.java:31)
GSOD_SKYLINE_DIMS: list[tuple[str, str]] = [
    (name, direction) for name, _, _, _, direction in GSOD_FIELDS if direction
]


def read_gsod(spark: SparkSession, path: str) -> DataFrame:
    """Parse GSOD fixed-width text into a typed DataFrame.

    Blank lines and the header line are dropped (P2 — the reference's
    empty-string guards, ``Point.java:19``/``LSkyMapper.java:39``);
    sentinel values become NULL (P3).
    """
    raw = spark.read.text(path)
    lines = raw.where(
        (F.trim(F.col("value")) != "") & (~F.col("value").startswith("STN---"))
    )
    # Fan out a narrow scan BEFORE the per-field substring/cast parse
    # (guide §2): a single file under maxPartitionBytes plans as ONE
    # split, serializing the whole CPU-bound parse on one core. The
    # exchange moves raw ~140-byte lines only; at cluster scale input
    # splits >> cores and the gate no-ops. Scoped here (the one
    # single-file text ingest) instead of a session-global
    # spark.sql.files.minPartitionNum floor, which taxed every parquet
    # scan with cpu-count planned splits.
    from skylinemapreducehadoop_spark.operators._cache import fan_out

    lines = fan_out(lines)
    cols = []
    for name, start, end, sentinel, _ in GSOD_FIELDS:
        # substring is 1-based; length = end - start
        c = F.trim(F.substring(F.col("value"), start + 1, end - start))
        if name in ("stn", "obs_date"):
            cols.append(c.cast("int").alias(name))
        else:
            v = c.cast("double")
            if sentinel is not None:
                v = F.when(v == F.lit(sentinel), F.lit(None)).otherwise(v)
            cols.append(v.alias(name))
    return lines.select(*cols)


def make_gsod_fixture(
    path: str, n_rows: int = 1500, seed: int = 20240813, correlated: float = 0.0
) -> str:
    """Write a deterministic fixed-width GSOD sample file.

    Layout follows the reference's column offsets exactly (header line,
    blank lines, all-9s missing-value sentinels included), so the file
    exercises the full ingest path: P2 blank/header filtering and P3
    sentinel→NULL. Content depends only on (n_rows, seed, correlated) —
    safe for a cross-engine oracle to re-parse byte-identically.

    ``correlated`` in (0, 1]: fields derive from one latent "weather
    quality" factor plus ``(1 - correlated)`` noise, like real GSOD data
    (temp/dewp/pressure co-move). Uniform 9-dim data is a skyline
    pathology — at volume nearly every row is Pareto-optimal — so
    benchmarks use a correlated fixture; 0.0 keeps the original
    independent-uniform generation byte-for-byte.
    """
    import json
    import os
    import random

    meta_path = path + ".meta"
    meta = {"n_rows": n_rows, "seed": seed, "correlated": correlated, "v": 1}
    try:
        if os.path.exists(path) and json.load(open(meta_path)) == meta:
            return path
    except Exception:
        pass

    rng = random.Random(seed)
    width = max(end for _, _, end, _, _ in GSOD_FIELDS)
    lines = [
        "STN--- WBAN   YEARMODA    TEMP       DEWP      SLP        STP       VISIB      WDSP     MXSPD   GUST    MAX     MIN   PRCP   SNDP  FRSHTT"
    ]
    ranges = {
        "temp": (-30.0, 110.0, 9999.9, 0.03),
        "dewp": (-40.0, 80.0, 9999.9, 0.03),
        "slp": (950.0, 1050.0, 9999.9, 0.05),
        "stp": (850.0, 1050.0, 9999.9, 0.05),
        "wdsp": (0.0, 40.0, 999.9, 0.03),
        "mxspd": (0.0, 60.0, 999.9, 0.03),
        "gust": (0.0, 80.0, 999.9, 0.08),
        "max_temp": (-20.0, 120.0, 9999.9, 0.03),
        "min_temp": (-40.0, 100.0, 9999.9, 0.03),
    }
    #: min-normalized direction per field: fields the 9-dim query
    #: MAXIMIZES are "good" when high, so the latent quality factor q
    #: (0 = best) pushes them toward hi; minimized fields toward lo.
    directions = {name: d for name, _, _, _, d in GSOD_FIELDS if d}
    for i in range(n_rows):
        buf = [" "] * width
        vals: dict[str, str] = {
            "stn": str(100000 + rng.randint(0, 499)),
            "obs_date": str(20240100 + rng.randint(1, 28) + 100 * rng.randint(0, 11)),
        }
        # draw the latent factor only in correlated mode so the default
        # path's rng sequence — and fixture bytes — stay identical
        q = rng.random() if correlated > 0.0 else 0.0
        for name, (lo, hi, sentinel, p_missing) in ranges.items():
            if rng.random() < p_missing:
                v = sentinel
            elif correlated > 0.0:
                base = 1.0 - q if directions[name] == "max" else q
                u = correlated * base + (1.0 - correlated) * rng.random()
                v = round(lo + u * (hi - lo), 1)
            else:
                v = round(rng.uniform(lo, hi), 1)
            vals[name] = f"{v:.1f}"
        for name, start, end, _, _ in GSOD_FIELDS:
            s = vals[name].rjust(end - start)
            buf[start:end] = list(s)
        lines.append("".join(buf))
        if i % 200 == 199:
            lines.append("")  # blank lines the parser must drop
    content = "\n".join(lines) + "\n"
    if not (os.path.exists(path) and open(path).read() == content):
        with open(path, "w") as f:
            f.write(content)
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    return path


def nullify_sentinels(df: DataFrame, sentinels: dict[str, float]) -> DataFrame:
    """Generic sentinel→NULL ingest utility (P3) for any table."""
    for col, sentinel in sentinels.items():
        df = df.withColumn(
            col,
            F.when(F.col(col) == F.lit(sentinel), F.lit(None)).otherwise(F.col(col)),
        )
    return df
