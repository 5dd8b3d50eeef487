"""Spark-level skyline operator tests (FIXTURES.md F2/F3)."""

from __future__ import annotations

import datetime
import importlib
from decimal import Decimal

import numpy as np
import pytest
from pyspark.sql import functions as F

from skylinemapreducehadoop_spark.operators import quadtree
from skylinemapreducehadoop_spark.operators.skyline import (
    skyline,
    skyline_by,
    skyline_kband,
    skyline_layers,
)
from skylinemapreducehadoop_spark.sources.tables import load_table

# the package re-exports the skyline() function under the module's name
skyline_mod = importlib.import_module("skylinemapreducehadoop_spark.operators.skyline")


def _ids(df):
    return sorted(r["id"] for r in df.collect())


def test_hand_case_mixed_directions(spark):
    rows = [
        (1, 50.0, 8.0),
        (2, 80.0, 2.0),
        (3, 90.0, 1.0),
        (4, 60.0, 5.0),
        (5, 100.0, 10.0),
    ]
    df = spark.createDataFrame(rows, "id int, x double, y double")
    # x min, y min
    got = _ids(skyline(df, [("x", "min"), ("y", "min")]))
    assert got == [1, 2, 3, 4]
    # x min, y max: (5) has max y and is only dominated if something has
    # smaller x AND larger y — nothing does
    got2 = _ids(skyline(df, [("x", "min"), ("y", "max")]))
    assert 5 in got2 and 1 in got2


def test_null_rows_excluded(spark):
    rows = [(1, 1.0, 1.0), (2, None, 0.5), (3, 2.0, 2.0)]
    df = spark.createDataFrame(rows, "id int, x double, y double")
    got = _ids(skyline(df, [("x", "min"), ("y", "min")]))
    assert got == [1]


def test_duplicates_survive(spark):
    rows = [(1, 1.0, 1.0), (2, 1.0, 1.0), (3, 2.0, 2.0)]
    df = spark.createDataFrame(rows, "id int, x double, y double")
    got = _ids(skyline(df, [("x", "min"), ("y", "min")]))
    assert got == [1, 2]


def test_auto_tree_merge_anticorrelated(spark, monkeypatch):
    """Worst case for the merge: anti-correlated data where the skyline
    is EVERY row. The auto guard must pick a multi-partition tree merge
    (a tiny _MERGE_BATCH_ROWS forces it here) and still hash-match the
    brute-force single-partition answer."""
    n = 400
    rows = [(i, float(i), float(n - i)) for i in range(n)]  # x+y const
    df = spark.createDataFrame(rows, "id int, x double, y double").repartition(8)
    dims = [("x", "min"), ("y", "min")]

    monkeypatch.setattr(skyline_mod, "_MERGE_BATCH_ROWS", 50)
    auto = skyline(df, dims)
    plan = auto._jdf.queryExecution().executedPlan().toString()
    # local pass + >=1 intermediate tree level + final merge
    assert plan.count("MapInArrow") >= 3

    got = _ids(auto)
    want = _ids(skyline(df, dims, strategy="bruteforce"))
    assert got == want == list(range(n))


def test_kband_matches_bruteforce(spark):
    """k-skyband vs a numpy dominator-count oracle; k=1 must equal the
    skyline; duplicates of qualifying rows all survive."""
    import numpy as np

    rng = np.random.RandomState(5)
    pts = rng.rand(300, 2).round(3)
    rows = [(i, float(x), float(y)) for i, (x, y) in enumerate(pts)]
    rows.append((900, float(pts[0][0]), float(pts[0][1])))  # duplicate
    df = spark.createDataFrame(rows, "id int, x double, y double").repartition(9)
    dims = [("x", "min"), ("y", "min")]

    vals = np.array([[r[1], r[2]] for r in rows])
    le = (vals[:, None, :] <= vals[None, :, :]).all(axis=2)
    lt = (vals[:, None, :] < vals[None, :, :]).any(axis=2)
    n_dom = (le & lt).sum(axis=0)

    for k in (1, 3, 5):
        got = sorted(r["id"] for r in skyline_kband(df, dims, k).collect())
        want = sorted(rows[i][0] for i in range(len(rows)) if n_dom[i] < k)
        assert got == want, k
    assert sorted(r["id"] for r in skyline_kband(df, dims, 1).collect()) == _ids(
        skyline(df, dims)
    )


def test_kband_blocked_path_anticorrelated(spark, monkeypatch):
    """Anti-correlated data makes the candidate set ≈ the whole input;
    a tiny _BROADCAST_ROWS forces the fully distributed blocked counting
    path (no driver-side candidate materialization). Results must match
    the numpy dominator-count oracle and the broadcast path exactly."""
    import numpy as np

    n = 500
    # anti-correlated diagonal (every point is skyline) + dominated fill
    rows = [(i, float(i), float(n - i)) for i in range(n)]
    rows += [(10_000 + i, float(i + 2), float(n - i + 2)) for i in range(0, n, 5)]
    df = spark.createDataFrame(rows, "id int, x double, y double").repartition(9)
    dims = [("x", "min"), ("y", "min")]

    vals = np.array([[r[1], r[2]] for r in rows])
    le = (vals[:, None, :] <= vals[None, :, :]).all(axis=2)
    lt = (vals[:, None, :] < vals[None, :, :]).any(axis=2)
    n_dom = (le & lt).sum(axis=0)

    for k in (1, 4):
        with monkeypatch.context() as m:
            m.setattr(skyline_mod, "_BROADCAST_ROWS", 50)
            m.setattr(skyline_mod, "_CAND_BLOCK_ROWS", 64)
            m.setattr(skyline_mod, "_DATA_BLOCK_ROWS", 128)
            blocked = skyline_kband(df, dims, k)
        plan = blocked._jdf.queryExecution().executedPlan().toString()
        assert "FlatMapCoGroupsInArrow" in plan  # the blocked path ran
        got = sorted(r["id"] for r in blocked.collect())
        want = sorted(rows[i][0] for i in range(len(rows)) if n_dom[i] < k)
        assert got == want, k
        via_broadcast = sorted(r["id"] for r in skyline_kband(df, dims, k).collect())
        assert got == via_broadcast, k


def test_blocked_merge_matches_bruteforce(spark, monkeypatch):
    """The fully distributed merge (no single-partition stage) must
    agree with brute force — including on anti-correlated data where the
    skyline is everything, with duplicates, and with tiny blocks forcing
    many (i, j) pair tasks."""
    n = 300
    rows = [(i, float(i % 150), float(149 - i % 150)) for i in range(n)]  # dup pairs
    rows += [(1000 + i, float(i), float(i)) for i in range(50)]  # diagonal mix
    df = spark.createDataFrame(rows, "id int, x double, y double").repartition(7)
    dims = [("x", "min"), ("y", "min")]

    monkeypatch.setattr(skyline_mod, "_BLOCKED_ROWS", 40)
    blocked = skyline(df, dims, merge="blocked")
    plan = blocked._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan  # truly no single-partition stage

    got = _ids(blocked)
    want = _ids(skyline(df, dims, strategy="bruteforce"))
    assert got == want


def test_blocked_merge_shuffle_rooted_input_and_full_duplicates(spark, monkeypatch):
    """Regression for the row-id stability hazard: the blocked merge's
    row id is content-derived (md5 of the row), so an input whose
    lineage contains a SHUFFLE/aggregate (nondeterministic
    within-partition row order on recompute) is still merged correctly,
    and FULL duplicate rows (identical in every column) share
    dominated-fate: all copies of a non-dominated duplicate survive,
    all copies of a dominated one go."""
    from pyspark.sql import functions as F

    rows = [(i % 40, float(i % 20), float(19 - i % 20)) for i in range(400)]
    base = spark.createDataFrame(rows, "k int, x double, y double")
    # shuffle-rooted, duplicate-bearing input: the aggregate output
    # order within a partition is not a stable function of position
    agg = (
        base.groupBy("k", "x", "y")
        .agg(F.count("*").alias("copies"))
        .withColumn("copy", F.explode(F.sequence(F.lit(1), F.lit(2))))
        .drop("copy")  # 2 identical rows per (k, x, y) — full duplicates
    )
    dims = [("x", "min"), ("y", "min")]
    monkeypatch.setattr(skyline_mod, "_BLOCKED_ROWS", 30)
    got = sorted(map(tuple, skyline(agg, dims, merge="blocked").collect()))
    want = sorted(map(tuple, skyline(agg, dims, strategy="bruteforce").collect()))
    assert got == want
    # every surviving duplicate kept BOTH copies
    from collections import Counter

    assert all(c == 2 for c in Counter(got).values())


def test_strategies_agree(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    dims = [("l_extendedprice", "min"), ("l_discount", "min"), ("l_quantity", "max")]
    key = lambda df: sorted(
        (r["l_orderkey"], r["l_linenumber"], r["l_extendedprice"])
        for r in df.collect()
    )
    a = key(skyline(li, dims, strategy="twophase"))
    b = key(skyline(li, dims, strategy="bruteforce"))
    c = key(skyline(li, dims, strategy="quadtree"))
    assert a == b == c
    assert len(a) > 0


@pytest.mark.parametrize("strategy", ["twophase", "bruteforce", "quadtree"])
@pytest.mark.parametrize("dim_type", ["timestamp", "date"])
def test_timestamp_dimension(spark, dim_type, strategy):
    base = datetime.datetime(2024, 1, 1)
    later = base + datetime.timedelta(hours=1)
    if dim_type == "date":
        base, later = base.date(), (base + datetime.timedelta(days=1)).date()
    rows = [
        (1, base, 10.0),
        (2, later, 20.0),
        (3, base, 5.0),  # same ts as 1, lower value -> dominated by 1
    ]
    df = spark.createDataFrame(rows, f"id int, ts {dim_type}, value double")
    got = _ids(skyline(df, [("ts", "min"), ("value", "max")], strategy=strategy))
    assert got == [1, 2]


@pytest.mark.parametrize("strategy", ["twophase", "bruteforce", "quadtree"])
def test_timestamp_sum_ties_across_chunks(spark, strategy):
    """More than one SFS chunk of rows share one timestamp and differ in
    x by less than half a float64 step of epoch µs, so their coordinate
    sums tie; only the single row with the lowest x survives."""
    ts = datetime.datetime(2024, 1, 1)
    n = 6000
    rows = [(i, ts, 0.1) for i in range(n - 1)] + [(n - 1, ts, 0.0)]
    df = spark.createDataFrame(rows, "id int, ts timestamp, x double")
    got = _ids(skyline(df, [("ts", "min"), ("x", "min")], strategy=strategy))
    assert got == [n - 1]


def _typed_points(spark, dim_type: str, n: int = 1500):
    """n rows of (id, t, x, g): t a DATE or TIMESTAMP spanning 1969-2030
    (pre-epoch and sub-second values included), x a coarse double, g a
    3-way group key; coarse values make ties and duplicates common."""
    rng = np.random.RandomState(17)
    epoch = datetime.datetime(1970, 1, 1)
    rows = []
    for i in range(n):
        if dim_type == "date":
            t = (epoch + datetime.timedelta(days=int(rng.randint(-400, 22000)))).date()
        else:
            t = epoch + datetime.timedelta(
                days=int(rng.randint(-400, 22000)), microseconds=int(rng.randint(0, 3)) * 250_001
            )
        rows.append((i, t, float(rng.randint(0, 60)), "abc"[i % 3]))
    return spark.createDataFrame(rows, f"id int, t {dim_type}, x double, g string")


def _typed_coords(rows, dim_type: str) -> np.ndarray:
    """Oracle coordinates: epoch days for DATE, epoch µs for TIMESTAMP."""
    epoch = datetime.datetime(1970, 1, 1)
    out = []
    for r in rows:
        if dim_type == "date":
            t = float((r["t"] - epoch.date()).days)
        else:
            t = float((r["t"] - epoch) // datetime.timedelta(microseconds=1))
        out.append((t, r["x"]))
    return np.array(out)


def _n_dominators(vals: np.ndarray) -> np.ndarray:
    le = (vals[:, None, :] <= vals[None, :, :]).all(axis=2)
    lt = (vals[:, None, :] < vals[None, :, :]).any(axis=2)
    return (le & lt).sum(axis=0)


@pytest.mark.parametrize("dim_type", ["timestamp", "date"])
def test_quadtree_matches_twophase_on_temporal_dims(spark, dim_type):
    """Enough rows for a real tree (cells, pruning, replication): the
    tree's bounds are measured JVM-side and probed from Arrow, so this
    fails unless both encoders map DATE/TIMESTAMP to the same values."""
    df = _typed_points(spark, dim_type)
    dims = [("t", "max"), ("x", "min")]
    tp = _ids(skyline(df, dims))
    assert tp == _ids(skyline(df, dims, strategy="quadtree"))
    vals = _typed_coords(df.orderBy("id").collect(), dim_type) * np.array([-1.0, 1.0])
    assert tp == list(np.flatnonzero(_n_dominators(vals) == 0))


def test_date_dimension_grouped_and_kband(spark):
    df = _typed_points(spark, "date", n=600)
    rows = df.orderBy("id").collect()
    vals = _typed_coords(rows, "date")
    dims = [("t", "min"), ("x", "min")]
    for k in (1, 3):
        want = [r["id"] for r, n in zip(rows, _n_dominators(vals)) if n < k]
        assert _ids(skyline_kband(df, dims, k)) == want, k
    want = []
    for g in "abc":
        idx = [i for i, r in enumerate(rows) if r["g"] == g]
        n_dom = _n_dominators(vals[idx])
        want += [rows[i]["id"] for i, n in zip(idx, n_dom) if n == 0]
    assert _ids(skyline_by(df, "g", dims)) == sorted(want)


@pytest.mark.parametrize("tz", ["UTC", "America/New_York"])
def test_coordinate_encoders_agree_bit_exact(spark, tz):
    """The Arrow encoder (executor side) and the Column encoder (JVM
    side) must produce identical float64 bits for every dim type, under
    any session time zone (New York: a DST gap and overlap included)."""
    from skylinemapreducehadoop_spark.operators._kernel import arrow_coords, column_coords

    rng = np.random.RandomState(23)
    epoch = datetime.datetime(1970, 1, 1)
    rows = []
    for i in range(2000):
        ts = epoch + datetime.timedelta(
            days=int(rng.randint(-30000, 30000)), microseconds=int(rng.randint(0, 86_400_000_000))
        )
        if i < 2:  # 02:30 does not exist in New York that day; 01:30 occurs twice
            ts = [datetime.datetime(2024, 3, 10, 2, 30, 0, 5), datetime.datetime(2024, 11, 3, 1, 30)][i]
        rows.append((
            float(rng.standard_normal() * 10 ** rng.randint(-5, 12)) if i % 50 else 0.0,
            int(rng.randint(-(2**62), 2**62, dtype=np.int64)) + (i % 7),
            Decimal(int(rng.randint(-(10**11), 10**11))).scaleb(-2),
            Decimal(int(rng.randint(-(10**17), 10**17))).scaleb(-6),
            Decimal(str(rng.randint(-(10**9), 10**9))) * Decimal(10**18) / Decimal(10**10),
            ts,
            ts,
            ts.date(),
            int(rng.randint(-1000, 1000)),
        ))
    df = spark.createDataFrame(
        rows,
        "f double, l long, d12 decimal(12,2), d18 decimal(18,6), d38 decimal(38,10), "
        "ts timestamp, ntz timestamp_ntz, dt date, i int",
    )
    dim_signs = [(c, 1.0 if j % 2 else -1.0) for j, c in enumerate(df.columns)]
    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", tz)
    try:
        tbl = df.select("*", *column_coords(df, dim_signs)).toArrow()
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)
    want = np.column_stack([tbl.column(f"__s{j}").to_numpy() for j in range(len(dim_signs))])
    got = arrow_coords(tbl, dim_signs)
    assert got.dtype == want.dtype == np.float64
    mismatched = [c for j, (c, _) in enumerate(dim_signs)
                  if not (got[:, j].view(np.int64) == want[:, j].view(np.int64)).all()]
    assert mismatched == []


def test_grouped_skyline(spark):
    rows = [
        (1, "a", 1.0, 1.0),
        (2, "a", 2.0, 2.0),
        (3, "b", 5.0, 5.0),  # best of group b even though globally dominated
        (4, "b", 6.0, 6.0),
    ]
    df = spark.createDataFrame(rows, "id int, g string, x double, y double")
    got = _ids(skyline_by(df, "g", [("x", "min"), ("y", "min")]))
    assert got == [1, 3]


def test_layers(spark):
    rows = [(i, float(i), float(i)) for i in range(1, 7)]
    df = spark.createDataFrame(rows, "id int, x double, y double")
    out = skyline_layers(df, [("x", "min"), ("y", "min")], n_layers=3).collect()
    by_layer = {}
    for r in out:
        by_layer.setdefault(r["layer"], []).append(r["id"])
    assert by_layer == {1: [1], 2: [2], 3: [3]}


def test_empty_input(spark):
    df = spark.createDataFrame([], "id int, x double, y double")
    assert skyline(df, [("x", "min"), ("y", "min")]).count() == 0
    assert skyline(df, [("x", "min")], strategy="quadtree").count() == 0


def test_bad_args(spark):
    df = spark.createDataFrame([(1, 1.0)], "id int, x double")
    with pytest.raises(ValueError):
        skyline(df, [])
    with pytest.raises(ValueError):
        skyline(df, [("x", "up")])
    with pytest.raises(ValueError):
        skyline(df, [("nope", "min")])
    with pytest.raises(ValueError):
        skyline(df, [("x", "min")], strategy="wat")


def test_bigint_passthrough_bit_exact(spark):
    """Pass-through int64 columns above 2^53 must survive the kernel
    round-trip bit-exact (Arrow path; pandas would go through float64)."""
    big = (1 << 60) + 1
    rows = [(big, "a", 1.0, 1.0), (None, "a", 2.0, 2.0), (big + 3, "b", 0.5, 3.0)]
    df = spark.createDataFrame(rows, "payload long, g string, x double, y double")
    dims = [("x", "min"), ("y", "min")]
    for strat in ("twophase", "bruteforce", "quadtree"):
        got = sorted(
            (r["payload"] for r in skyline(df, dims, strategy=strat).collect()), key=str
        )
        assert got == [big, big + 3], strat
    grouped = sorted(
        (r["payload"] for r in skyline_by(df, "g", dims).collect()), key=str
    )
    assert grouped == [big, big + 3]


def test_quadtree_matches_on_skewed_groups(spark, monkeypatch):
    # clustered data exercises non-trivial tree + replication paths
    import numpy as np

    rng = np.random.RandomState(0)
    a = rng.normal(0.2, 0.05, size=(500, 2))
    b = rng.normal(0.8, 0.05, size=(500, 2))
    pts = np.vstack([a, b]).clip(0, 1)
    rows = [(i, float(x), float(y)) for i, (x, y) in enumerate(pts)]
    df = spark.createDataFrame(rows, "id int, x double, y double")
    dims = [("x", "min"), ("y", "min")]
    tp = _ids(skyline(df, dims))
    monkeypatch.setattr(quadtree, "_MAXP", 32)
    qt = _ids(skyline(df, dims, strategy="quadtree"))
    assert tp == qt
