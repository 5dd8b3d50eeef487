"""Reverse skyline vs a numpy brute-force oracle."""

from __future__ import annotations

import importlib

import numpy as np
import pytest

from skylinemapreducehadoop_spark.operators.reverse import reverse_skyline

# the package re-exports the skyline() function under the module's name
skyline_mod = importlib.import_module("skylinemapreducehadoop_spark.operators.skyline")


def _oracle_ids(rows, q):
    """Value-level reverse skyline: keep row i iff no other VALUE t with
    |t-p| <= |q-p| componentwise, strict somewhere."""
    vals = np.array([[r[1], r[2]] for r in rows], dtype=float)
    qv = np.asarray(q, dtype=float)
    keep = []
    for i, p in enumerate(vals):
        r = np.abs(qv - p)
        diff = np.abs(vals - p[None, :])
        le = (diff <= r[None, :]).all(axis=1)
        lt = (diff < r[None, :]).any(axis=1)
        neq = (vals != p[None, :]).any(axis=1)
        if not (le & lt & neq).any():
            keep.append(rows[i][0])
    return sorted(keep)


@pytest.fixture(scope="module")
def points(spark):
    rng = np.random.RandomState(11)
    pts = rng.rand(250, 2).round(2) * 10
    rows = [(i, float(x), float(y)) for i, (x, y) in enumerate(pts)]
    rows.append((900, float(pts[3][0]), float(pts[3][1])))  # duplicate value
    df = spark.createDataFrame(rows, "id int, x double, y double").repartition(7)
    return rows, df


def test_reverse_skyline_matches_oracle(spark, points):
    rows, df = points
    q = (5.0, 5.0)
    got = sorted(r["id"] for r in reverse_skyline(df, ["x", "y"], q).collect())
    assert got == _oracle_ids(rows, q)
    assert got  # non-vacuous


def test_reverse_skyline_query_on_a_point(spark, points):
    rows, df = points
    # q exactly on a data point: that value has zero radius, so nothing
    # can strictly dominate q w.r.t. it -> it must survive
    q = (rows[3][1], rows[3][2])
    got = sorted(r["id"] for r in reverse_skyline(df, ["x", "y"], q).collect())
    assert got == _oracle_ids(rows, q)
    assert rows[3][0] in got and 900 in got  # both duplicates survive


def test_reverse_skyline_blocked_path(spark, points, monkeypatch):
    rows, df = points
    q = (5.0, 5.0)
    monkeypatch.setattr(skyline_mod, "_BROADCAST_ROWS", 2)
    monkeypatch.setattr(skyline_mod, "_CAND_BLOCK_ROWS", 16)
    monkeypatch.setattr(skyline_mod, "_DATA_BLOCK_ROWS", 64)
    blocked = reverse_skyline(df, ["x", "y"], q)
    plan = blocked._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInArrow" in plan  # the blocked path ran
    got = sorted(r["id"] for r in blocked.collect())
    assert got == _oracle_ids(rows, q)


def test_reverse_skyline_date_dimension(spark):
    """A DATE dim is compared in epoch days; the query point is given
    in that space."""
    import datetime

    epoch = datetime.date(1970, 1, 1)
    rng = np.random.RandomState(4)
    days = rng.randint(19000, 19060, size=200)
    ys = rng.randint(0, 30, size=200).astype(float)
    rows = [(i, float(dd), float(y)) for i, (dd, y) in enumerate(zip(days, ys))]
    df = spark.createDataFrame(
        [(i, epoch + datetime.timedelta(days=int(dd)), float(y)) for i, dd, y in rows],
        "id int, d date, y double",
    ).repartition(5)
    q = (19030.0, 15.0)
    got = sorted(r["id"] for r in reverse_skyline(df, ["d", "y"], q).collect())
    assert got == _oracle_ids(rows, q)
    assert got


def test_dynamic_skyline_matches_bruteforce_reference(spark):
    import itertools

    import numpy as np

    from skylinemapreducehadoop_spark.operators.reverse import dynamic_skyline

    rng = np.random.default_rng(11)
    pts = rng.integers(0, 20, size=(120, 2)).astype(float)
    q = (7.0, 11.0)
    df = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(pts)],
        "id long, x double, y double",
    )
    got = sorted(
        (r["x"], r["y"]) for r in dynamic_skyline(df, ["x", "y"], q).collect()
    )
    # reference: strict Pareto dominance in |p - q| space
    d = np.abs(pts - np.asarray(q))
    keep = []
    for i in range(len(pts)):
        dominated = any(
            (d[j] <= d[i]).all() and (d[j] < d[i]).any() for j in range(len(pts))
        )
        if not dominated:
            keep.append(tuple(pts[i]))
    assert got == sorted(keep)
    # strategies agree
    got_qt = sorted(
        (r["x"], r["y"])
        for r in dynamic_skyline(df, ["x", "y"], q, strategy="bruteforce").collect()
    )
    assert got_qt == got
