"""The three workloads: seeded inputs, the ops they issue through the
engine's public API, and the check for every op's result.

A workload object is built by ``run.py`` with the run's seed and work
directory.  ``generate`` (benchmark-side, untimed) writes the inputs,
``load`` opens the tables in a session, ``warm`` is the untimed op of
set-up, ``next_op``/``run_op`` form the timed loop and ``check``
verifies one op's result afterwards.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
from check import Checker
from tracing import NO_TRACE, Tracer

from skylinemapreducehadoop_spark.functions.profile import profile
from skylinemapreducehadoop_spark.operators.reverse import reverse_skyline
from skylinemapreducehadoop_spark.operators.skyline import skyline, skyline_by, skyline_kband
from skylinemapreducehadoop_spark.sources.gsod import read_gsod
from skylinemapreducehadoop_spark.sources.sinks import write_parquet
from skylinemapreducehadoop_spark.sources.tables import load_table
from skylinemapreducehadoop_spark.sql import skyline_sql

KBAND_K = 3


def signed_matrix(tbl: pa.Table, dims) -> np.ndarray:
    """(n, d) min-normalized float matrix of the non-null rows of ``tbl``."""
    cols = []
    for c, d in dims:
        col = tbl.column(c)
        if pa.types.is_timestamp(col.type):
            col = col.cast(pa.int64())
        v = col.to_numpy(zero_copy_only=False).astype(np.float64)
        cols.append(-v if d == "max" else v)
    m = np.column_stack(cols)
    return m[~np.isnan(m).any(axis=1)]


class Workload:
    name = ""
    clients = 1
    #: consecutive stream ops a client claims and runs as one unit
    group = 1

    def __init__(self, seed: int, work: str, tiny: bool) -> None:
        self.seed = seed

    def generate(self) -> None:
        """Write every input that exists before set-up."""

    def load(self, spark) -> None:
        """Open the workload's tables (part of set-up)."""

    def warm(self, spark) -> None:
        """The untimed op of set-up."""

    def next_op(self, i: int):
        """Op ``i`` of the stream, with any per-op input written (untimed)."""
        raise NotImplementedError

    def run_op(self, spark, op, tr: Tracer):
        """Issue ``op``; return (result tables, input rows consumed)."""
        raise NotImplementedError

    def check(self, ck: Checker, op, result) -> list[str]:
        raise NotImplementedError

    def dim_matrix(self) -> np.ndarray:
        """The workload's own dim matrix, for direct kernel/quadtree calls."""
        raise NotImplementedError

    def gsod_probe(self):
        """(GSOD file, its ground truth) for the direct parse call, or None."""
        return None

    def info(self) -> dict:
        """Input sizes, for the info line."""
        return {}


# --------------------------------------------------------------------------
class GsodBatch(Workload):
    """Cold pipeline over a fresh GSOD text file per op: profile, quadtree
    skyline, default skyline.  No input repeats, so no cache can help."""

    name = "gsod_batch"
    clients = 1

    def __init__(self, seed, work, tiny):
        super().__init__(seed, work, tiny)
        self.rows = 1_000 if tiny else 20_000
        self.dir = os.path.join(work, "gsod")
        os.makedirs(self.dir, exist_ok=True)
        self.truth: dict[int, pa.Table] = {}
        self.names = [c for c, _ in gen.GSOD_DIMS]

    def _file(self, i: int, rows: int) -> str:
        path = os.path.join(self.dir, f"op{i}.txt")
        self.truth[i] = pa.Table.from_pandas(
            gen.write_gsod(path, rows, [self.seed, 6, i + 1]),
            preserve_index=False,
        )
        return path

    def warm(self, spark):
        self.run_op(spark, (-1, self._file(-1, 1_000)), NO_TRACE)

    def next_op(self, i):
        return (i, self._file(i, self.rows))

    def run_op(self, spark, op, tr):
        i, path = op
        with tr.span("sources.gsod.read", i):
            df = read_gsod(spark, path)
        with tr.span("functions.profile", i):
            prof = profile(df, self.names).toArrow()
        with tr.span("operators.quadtree.eager", i):
            q = skyline(df, gen.GSOD_DIMS, strategy="quadtree")
        with tr.span("operators.quadtree.exec", i):
            qt = q.toArrow()
        with tr.span("operators.skyline.build", i):
            s = skyline(df, gen.GSOD_DIMS)
        with tr.span("operators.skyline.exec", i):
            st = s.toArrow()
        return (prof, qt, st), self.truth[i].num_rows

    def check(self, ck, op, result):
        i, _ = op
        truth = self.truth[i]
        prof, qt, st = result
        keys = ["stn", "obs_date"]
        return (
            ck.profile(truth, prof, self.names)
            + [f"quadtree: {e}" for e in ck.skyline(truth, qt, gen.GSOD_DIMS, keys)]
            + [f"twophase: {e}" for e in ck.skyline(truth, st, gen.GSOD_DIMS, keys)]
        )

    def dim_matrix(self):
        last = max(self.truth) if self.truth else -1
        return signed_matrix(self.truth[last], gen.GSOD_DIMS)

    def gsod_probe(self):
        path = self._file(10**6, self.rows)
        return path, self.truth[10**6]

    def info(self) -> dict:
        return {"rows_per_op": self.rows}


# --------------------------------------------------------------------------
class ServingMix(Workload):
    """Interactive mix over sf0.01-sized tables loaded once; every other op
    repeats one hot query."""

    name = "serving_mix"
    clients = 2
    #: a fresh op and the hot repeat after it, so every client's ops are
    #: exactly half hot whatever number of units the clock allows
    group = 2

    def __init__(self, seed, work, tiny):
        super().__init__(seed, work, tiny)
        self.dir = os.path.join(work, "tables")
        os.makedirs(self.dir, exist_ok=True)
        scale = 10 if tiny else 1
        self.li = gen.lineitem(seed, gen.LINEITEM_ROWS // scale)
        self.part = gen.part(seed, gen.PART_ROWS // scale)
        self.ev = gen.events(seed, gen.EVENTS_ROWS // scale)
        self.ops, self.warm_op = gen.op_stream(seed, 4_000)
        if tiny:
            # the known defect: a quadtree skyline with a timestamp dim raises
            defect = gen.Op(10**6, "quadtree", (("l_shipdate", "min"), ("l_quantity", "max")))
            self.ops.insert(0, defect)
        self.tables: dict = {}

    def generate(self):
        for name, tbl in (("lineitem", self.li), ("part", self.part), ("events", self.ev)):
            pq.write_table(tbl, os.path.join(self.dir, f"{name}.parquet"))

    def load(self, spark):
        for name in ("lineitem", "part", "events"):
            self.tables[name] = load_table(spark, self.dir, name)
        self.tables["lineitem"].createOrReplaceTempView("lineitem")

    def warm(self, spark):
        self.run_op(spark, self.warm_op, NO_TRACE)

    def next_op(self, i):
        return self.ops[i]

    @staticmethod
    def _quarter(q: int) -> tuple[str, str]:
        y, m = gen.SHIP_START.astype(object).year + q // 4, 3 * (q % 4) + 1
        start = dt.date(y, m, 1)
        end = dt.date(y + (m + 3 > 12), (m + 2) % 12 + 1, 1)
        return start.isoformat(), end.isoformat()

    def run_op(self, spark, op, tr):
        li = self.tables["lineitem"]
        dims = list(op.dims)
        k = op.kind
        if k == "twophase":
            with tr.span("operators.skyline.build", op.op_id):
                df = skyline(li, dims)
            rows = self.li.num_rows
        elif k == "quadtree":
            with tr.span("operators.quadtree.eager", op.op_id):
                df = skyline(li, dims, strategy="quadtree")
            rows = self.li.num_rows
        elif k == "by":
            with tr.span("operators.skyline.build", op.op_id):
                df = skyline_by(li, "l_returnflag", dims)
            rows = self.li.num_rows
        elif k == "by_events":
            with tr.span("operators.skyline.build", op.op_id):
                df = skyline_by(self.tables["events"], "event_type", dims)
            rows = self.ev.num_rows
        elif k == "sql":
            clause = ", ".join(f"{c} {d.upper()}" for c, d in dims)
            with tr.span("sql.build", op.op_id):
                df = skyline_sql(
                    spark, f"SELECT * FROM lineitem WHERE l_quantity >= 5 SKYLINE OF {clause}"
                )
            rows = self.li.num_rows
        elif k == "reverse":
            with tr.span("operators.reverse.build", op.op_id):
                df = reverse_skyline(self.tables["part"], [c for c, _ in dims], op.point)
            rows = self.part.num_rows
        elif k == "kband":
            lo, hi = self._quarter(op.quarter)
            ts = F.col("l_shipdate")
            sl = li.where((ts >= F.lit(lo).cast("timestamp")) & (ts < F.lit(hi).cast("timestamp")))
            with tr.span("operators.skyline.build", op.op_id):
                df = skyline_kband(sl, dims, KBAND_K)
            rows = self.li.num_rows
        else:
            raise ValueError(f"unknown op kind {k!r}")
        with tr.span(f"{_EXEC_LAYER.get(k, 'operators.skyline')}.exec", op.op_id):
            out = df.toArrow()
        return (out,), rows

    def check(self, ck, op, result):
        (out,) = result
        dims = list(op.dims)
        li_keys = ["l_orderkey", "l_linenumber"]
        if op.kind in ("twophase", "quadtree"):
            return ck.skyline(self.li, out, dims, li_keys)
        if op.kind == "by":
            return ck.skyline(self.li, out, dims, li_keys, group=["l_returnflag"])
        if op.kind == "by_events":
            return ck.skyline(self.ev, out, dims, ["event_id"], group=["event_type"])
        if op.kind == "sql":
            return ck.skyline(self.li, out, dims, li_keys, where="l_quantity >= 5")
        if op.kind == "reverse":
            return ck.reverse(self.part, out, [c for c, _ in dims], op.point, "p_partkey")
        lo, hi = self._quarter(op.quarter)
        where = f"l_shipdate >= TIMESTAMP '{lo}' AND l_shipdate < TIMESTAMP '{hi}'"
        return ck.kband(self.li, out, dims, li_keys, KBAND_K, where)

    def dim_matrix(self):
        hot = next(o for o in self.ops if o.hot and o.kind == "twophase")
        return signed_matrix(self.li, hot.dims)

    def info(self) -> dict:
        return {"lineitem_rows": self.li.num_rows, "part_rows": self.part.num_rows,
                "events_rows": self.ev.num_rows}


_EXEC_LAYER = {"quadtree": "operators.quadtree", "sql": "sql", "reverse": "operators.reverse"}


# --------------------------------------------------------------------------
class AppendRefresh(Workload):
    """Writes beside reads: each op ingests a GSOD text batch of
    independent-uniform readings, appends it to a parquet table and
    refreshes the whole table's profile and skyline."""

    name = "append_refresh"
    clients = 1

    def __init__(self, seed, work, tiny):
        super().__init__(seed, work, tiny)
        self.initial = 300 if tiny else 4_000
        self.batch = 50 if tiny else 100
        self.stage = os.path.join(work, "batches")
        os.makedirs(self.stage, exist_ok=True)
        self.table_root = os.path.join(work, "append")
        self.names = [c for c, _ in gen.GSOD_DIMS]
        self.truth: list[pa.Table] = []
        self.snapshots: dict[int, pa.Table] = {}

    def _stage(self, step: int) -> str:
        """Batch ``step`` as GSOD text; batches are staged in order."""
        path = os.path.join(self.stage, f"batch{step}.txt")
        if step == len(self.truth):
            rows = self.initial if step == 0 else self.batch
            truth = gen.write_gsod(path, rows, [self.seed, 8, step], correlated=0.0)
            self.truth.append(pa.Table.from_pandas(truth, preserve_index=False))
        return path

    def _table_dir(self) -> str:
        return os.path.join(self.table_root, "readings.parquet")

    def _table(self, spark):
        return load_table(spark, self.table_root, "readings")

    def generate(self):
        """Reset the table to its initial batch, so every run starts equal."""
        self._stage(0)
        shutil.rmtree(self.table_root, ignore_errors=True)
        os.makedirs(self._table_dir())
        pq.write_table(self.truth[0], os.path.join(self._table_dir(), "part-initial.parquet"))

    def load(self, spark):
        self._table(spark)

    def warm(self, spark):
        self.run_op(spark, self.next_op(-1), NO_TRACE)

    def next_op(self, i):
        # batch 0 is the initial table and the untimed op (i = -1) appends
        # batch 1, so timed op i appends batch i + 2
        path = self._stage(i + 2)
        self.snapshots[i] = pa.concat_tables(self.truth[: i + 3])
        return (i, path)

    def run_op(self, spark, op, tr):
        i, path = op
        with tr.span("sources.gsod.read", i):
            batch = read_gsod(spark, path)
        with tr.span("sources.sinks.append", i):
            write_parquet(batch, self._table_dir(), mode="append")
        with tr.span("sources.tables.scan", i):
            table = self._table(spark)
        with tr.span("functions.profile", i):
            prof = profile(table, self.names).toArrow()
        with tr.span("operators.skyline.build", i):
            df = skyline(table, gen.GSOD_DIMS)
        with tr.span("operators.skyline.exec", i):
            out = df.toArrow()
        return (prof, out), self.snapshots[i].num_rows

    def check(self, ck, op, result):
        i, _ = op
        prof, out = result
        truth = self.snapshots.pop(i)
        return ck.profile(truth, prof, self.names) + ck.skyline(
            truth, out, gen.GSOD_DIMS, ["stn", "obs_date"]
        )

    def dim_matrix(self):
        return signed_matrix(pa.concat_tables(self.truth), gen.GSOD_DIMS)

    def gsod_probe(self):
        return self._stage(len(self.truth)), self.truth[-1]

    def table_files(self) -> int:
        return sum(f.endswith(".parquet") for f in os.listdir(self._table_dir()))

    def info(self) -> dict:
        return {"initial_rows": self.initial, "batch_rows": self.batch}


WORKLOADS = {w.name: w for w in (GsodBatch, ServingMix, AppendRefresh)}
