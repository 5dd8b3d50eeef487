"""Independent result checks in DuckDB.

Every check runs against the generator's ground truth, never against a
frame the engine produced, and returns a list of problems (empty when
the result is right).
"""

from __future__ import annotations

import os
from collections.abc import Sequence

import duckdb
import pyarrow as pa

Dims = Sequence[tuple[str, str]]


class Checker:
    def __init__(self, threads: int) -> None:
        self.con = duckdb.connect()
        self.con.execute(f"SET threads TO {threads}")
        self.con.execute(f"SET temp_directory = '{os.environ.get('TMPDIR', '.')}'")

    def close(self) -> None:
        self.con.close()

    # -- helpers ------------------------------------------------------------
    def _stage(
        self, name: str, tbl: pa.Table, keys: Sequence[str], dims: Dims, where: str,
        drop_nulls: bool = True,
    ) -> None:
        """Materialize ``name`` as (keys..., s0..sk): dims min-normalized to
        doubles, timestamps as epoch microseconds, NULL-dim rows dropped
        unless ``drop_nulls`` is false."""
        self.con.register(f"{name}_src", tbl)
        signed = []
        for j, (c, d) in enumerate(dims):
            v = f'"{c}"'
            if pa.types.is_timestamp(tbl.schema.field(c).type):
                v = f"epoch_us({v})"
            signed.append(f"{'-' if d == 'max' else ''}CAST({v} AS DOUBLE) AS s{j}")
        conds = [f'"{c}" IS NOT NULL' for c, _ in dims] if drop_nulls else []
        conds += [f"({where})"] if where else []
        cond = " AND ".join(conds) or "TRUE"
        key_sql = "".join(f'"{k}", ' for k in keys)
        self.con.execute(
            f"CREATE OR REPLACE TEMP TABLE {name} AS "
            f"SELECT {key_sql}{', '.join(signed)} FROM {name}_src WHERE {cond}"
        )
        self.con.unregister(f"{name}_src")

    @staticmethod
    def _dominates(t: str, p: str, k: int) -> str:
        le = " AND ".join(f"{t}.s{j} <= {p}.s{j}" for j in range(k))
        lt = " OR ".join(f"{t}.s{j} < {p}.s{j}" for j in range(k))
        return f"({le} AND ({lt}))"

    def _scalar(self, sql: str) -> int:
        return int(self.con.execute(sql).fetchone()[0])

    def _stage_output(self, out: pa.Table, keys: Sequence[str], dims: Dims) -> list[str]:
        """Stage the engine's output as ``o`` with every row kept, and
        report output rows that have a NULL dim (the input never keeps
        them, so they are also counted as not input rows)."""
        self._stage("o", out, keys, dims, "", drop_nulls=False)
        any_null = " OR ".join(f"s{j} IS NULL" for j in range(len(dims)))
        n = self._scalar(f"SELECT count(*) FROM o WHERE {any_null}")
        return [f"{n} output rows have a NULL dim"] if n else []

    def _subset_errors(self) -> list[str]:
        extra = self._scalar("SELECT count(*) FROM (SELECT * FROM o EXCEPT ALL SELECT * FROM i)")
        return [f"{extra} output rows are not input rows"] if extra else []

    # -- checks -------------------------------------------------------------
    def skyline(
        self,
        inp: pa.Table,
        out: pa.Table,
        dims: Dims,
        keys: Sequence[str],
        *,
        group: Sequence[str] = (),
        where: str = "",
    ) -> list[str]:
        """No output row is dominated by an input row, and every input row
        left out is dominated by an output row (within its group)."""
        keys = list(keys) + [g for g in group if g not in keys]
        self._stage("i", inp, keys, dims, where)
        errs = self._stage_output(out, keys, dims) + self._subset_errors()
        k = len(dims)
        same = "".join(f' AND t."{g}" IS NOT DISTINCT FROM p."{g}"' for g in group)
        bad = self._scalar(
            f"SELECT count(*) FROM o p WHERE EXISTS "
            f"(SELECT 1 FROM i t WHERE {self._dominates('t', 'p', k)}{same})"
        )
        if bad:
            errs.append(f"{bad} output rows are dominated")
        missed = self._scalar(
            f"SELECT count(*) FROM (SELECT * FROM i EXCEPT ALL SELECT * FROM o) p "
            f"WHERE NOT EXISTS (SELECT 1 FROM o t WHERE {self._dominates('t', 'p', k)}{same})"
        )
        if missed:
            errs.append(f"{missed} skyline rows are missing")
        return errs

    def kband(
        self, inp: pa.Table, out: pa.Table, dims: Dims, keys: Sequence[str], k: int, where: str
    ) -> list[str]:
        """Output rows have fewer than ``k`` dominators; rows left out have
        at least ``k``."""
        self._stage("i", inp, keys, dims, where)
        errs = self._stage_output(out, keys, dims) + self._subset_errors()
        d = len(dims)
        dom = self._dominates("t", "p", d)
        over = self._scalar(
            f"SELECT count(*) FROM o p WHERE (SELECT count(*) FROM i t WHERE {dom}) >= {k}"
        )
        if over:
            errs.append(f"{over} output rows have >= {k} dominators")
        under = self._scalar(
            f"SELECT count(*) FROM (SELECT * FROM i EXCEPT ALL SELECT * FROM o) p "
            f"WHERE (SELECT count(*) FROM i t WHERE {dom}) < {k}"
        )
        if under:
            errs.append(f"{under} k-band rows are missing")
        return errs

    def reverse(
        self, inp: pa.Table, out: pa.Table, dims: Sequence[str], point: Sequence[float], key: str
    ) -> list[str]:
        """Exact expected set from the NOT EXISTS formulation of the
        reverse skyline, compared as a multiset of keys."""
        self.con.register("rev_src", inp)
        self.con.register("rev_out", out.select([key]))
        a, b = dims
        qa, qb = point
        expected = f"""
            WITH pts AS (SELECT "{key}" AS k, "{a}" AS a, "{b}" AS b FROM rev_src
                         WHERE "{a}" IS NOT NULL AND "{b}" IS NOT NULL)
            SELECT p.k FROM pts p WHERE NOT EXISTS (
              SELECT 1 FROM pts t
              WHERE abs(t.a - p.a) <= abs({qa} - p.a) AND abs(t.b - p.b) <= abs({qb} - p.b)
                AND (abs(t.a - p.a) < abs({qa} - p.a) OR abs(t.b - p.b) < abs({qb} - p.b))
                AND (t.a <> p.a OR t.b <> p.b))"""
        got = f'SELECT "{key}" AS k FROM rev_out'
        diff = self._scalar(
            f"SELECT count(*) FROM (({expected}) EXCEPT ALL ({got})"
            f" UNION ALL (({got}) EXCEPT ALL ({expected})))"
        )
        self.con.unregister("rev_src")
        self.con.unregister("rev_out")
        return [f"{diff} rows differ from the reverse skyline"] if diff else []

    def profile(self, truth: pa.Table, out: pa.Table, dims: Sequence[str]) -> list[str]:
        """Per-dim min, max, present count and the total row count."""
        self.con.register("prof_src", truth)
        got = {r["dim"]: r for r in out.to_pylist()}
        errs = []
        if sorted(got) != sorted(dims):
            return [f"profile dims {sorted(got)} != {sorted(dims)}"]
        for c in dims:
            lo, hi, n_present, n_total = self.con.execute(
                f'SELECT min("{c}"), max("{c}"), count("{c}"), count(*) FROM prof_src'
            ).fetchone()
            r = got[c]
            if (r["min_val"], r["max_val"], r["n_present"], r["n_total"]) != (
                lo,
                hi,
                n_present,
                n_total,
            ):
                errs.append(f"profile of {c} differs")
        self.con.unregister("prof_src")
        return errs
