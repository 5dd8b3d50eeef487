"""Reverse skyline: the points whose dynamic skyline contains a query
point q (Dellis & Seeger, VLDB 2007).

The reference repo's companion paper is titled "skyline and *reverse*
skyline", but the reference engine itself never implements the reverse
variant (``/root/reference/Readme.md:3-4`` — it ships only the forward
G-SKY-MR pipeline). This operator completes the paper's query surface
Spark-first.

Definition (value-level): a row p is in the reverse skyline of query
point q iff NO other value t in the data satisfies

    |t_i - p_i| <= |q_i - p_i|  for every dimension i,
    |t_i - p_i| <  |q_i - p_i|  for at least one i,
    t differs from p in at least one dimension.

i.e. q belongs to the dynamic (distance-transformed) skyline centered
at p. Duplicate rows of a qualifying value all survive (a duplicate of
p is not "another value", mirroring strict-dominance tie semantics in
the forward skyline).

Dimensions are compared as ``_kernel`` coordinates (unsigned: the
distance transform has no min/max direction), so ``query_point`` is
given in that space — epoch days for a DATE dim, epoch microseconds
for a TIMESTAMP dim, the plain value otherwise.

Physical plan (the k-skyband pattern with k=1 and a different count):

1. **Local pass** — a per-partition violation check. Superset-safe: a
   violator of p in p's own partition is a violator globally, so the
   union of per-partition survivors contains the answer — under ANY
   partitioning. The input is therefore repartitioned into blocks of
   ``_LOCAL_BLOCK_ROWS`` first: the pairwise check is O(m² d) per
   partition, so splitting one m-row partition into k blocks cuts the
   work by k× AND runs it on k cores (a single-file local scan would
   otherwise serialize a quadratic pass through one task). Survivors
   then take a second, coarser local pass (few blocks, still pairwise)
   that removes most of the extra candidates the finer split let
   through — both passes keep the superset property because a true
   reverse-skyline point has no violators anywhere.
2. **Verify pass** — survivors are counted against the FULL data by
   the same routine as ``skyline_kband``'s phase 2
   (``skyline.verify_candidates``): broadcast-and-count when the
   survivor set is driver-small, else a two-sided blocked cogroup with
   bounded per-task memory and no driver materialization.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import partial

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from skylinemapreducehadoop_spark.operators._cache import persist_tracked
from skylinemapreducehadoop_spark.operators._kernel import block_rows, dominates
from skylinemapreducehadoop_spark.operators.skyline import (
    _drop_null_dims,
    count_filter_fn,
    verify_candidates,
)

#: rows per block of the first local pass (read at call time)
_LOCAL_BLOCK_ROWS = 4_096


def _violation_counts(cand: np.ndarray, rows: np.ndarray, q: np.ndarray) -> np.ndarray:
    """For each candidate p, count rows t that dominate q in the
    distance space centred at p — |t - p| strictly dominates |q - p| —
    and differ from p in some dimension."""
    counts = np.zeros(len(cand), dtype=np.int64)
    if len(cand) == 0 or len(rows) == 0:
        return counts
    step = block_rows(rows.size)
    for s0 in range(0, len(cand), step):
        p = cand[s0 : s0 + step]  # (s, d)
        diff = np.abs(rows[None, :, :] - p[:, None, :])  # (s, m, d)
        hit = dominates(diff, np.abs(q[None, :] - p)[:, None, :])
        neq = (rows[None, :, :] != p[:, None, :]).any(axis=2)
        counts[s0 : s0 + step] = (hit & neq).sum(axis=1)
    return counts


def reverse_skyline(
    df: DataFrame, dims: Sequence[str], query_point: Sequence[float]
) -> DataFrame:
    """Rows of ``df`` in the reverse skyline of ``query_point`` over
    ``dims`` (all numeric/temporal; NULL-dim rows are excluded, like the
    forward skyline)."""
    dim_cols = list(dims)
    missing = [c for c in dim_cols if c not in df.columns]
    if missing:
        raise ValueError(f"reverse_skyline dims not in DataFrame: {missing}")
    q = np.asarray(list(query_point), dtype=np.float64)
    if q.shape != (len(dim_cols),):
        raise ValueError(
            f"query_point must have {len(dim_cols)} values, got {q.shape}"
        )
    dim_signs = [(c, 1.0) for c in dim_cols]
    count_fn = partial(_violation_counts, q=q)
    local_pass = count_filter_fn(dim_signs, count_fn, 1)

    # bound the quadratic local pass: O(m²) per partition means one
    # fat partition (a single-file scan) serializes the whole pass —
    # splitting into b blocks divides the work by b and parallelizes it.
    # clean is scanned by the count, the local pass, the verify pass and
    # the final semi-join — persist it (tracked, disk-spilling) so the
    # source is read once, not four times.
    clean = persist_tracked(_drop_null_dims(df, dim_cols))
    n_rows = clean.count()
    if n_rows == 0:
        return clean.limit(0)
    block = _LOCAL_BLOCK_ROWS
    local_src = clean.repartition(-(-n_rows // block)) if n_rows > block else clean
    surv1 = local_src.mapInArrow(local_pass, df.schema).select(*dim_cols).distinct()

    # second, coarser local pass over the (small) survivor set: the
    # fine split above lets extra candidates through; re-checking the
    # survivors against each other in a handful of blocks removes most
    # of them before the full-data verify. Survivors of the TRUE
    # reverse skyline have no violators anywhere, so both passes keep
    # the superset property.
    surv = persist_tracked(
        surv1.coalesce(max(1, df.sparkSession.sparkContext.defaultParallelism // 4))
        .mapInArrow(local_pass, surv1.schema)
        .distinct()
    )
    return verify_candidates(clean, surv, dim_signs, count_fn, 1)


def dynamic_skyline(
    df: DataFrame,
    dims: Sequence[str],
    query_point: Sequence[float],
    *,
    strategy: str = "twophase",
) -> DataFrame:
    """Skyline in the distance space centered at ``query_point``: the
    rows minimizing ``|x_i - q_i|`` per dimension under strict Pareto
    dominance (Dellis & Seeger's dynamic skyline — the per-point query
    the reverse skyline inverts).

    Pure composition: project the absolute distances as temp columns
    and run the ordinary ``skyline`` operator over them, so every
    strategy (twophase, quadtree, bruteforce) and its scale properties
    apply unchanged. Tie semantics inherit from the forward skyline:
    rows at identical distances both survive.
    """
    from skylinemapreducehadoop_spark.operators.skyline import skyline

    dim_cols = list(dims)
    missing = [c for c in dim_cols if c not in df.columns]
    if missing:
        raise ValueError(f"dynamic_skyline dims not in DataFrame: {missing}")
    q = np.asarray(list(query_point), dtype=np.float64)
    if q.shape != (len(dim_cols),):
        raise ValueError(
            f"query_point must have {len(dim_cols)} values, got {q.shape}"
        )
    tmp = {c: f"__dyn_{c}" for c in dim_cols}
    proj = df
    for c, qi in zip(dim_cols, q):
        proj = proj.withColumn(tmp[c], F.abs(F.col(c) - F.lit(float(qi))))
    dims_min = [(tmp[c], "min") for c in dim_cols]
    out = skyline(proj, dims_min, strategy=strategy)
    return out.drop(*tmp.values())
