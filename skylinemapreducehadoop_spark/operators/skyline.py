"""Distributed skyline (Pareto-optimal set) operator.

Re-expresses the reference engine's three-job MapReduce pipeline
(``/root/reference/Skyline.java``, ``LSkyMapper.java``, ``LSkyReducer.java``,
``GlobalSkyline.java``) as a composable PySpark DataFrame operator.

Physical plan (strategy="twophase", the default):

1. **Local pass** — ``mapInArrow`` computes a per-partition skyline.
   This is the Spark analogue of the reference's combiner-equals-reducer
   trick (``/root/reference/Skyline.java:408``): it is correct because
   ``skyline(skyline(A) ∪ skyline(B)) == skyline(A ∪ B)`` for any
   partitioning of the input (the combiner law). On 100 TB this is the
   map-side reduction that makes the shuffle tiny: each of the ~N scan
   partitions emits only its Pareto set.
2. **Merge pass(es)** — the union of local skylines is re-partitioned
   down (through intermediate tree-reduction levels when the measured
   candidate count needs them) and the same kernel runs again; the last
   level is a single partition, which replaces the reference's
   hard-coded single reducer (reference ``Skyline.java:414``) but
   only ever sees already-reduced data.

strategy="quadtree" routes to the dominance-aware quadtree partitioner
(see ``operators/quadtree.py``), the reference's actual contribution:
data-space cells prune provably-dominated regions *before* the local
pass and bound the merge fan-in.

Null semantics: rows with NULL in any skyline dimension are excluded
(documented engine semantics; the reference would corrupt on its
missing-value sentinels — SURVEY.md §1.2). The null filter is applied
Spark-side as a conjunction of IsNotNull so Catalyst pushes it into the
scan.

Every operator here encodes dimension values and tests dominance only
through ``operators/_kernel.py`` (one Arrow encoder, one Column
encoder, one dominance primitive), so numeric, DATE and TIMESTAMP
dimensions behave the same under every strategy.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from skylinemapreducehadoop_spark.operators._cache import fan_out, persist_tracked
from skylinemapreducehadoop_spark.operators._kernel import (
    arrow_coords,
    column_coords,
    dominated_mask,
    dominator_counts,
    skyline_mask,
)

DimSpec = Sequence[tuple[str, str]]


def _drop_null_dims(df: DataFrame, dim_cols: Sequence[str]) -> DataFrame:
    """All-dims-non-null filter as an AND of per-column IsNotNull.

    ``dropna(subset=...)`` compiles to ``atleastnnonnulls(n, ...)``,
    which parquet cannot push; the explicit conjunction reaches the
    scan as PushedFilters (verified in the formatted plan).
    """
    cond = F.lit(True)
    for c in dim_cols:
        cond = cond & F.col(c).isNotNull()
    return df.where(cond)

_VALID_DIRECTIONS = {"min", "max"}


def normalize_dims(dims: DimSpec) -> list[tuple[str, float]]:
    """Validate a dims spec into (column, sign) pairs.

    ``sign`` is +1.0 for minimize, -1.0 for maximize — the same
    direction-normalization trick as the reference's ``value_type``
    multiplier (``/root/reference/Skyline.java:31``,
    ``/root/reference/Point.java:29``): after multiplying, all dominance
    is uniformly MIN-dominance.
    """
    out: list[tuple[str, float]] = []
    if not dims:
        raise ValueError("dims must be a non-empty sequence of (column, 'min'|'max')")
    for col, direction in dims:
        if direction not in _VALID_DIRECTIONS:
            raise ValueError(f"direction for {col!r} must be 'min' or 'max', got {direction!r}")
        out.append((col, 1.0 if direction == "min" else -1.0))
    return out


def _arrow_skyline(tbl: pa.Table, dim_signs: list[tuple[str, float]]) -> pa.Table:
    """Skyline of one in-memory Arrow table (dims already non-null)."""
    if tbl.num_rows == 0:
        return tbl
    mask = skyline_mask(arrow_coords(tbl, dim_signs))
    return tbl.filter(pa.array(mask))


def pandas_skyline(pdf: pd.DataFrame, dim_signs: list[tuple[str, float]]) -> pd.DataFrame:
    """Skyline of one in-memory pandas frame (rows with NULL dims dropped)."""
    if len(pdf) == 0:
        return pdf
    cols = [c for c, _ in dim_signs]
    pdf = pdf.dropna(subset=cols)
    if len(pdf) == 0:
        return pdf
    dims = pa.Table.from_pandas(pdf[cols], preserve_index=False)
    return pdf.loc[skyline_mask(arrow_coords(dims, dim_signs))]


def _partition_skyline_fn(dim_signs: list[tuple[str, float]]):
    """mapInArrow function: incremental skyline over the partition's batches.

    Keeps a running skyline across Arrow batches so memory stays bounded
    by the partition's Pareto set, not the partition. Pure Arrow:
    pass-through columns are never converted to pandas dtypes.
    """

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        acc: pa.Table | None = None
        for batch in batches:
            if batch.num_rows == 0:
                continue
            tbl = pa.Table.from_batches([batch])
            combined = pa.concat_tables([acc, tbl]) if acc is not None else tbl
            acc = _arrow_skyline(combined, dim_signs)
        if acc is not None and acc.num_rows:
            yield from acc.combine_chunks().to_batches()

    return fn


# Tuning constants, read at call time (tests monkeypatch them to force
# the multi-level tree, the blocked merge's block pairs and the blocked
# candidate verification on small inputs).
#: rows one merge task handles comfortably (vectorized SFS kernel)
_MERGE_BATCH_ROWS = 1_000_000
#: upstream partitions absorbed per task at each extra tree level
_MERGE_FAN_IN = 16
#: candidates per block of the blocked merge
_BLOCKED_ROWS = 65_536
#: candidate verification: sets up to this size are broadcast ...
_BROADCAST_ROWS = 1_000_000
#: ... larger ones are counted per (candidate block, data block) pair
_CAND_BLOCK_ROWS = 65_536
_DATA_BLOCK_ROWS = 1 << 20


def skyline(
    df: DataFrame,
    dims: DimSpec,
    *,
    strategy: str = "twophase",
    merge: str = "tree",
) -> DataFrame:
    """Pareto-optimal rows of ``df`` under per-dimension min/max directions.

    dims: sequence of ``(column, 'min'|'max')`` — the engine's query knob,
    mirroring the reference's per-dimension ``value_type`` directions.
    Numeric, DATE and TIMESTAMP columns are all valid dimensions.

    strategy:
      - ``"twophase"`` (default): per-partition local skyline then
        tree-reduced global merge. Correct at any scale; merge fan-in is
        the sum of per-partition skyline sizes.
      - ``"quadtree"``: dominance-aware data-space partitioning with
        provable cell pruning before the local pass (the reference's
        L-SKY-MR / G-SKY-MR design, re-expressed).
      - ``"bruteforce"``: single-partition single-pass kernel; test oracle
        for small inputs only.

    merge (twophase only):
      - ``"tree"`` (default): tree-reduce to ONE final partition. Right
        whenever the global Pareto set fits one task (the overwhelmingly
        common case — the tree guard bounds fan-in automatically).
      - ``"blocked"``: fully distributed block-nested verification — NO
        single-partition stage anywhere, so even a Pareto set far larger
        than one task's memory works. Candidates are hashed into B
        blocks of at most ``_BLOCKED_ROWS``; every (i, j) block pair is
        checked in its own task via cogroup, and a row survives iff no
        block dominates it. Costs a B-way replication shuffle — opt in
        for anti-correlated data at extreme scale.

    NOTE (declarative-API caveat): CALLING this function with the
    twophase strategy always runs one Spark job eagerly, for both merge
    modes — the local pass is persisted and counted so the guard can
    size its merge levels (tree) or its block count (blocked) from the
    measured candidate count; the count job fills the cache the merge
    plan then reuses, so the kernel runs once.
    """
    dim_signs = normalize_dims(dims)
    dim_cols = [c for c, _ in dim_signs]
    missing = [c for c in dim_cols if c not in df.columns]
    if missing:
        raise ValueError(f"skyline dims not in DataFrame: {missing}")

    clean = _drop_null_dims(df, dim_cols)
    fn = _partition_skyline_fn(dim_signs)

    if strategy == "bruteforce":
        return clean.repartition(1).mapInArrow(fn, df.schema)

    if strategy == "quadtree":
        from skylinemapreducehadoop_spark.operators.quadtree import quadtree_skyline

        return quadtree_skyline(clean, dim_signs)

    if strategy != "twophase":
        raise ValueError(f"unknown strategy {strategy!r}")
    if merge not in ("tree", "blocked"):
        raise ValueError(f"unknown merge {merge!r}")

    # the local pass is CPU-bound kernel work: fan a narrow scan out
    local = fan_out(clean).mapInArrow(fn, df.schema)
    if merge == "blocked":
        return _blocked_merge(local, dim_signs)

    # Tree-reduce the union of local skylines down to one partition.
    # The final merge MUST be a single partition (global dominance needs
    # every surviving candidate in one place — the reference's single
    # reducer, /root/reference/Skyline.java:414), but on anti-correlated
    # data the union of local skylines can be huge, so intermediate
    # levels bound each merge task's fan-in. The guard materializes the
    # (small) local skyline once and measures it; widths then cap
    # rows-per-merge-task. The persist means the merge does not
    # recompute the local pass.
    local = persist_tracked(local)
    n_local = local.count()
    widths: list[int] = []
    w = -(-n_local // _MERGE_BATCH_ROWS)  # ceil
    while w > 1:
        widths.append(int(w))
        w = -(-w // _MERGE_FAN_IN)

    current = local
    for w in widths:
        current = current.repartition(w).mapInArrow(fn, df.schema)
    return current.repartition(1).mapInArrow(fn, df.schema)


def _blocked_merge(local: DataFrame, dim_signs: list[tuple[str, float]]) -> DataFrame:
    """Distributed global verification of local-skyline candidates with
    no single-partition stage (see ``skyline(merge="blocked")``).

    Plan: persist the local-skyline candidates and count them (the one
    sizing job — it fills the cache every later job reuses, so the
    kernel pass runs once), hash rows into B blocks, cogroup every
    (candidate-block i, opponent-block j) pair in its own task, emit the
    ids of dominated candidates, anti-join them away. The pair (i, i)
    also removes intra-block dominance between rows that came from
    different source partitions. Strict dominance keeps all ties, same
    as the kernel.

    Row-id stability: the id is ``md5(to_json(struct(*row)))`` — a pure
    function of the row's CONTENT, so it is identical across the
    dominated-ids job and the final anti-join no matter how a lost
    partition is recomputed, even when the upstream lineage contains a
    shuffle or aggregate with nondeterministic within-partition row
    order (positional ids like ``monotonically_increasing_id`` diverge
    exactly there). Duplicate rows collapse onto one id, which is
    CORRECT here: dominance is a function of the dimension values alone,
    so identical rows share dominated-fate — either every copy is
    dominated or none is — and an identical opponent never strictly
    dominates (ties are kept, same as the kernel). 128-bit md5 makes
    cross-row collisions a non-issue at any candidate count; ``to_json``
    includes field names, so two different rows can only serialize
    equal if they ARE equal. The persist() below is purely a perf pin
    (no eager ``localCheckpoint`` — that was a 6x wall-clock overhead
    at sf0.1; see PLANS.md §15); correctness no longer leans on it.
    """
    local = persist_tracked(local)
    n_cand = local.count()
    if n_cand == 0:
        return local
    n_blocks = max(1, -(-n_cand // _BLOCKED_ROWS))
    tagged = local.withColumn(
        "__rid", F.md5(F.to_json(F.struct(*[F.col(c) for c in local.columns])))
    )
    slim = tagged.select("__rid", *column_coords(tagged, dim_signs)).withColumn(
        "__blk", F.pmod(F.hash("__rid"), F.lit(n_blocks)).cast("int")
    )
    opp = F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))).alias("__opp")
    # candidates keyed by (own block, opponent block); opponents keyed by
    # (candidate block, own block) — cogroup co-locates each pair
    cand_side = slim.select("*", opp)
    opp_side = slim.select("*", opp).withColumnRenamed("__opp", "__cand_blk")
    # the __s columns are already coordinates: encode them unsigned
    coords = [(f"__s{k}", 1.0) for k in range(len(dim_signs))]

    def dominated_ids(left: pa.Table, right: pa.Table) -> pa.Table:
        hit = dominated_mask(arrow_coords(left, coords), arrow_coords(right, coords))
        return left.select(["__rid"]).filter(pa.array(hit))

    dominated = (
        cand_side.groupBy("__blk", "__opp")
        .cogroup(opp_side.groupBy("__cand_blk", "__blk"))
        .applyInArrow(dominated_ids, "__rid string")
        .distinct()
    )
    return tagged.join(dominated, "__rid", "left_anti").drop("__rid")


def count_filter_fn(dim_signs: list[tuple[str, float]], count_fn, k: int):
    """``mapInArrow`` function: keep the partition's rows with fewer than
    ``k`` violators among the partition's own rows, where
    ``count_fn(rows, opponents)`` counts each row's violators. The
    partition is buffered (a Spark partition is sized to memory)."""

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        parts = [pa.Table.from_batches([b]) for b in batches if b.num_rows]
        if not parts:
            return
        tbl = pa.concat_tables(parts).combine_chunks()
        vals = arrow_coords(tbl, dim_signs)
        out = tbl.filter(pa.array(count_fn(vals, vals) < k))
        if out.num_rows:
            yield from out.to_batches()

    return fn


def verify_candidates(
    clean: DataFrame,
    cand: DataFrame,
    dim_signs: list[tuple[str, float]],
    count_fn,
    k: int,
) -> DataFrame:
    """Rows of ``clean`` whose dimension vector is a candidate with fewer
    than ``k`` violators in all of ``clean``.

    ``cand`` holds distinct dimension vectors (a superset of the
    answer); ``count_fn(cand_coords, data_coords)`` counts, per
    candidate, the data rows that violate it. The candidates are
    counted against the full data by size:

    - ``|cand| <= _BROADCAST_ROWS``: the candidate *vectors* are
      broadcast and ONE distributed pass computes map-side partial
      counts (counts, not rows, cross the wire).
    - larger (anti-correlated data can make the candidate set O(n)):
      fully distributed two-sided blocked counting — candidates hashed
      into B blocks, data into D blocks, every (B, D) pair cogrouped in
      its own task, partial counts summed per candidate vector. No
      driver materialization and no task ever holds more than one
      block pair.

    The result is a semi-join of ``clean`` on the qualifying vectors,
    so duplicates of qualifying rows all survive. The broadcast hint is
    only applied on the small path; the blocked path lets AQE pick the
    join strategy.
    """
    dim_cols = [c for c, _ in dim_signs]
    n_cand = cand.count()
    if n_cand == 0:
        return clean.limit(0)
    if n_cand <= _BROADCAST_ROWS:
        keep = _count_broadcast(clean, cand, dim_signs, count_fn, k)
        return clean.join(F.broadcast(keep), on=dim_cols, how="left_semi")
    keep = _count_blocked(clean, cand, dim_signs, count_fn, k, n_cand)
    return clean.join(keep, on=dim_cols, how="left_semi")


def _count_broadcast(clean, cand, dim_signs, count_fn, k) -> DataFrame:
    """Verification for a driver-small candidate set."""
    spark = clean.sparkSession
    dim_cols = [c for c, _ in dim_signs]
    cand_tbl = cand.toArrow()
    b_cand = spark.sparkContext.broadcast(arrow_coords(cand_tbl, dim_signs))

    def partial_counts(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        c = b_cand.value
        total = np.zeros(len(c), dtype=np.int64)
        seen = False
        for batch in batches:
            if batch.num_rows == 0:
                continue
            seen = True
            total += count_fn(c, arrow_coords(pa.Table.from_batches([batch]), dim_signs))
        if seen:
            yield pa.RecordBatch.from_arrays(
                [pa.array(np.arange(len(c))), pa.array(total)], names=["__idx", "__cnt"]
            )

    totals = (
        clean.select(*dim_cols)
        .mapInArrow(partial_counts, "__idx long, __cnt long")
        .groupBy("__idx")
        .agg(F.sum("__cnt").alias("n"))
        .collect()
    )
    n = np.zeros(cand_tbl.num_rows, dtype=np.int64)
    for r in totals:
        n[r["__idx"]] = r["n"]
    return spark.createDataFrame(cand_tbl.filter(pa.array(n < k)), schema=cand.schema)


def _count_blocked(clean, cand, dim_signs, count_fn, k, n_cand) -> DataFrame:
    """Verification with no driver-side candidate materialization: every
    (candidate-block, data-block) pair is counted in its own cogroup
    task; per-pair partial counts are summed per candidate vector.
    Shuffle cost is B×|data| + D×|cand| rows of dimension columns only —
    the price of exact counting at O(n) candidate cardinality, paid
    distributed instead of on the driver."""
    dim_cols = [c for c, _ in dim_signs]
    n_data = clean.count()
    B = max(1, -(-n_cand // _CAND_BLOCK_ROWS))
    D = max(1, -(-n_data // _DATA_BLOCK_ROWS))

    cand_side = (
        cand.withColumn("__cblk", F.pmod(F.hash(*dim_cols), F.lit(B)).cast("int"))
        .select("*", F.explode(F.sequence(F.lit(0), F.lit(D - 1))).alias("__dblk"))
    )
    data_side = (
        clean.select(*dim_cols)
        .withColumn("__dblk", F.pmod(F.hash(*dim_cols), F.lit(D)).cast("int"))
        .select("*", F.explode(F.sequence(F.lit(0), F.lit(B - 1))).alias("__cblk"))
    )
    out_schema = T.StructType(
        [clean.schema[c] for c in dim_cols] + [T.StructField("__cnt", T.LongType())]
    )

    def pair_counts(left: pa.Table, right: pa.Table) -> pa.Table:
        vecs = left.select(dim_cols)
        cnt = count_fn(arrow_coords(vecs, dim_signs), arrow_coords(right, dim_signs))
        return vecs.append_column("__cnt", pa.array(cnt, pa.int64()))

    partial = (
        cand_side.groupBy("__cblk", "__dblk")
        .cogroup(data_side.groupBy("__cblk", "__dblk"))
        .applyInArrow(pair_counts, out_schema)
    )
    return (
        partial.groupBy(*dim_cols)
        .agg(F.sum("__cnt").alias("__n"))
        .where(F.col("__n") < k)
        .select(*dim_cols)
    )


def skyline_kband(df: DataFrame, dims: DimSpec, k: int) -> DataFrame:
    """k-skyband: rows dominated by FEWER than ``k`` rows (k=1 is the
    skyline). The classic relaxation for "top candidates with slack".

    Two-phase, superset-safe: a row in the global k-skyband has < k
    dominators globally, hence < k within its own partition — so the
    union of per-partition k-skybands is a superset of the answer.
    Phase 1 computes that candidate set (distributed; persisted, never
    collected wholesale). Phase 2 counts each candidate's dominators in
    the full data (:func:`verify_candidates`); duplicates of qualifying
    rows all survive (ties never dominate).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    dim_signs = normalize_dims(dims)
    dim_cols = [c for c, _ in dim_signs]
    clean = _drop_null_dims(df, dim_cols)
    local_kband = count_filter_fn(dim_signs, dominator_counts, k)
    cand = persist_tracked(
        clean.mapInArrow(local_kband, df.schema).select(*dim_cols).distinct()
    )
    return verify_candidates(clean, cand, dim_signs, dominator_counts, k)


def grouped_combine_fn(key_cols: Sequence[str], dim_signs: list[tuple[str, float]], flush_rows: int = 1 << 19):
    """``mapInArrow`` function: per-(partition, group) skyline — the
    map-side combine (the Spark analogue of the reference's
    combiner-equals-reducer, ``/root/reference/Skyline.java:408``).
    Correct by the combiner law within each group; after it, a
    ``groupBy(key_cols)`` shuffle carries only local Pareto sets.

    ``flush_rows`` bounds buffered rows before an intermediate per-group
    reduction, so memory is bounded on pathological partitions without
    paying a kernel run per Arrow batch.
    """
    key_cols = list(key_cols)

    def _reduce_groups(tbl: pa.Table) -> pa.Table:
        """Per-group skyline of one in-memory table. One boolean mask +
        ONE table filter: group codes are factorized on the key columns
        only, rows argsorted into contiguous group slices, and the
        kernel runs per slice on the numeric matrix — pass-through
        columns are never copied per group (a per-group ``take`` on the
        full-width table costs more than the kernel itself)."""
        if tbl.num_rows == 0:
            return tbl
        key_pdf = tbl.select(key_cols).to_pandas()
        codes = key_pdf.groupby(key_cols, sort=False, dropna=False).ngroup().to_numpy()
        mat = arrow_coords(tbl, dim_signs)
        keep = np.zeros(tbl.num_rows, dtype=bool)
        order = np.argsort(codes, kind="stable")
        bounds = np.flatnonzero(np.diff(codes[order])) + 1
        for idx in np.split(order, bounds):
            keep[idx] = skyline_mask(mat[idx])
        return tbl.filter(pa.array(keep))

    def local_combine(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        buf: list[pa.Table] = []
        buffered = 0
        for batch in batches:
            if batch.num_rows == 0:
                continue
            buf.append(pa.Table.from_batches([batch]))
            buffered += batch.num_rows
            if buffered >= flush_rows:
                buf = [_reduce_groups(pa.concat_tables(buf).combine_chunks())]
                buffered = buf[0].num_rows
        if buf:
            out = _reduce_groups(pa.concat_tables(buf).combine_chunks())
            if out.num_rows:
                yield from out.to_batches()

    return local_combine


def skyline_by(df: DataFrame, keys: Sequence[str] | str, dims: DimSpec) -> DataFrame:
    """Grouped skyline: the Pareto set within each group of ``keys``.

    Composition the reference cannot express (its cell grouping is
    internal). Two-level plan: a map-side combine first runs the kernel
    per (partition, group) — correct by the combiner law within each
    group — so the ``groupBy`` shuffle carries only local Pareto sets,
    not the input. Without it, a low-cardinality key (the common case:
    few groups × billions of rows) would funnel ALL data through a
    handful of group tasks.

    Whether to combine is decided from the deployment: the combine's
    win is replacing a NETWORK shuffle of all rows with one of tiny
    Pareto sets, paid for with one extra Arrow pass over the data. On a
    real cluster that trade always wins at volume → combine. On
    ``local[*]`` there is no network — the "shuffle" is in-process
    memory/disk, so the extra pass costs more than it saves (measured
    2-3.5× slower on 600k-row scans AND joins) → direct groupBy, whose
    per-group kernel tasks are the same work the combine's final stage
    would do anyway.
    """
    if isinstance(keys, str):
        keys = [keys]
    dim_signs = normalize_dims(dims)
    clean = _drop_null_dims(df, [c for c, _ in dim_signs])
    key_cols = list(keys)

    def per_group(tbl: pa.Table) -> pa.Table:
        return _arrow_skyline(tbl, dim_signs)

    # sparkContext is unavailable under Spark Connect — combine there
    # (the cluster-shaped choice). Match only REAL local masters:
    # 'local' / 'local[...]' — NOT 'local-cluster[...]', which simulates
    # real executors with a network shuffle and wants the combine.
    try:
        master = (df.sparkSession.sparkContext.master or "").lower()
    except Exception:
        master = ""
    if not (master == "local" or master.startswith("local[")):
        clean = clean.mapInArrow(grouped_combine_fn(key_cols, dim_signs), df.schema)
    return clean.groupBy(*key_cols).applyInArrow(per_group, df.schema)


def skyline_layers(df: DataFrame, dims: DimSpec, n_layers: int) -> DataFrame:
    """Ranked Pareto bands: layer 1 = skyline, layer 2 = skyline of the
    remainder, ... Returns ``df``'s columns plus ``layer int``.

    Driver-side loop of ``n_layers`` skyline+exceptAll rounds; each round
    shuffles only the shrinking remainder. ``exceptAll`` keeps duplicate
    multiplicity consistent with strict-dominance tie semantics.
    """
    if n_layers < 1:
        raise ValueError("n_layers must be >= 1")
    remaining = df
    out: DataFrame | None = None
    for layer in range(1, n_layers + 1):
        # Each layer's skyline feeds BOTH the output union and the next
        # round's exceptAll — cache so the kernel runs once per layer,
        # not once per reference (and lineage doesn't re-read the scan).
        # sky caches stay pinned (they ARE the output); each round's
        # remaining is unpersisted once the next round's is materialized
        # (layer 1's `remaining` is the caller's frame — never touched).
        sky = persist_tracked(skyline(remaining, dims))
        tagged = sky.withColumn("layer", F.lit(layer))
        out = tagged if out is None else out.unionByName(tagged)
        if layer < n_layers:
            nxt = remaining.exceptAll(sky).cache()
            nxt.count()  # materialize before freeing the parent cache
            if layer > 1:
                remaining.unpersist()
            remaining = nxt
    assert out is not None
    return out
