"""Deduplication operators for document-scale pipelines.

Design point: at 100 TB, all-pairs comparison is impossible — every
near-dup algorithm here is *bucketed*: candidates are generated by an
equi-join on a short key (LSH band hash / simhash band), so the only
shuffles are hash-partitioned joins Catalyst can plan, and the
quadratic work happens only inside tiny buckets. Nothing in this module
ever calls ``collect()`` on data-sized inputs and no cartesian product
appears in any plan.

Pieces:

- ``exact_dedup``: hash-groupBy on a content fingerprint (one shuffle,
  map-side partial agg).
- ``shingles``: word k-grams as a JVM-side array expression.
- ``minhash_signatures``: base shingle hash JVM-side (``xxhash64``),
  then 128 universal-hash permutations vectorized in ONE Arrow batch
  pandas UDF (numpy (a*h+b) mod p — the classic MinHash estimator).
- ``minhash_near_dup``: LSH banding → bucket equi-join → candidate
  pairs → exact Jaccard verify (JVM array_intersect/array_union).
  With ``rows_per_band=2`` and 64 bands, recall at J=0.5 is
  1-(1-0.25)^64 ≈ 1-1e-8 — effectively exact above threshold, while
  candidates stay ~|near-dup pairs|, not n².
- ``simhash``: 60-bit SimHash entirely JVM-side (explode distinct
  tokens → md5-based 60-bit token hash → per-bit signed sums → bit
  reassembly) — deterministic and reproducible in ANSI SQL.
- ``simhash_near_dup``: Hamming-distance pairs via pigeonhole banding
  (k+1 bands guarantee recall for distance ≤ k).
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from skylinemapreducehadoop_spark.functions.text import ngrams, tokens
from skylinemapreducehadoop_spark.operators._cache import persist_tracked

_MERSENNE_P = (1 << 31) - 1


#: below this scan size the fan-out shuffle costs more than the
#: parallelism it buys (32 near-empty Python UDF tasks + extra stage
#: scheduling dominated the round-3 dedup_minhash bench time — the
#: documents table is ~0.6 MB at every test SF)
_FAN_OUT_MIN_BYTES = 32 << 20


def _fan_out_narrow_scan(df: DataFrame) -> DataFrame:
    """Repartition when the source scan is narrower than the cluster
    AND large enough that per-core parallelism pays for the shuffle.

    ``inputFiles()`` is a metadata-only probe (no RDD plan conversion);
    an empty list means the frame isn't file-backed (in-memory test
    data), where Spark already parallelizes createDataFrame input.
    Local file sizes are also metadata-only; non-local schemes skip the
    size gate (cluster inputs are presumed large).
    """
    import os
    from urllib.parse import urlparse

    sc = df.sparkSession.sparkContext
    try:
        files = df.inputFiles()
    except Exception:
        return df
    if not (0 < len(files) < sc.defaultParallelism):
        return df
    total = 0
    for uri in files:
        parsed = urlparse(uri)
        if parsed.scheme not in ("file", ""):
            total = None  # remote storage: size probe not worth an RPC
            break
        try:
            total += os.path.getsize(parsed.path)
        except OSError:
            total = None
            break
    if total is not None and total < _FAN_OUT_MIN_BYTES:
        return df
    return df.repartition(sc.defaultParallelism)


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups keyed on the FULL 128-bit md5.

    Equality uses all 128 bits — at ~10^10 docs (100 TB of 10 KB docs) a
    60-bit key would already see birthday collisions and silently merge
    distinct documents; 128 bits keeps the collision odds negligible.
    The projected ``fingerprint`` column stays the 60-bit prefix for
    cross-engine display/verify compatibility.

    One hash aggregate (partial+final); output is one row per distinct
    content with the representative (min id) and copy count.
    """
    md5c = F.md5(F.col(text_col).cast("binary"))
    return (
        df.select(F.col(id_col), md5c.alias("__md5"))
        .groupBy("__md5")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select(
            F.conv(F.substring("__md5", 1, 15), 16, 10).cast("long").alias("fingerprint"),
            "keep_id",
            "n_copies",
        )
    )


def incremental_dedup(
    corpus: DataFrame,
    batch: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-dedup a NEW batch against an EXISTING corpus without ever
    re-deduplicating the corpus — the steady-state ingestion shape: the
    100 TB corpus is already clean, and each incoming crawl slice must
    drop (a) anything already in the corpus and (b) its own internal
    duplicates. Returns the surviving batch rows (all batch columns).

    Plan: both sides project to (id, md5-128) — the corpus scan is
    column-pruned to the text/id columns and carries 16-byte keys into
    the anti-join shuffle, never document bodies; batch-internal
    duplicates then resolve with one window min-id rank (keep the
    smallest id per fingerprint — deterministic representative). The
    corpus is ONLY the anti-join's build-side stream: no corpus
    self-join, no corpus shuffle of anything wider than the hash.
    NULL-text rows never match anything and are kept.
    """
    md5c = F.md5(F.col(text_col).cast("binary"))
    corpus_keys = corpus.select(md5c.alias("__md5")).where(F.col("__md5").isNotNull())
    tagged = batch.withColumn("__md5", md5c)
    # left_anti keeps NULL-key left rows (NULL equi-matches nothing)
    fresh = tagged.join(corpus_keys, "__md5", "left_anti")
    w = Window.partitionBy("__md5").orderBy(id_col)
    return (
        fresh.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__md5").isNull() | (F.col("__rn") == 1))
        .drop("__md5", "__rn")
    )


def duplicate_spans(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 20,
) -> DataFrame:
    """Maximal DUPLICATED token spans per document: every token
    position covered by an ``n``-gram that occurs more than once in
    the corpus (any document, including the same one), with
    overlapping/adjacent covered ranges merged into maximal intervals.
    Returns ``(id, span_start, span_end, span_tokens)`` with 0-based
    inclusive token positions.

    This is the span-level DIAGNOSTIC of the exact-substring dedup
    pass (Lee et al., "Deduplicating Training Data Makes Language
    Models Better", ACL'22): :func:`segment_dedup` removes repeated
    segments; this operator reports WHERE repeated text lives, for
    audit/annotation/length-weighted filtering, without rewriting
    anything.

    Plan shape for 100 TB: one explode to (doc, pos, md5(gram)) — the
    gram aggregate and the semi-join both carry the 128-bit hash,
    never n-token strings (collision odds negligible at 128 bits);
    repeated-gram ids are a corpus-vocabulary-sized frame joined back
    shuffle_hash-pinned; the interval merge is one per-document window
    (gaps-and-islands: ranges all have length n and arrive sorted by
    position, so a single lag comparison finds island breaks) + one
    aggregate. No self-join of positions, no cartesian anywhere.
    """
    from ..functions.text import ngrams

    g = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(ngrams(text_col, n)).alias("pos", "__gram"),
    ).select("id", "pos", F.md5(F.col("__gram").cast("binary")).alias("__h"))
    dup = (
        g.groupBy("__h")
        .agg(F.count(F.lit(1)).alias("__c"))
        .where(F.col("__c") >= 2)
        .select("__h")
    )
    hits = g.join(dup.hint("shuffle_hash"), "__h").select("id", "pos")
    w = Window.partitionBy("id").orderBy("pos")
    brk = F.when(F.col("pos") <= F.lag("pos").over(w) + n, 0).otherwise(1)
    cum = Window.partitionBy("id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        hits.withColumn("__brk", brk)
        .withColumn("__isl", F.sum("__brk").over(cum))
        .groupBy("id", "__isl")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(n - 1)).alias("span_end"),
        )
        .select(
            "id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
        )
    )


def shingles(col: Column | str, k: int = 3) -> Column:
    """Distinct word k-gram shingles as an array<string> — pure JVM
    expression (transform over a token-index sequence), no UDF.

    Documents with fewer than k tokens yield an empty set (sequence(1,0)
    would DESCEND and slice would throw INVALID_PARAMETER_VALUE.START,
    so the gram expression only runs when n >= k).

    Delegates the gram loop to ``functions.text.ngrams``, which binds
    the token array to a lambda variable before the per-position loop —
    referencing the raw ``split`` expression inside the lambda would
    re-tokenize the document once per shingle position (O(n^2) regex
    work per row)."""
    return F.array_distinct(ngrams(col, k))


def _perm_params(n_perm: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.RandomState(seed)
    a = rng.randint(1, _MERSENNE_P, size=n_perm, dtype=np.int64)
    b = rng.randint(0, _MERSENNE_P, size=n_perm, dtype=np.int64)
    return a, b


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    k: int = 3,
    n_perm: int = 128,
    seed: int = 42,
) -> DataFrame:
    """(id, shingles, sig: array<long>[n_perm]) MinHash signatures.

    Base shingle hashes are JVM-side ``xxhash64``, folded to 31 bits;
    the n_perm permutations run vectorized in numpy int64 — products
    stay < 2^62, so (a*h+b) mod (2^31-1) never overflows.
    """
    a, b = _perm_params(n_perm, seed)

    # signature work is CPU-bound per doc: fan out when the scan has
    # fewer input files than cores (metadata-only check, no RDD plan
    # conversion; no-op at cluster scale where files >> cores)
    df = _fan_out_narrow_scan(df)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def sig_udf(hashes: pd.Series) -> pd.Series:
        # flattened: one (shingles × n_perm) matrix op per doc-chunk with
        # a segment-min (np.minimum.reduceat) instead of per-doc numpy
        # calls; chunks cap the intermediate at ~8M int64 (64 MB)
        arrs = [
            (np.asarray(hs, dtype=np.int64) & 0x7FFFFFFF)
            if hs is not None and len(hs)
            else None
            for hs in hashes
        ]
        out = np.zeros((len(arrs), n_perm), dtype=np.int64)
        nonempty = [k for k, v in enumerate(arrs) if v is not None]
        max_rows = max(1, (1 << 23) // n_perm)
        pos = 0
        while pos < len(nonempty):
            take: list[int] = []
            total = 0
            while pos < len(nonempty):
                ln = len(arrs[nonempty[pos]])
                if take and total + ln > max_rows:
                    break
                take.append(nonempty[pos])
                total += ln
                pos += 1
            flat = np.concatenate([arrs[k] for k in take])
            # a,flat < 2^31 so a*h+b < 2^62: no int64 overflow
            vals = (a[None, :] * flat[:, None] + b[None, :]) % _MERSENNE_P
            starts = np.cumsum([0] + [len(arrs[k]) for k in take[:-1]])
            out[take] = np.minimum.reduceat(vals, starts, axis=0)
        return pd.Series(out.tolist())

    # projection barrier: shingles is an expensive expression referenced
    # twice below (as output column and as the hash input) — aliasing it
    # in its own select keeps CollapseProject from inlining two copies
    shdf = df.select(
        F.col(id_col).alias("id"),
        shingles(text_col, k).alias("shingles"),
    )
    base = F.transform(F.col("shingles"), lambda s: F.xxhash64(s))
    return shdf.select(
        "id",
        "shingles",
        sig_udf(base).alias("sig"),
    )


def band_keys(
    sigs: DataFrame, *, n_perm: int = 128, rows_per_band: int = 2
) -> DataFrame:
    """LSH band keys (id, band, bh) from a ``minhash_signatures``
    frame — one JVM explode, ``n_perm / rows_per_band`` keys per doc.
    Shared by the batch join path and the streaming incremental index.
    """
    n_bands = n_perm // rows_per_band
    return sigs.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.hash(
                            *[
                                F.col("sig")[j]
                                for j in range(
                                    i * rows_per_band, (i + 1) * rows_per_band
                                )
                            ]
                        ).alias("bh"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select("id", "bk.band", "bk.bh")


def minhash_near_dup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    threshold: float = 0.5,
    k: int = 3,
    n_perm: int = 128,
    rows_per_band: int = 2,
    seed: int = 42,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, jaccard >= threshold).

    Plan: signatures → explode band keys → self equi-join on
    (band, band_hash) → distinct candidate pairs → join shingle sets
    back → exact Jaccard filter. Every join is a hash equi-join; the
    band hash is the shuffle key, so skew is bounded by bucket size.
    """
    if n_perm % rows_per_band != 0:
        raise ValueError("n_perm must be divisible by rows_per_band")
    n_bands = n_perm // rows_per_band

    sigs = minhash_signatures(
        df, id_col, text_col, k=k, n_perm=n_perm, seed=seed
    )
    sigs = persist_tracked(sigs)

    bands = band_keys(sigs, n_perm=n_perm, rows_per_band=rows_per_band)

    # every side of these joins is DATA-SIZED (bands = docs × n_bands,
    # shingle sets = full corpus text), so the compile-time plan must
    # never broadcast one: Spark's pre-AQE size estimates under-count
    # array columns and auto-broadcast OOMs the driver at volume
    # (observed at a 10× local probe). shuffle_hash pins a shuffled
    # hash join; AQE still upgrades to broadcast at runtime when a
    # side is MEASURED small, which is the only trustworthy signal.
    left = bands.alias("l")
    right = bands.hint("shuffle_hash").alias("r")
    cand = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bh") == F.col("r.bh"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()
    )

    sh = sigs.select("id", "shingles").hint("shuffle_hash")
    # |A ∪ B| = |A| + |B| - |A ∩ B| (shingles are distinct): one array
    # op per pair instead of two, intersect aliased in its own select
    # as a projection barrier (see setsim_join). try_divide: two empty
    # shingle sets (docs shorter than k tokens) give 0/0 -> NULL, which
    # the threshold filter drops — same as the DuckDB oracle's NULL
    # division semantics.
    pairs = (
        cand.join(sh.withColumnRenamed("id", "id_a").withColumnRenamed("shingles", "sh_a"), "id_a")
        .join(sh.withColumnRenamed("id", "id_b").withColumnRenamed("shingles", "sh_b"), "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("sh_a", "sh_b")).alias("__i"),
            (F.size("sh_a") + F.size("sh_b")).alias("__ab"),
        )
        .withColumn(
            "jaccard",
            F.try_divide(
                F.col("__i").cast("double"), F.col("__ab") - F.col("__i")
            ),
        )
        .where(F.col("jaccard") >= F.lit(threshold))
        .select("id_a", "id_b", "jaccard")
    )
    return pairs


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    threshold: float = 0.5,
    k: int = 3,
) -> DataFrame:
    """All-pairs exact k-gram Jaccard (small inputs / test oracle only —
    the scale path is ``minhash_near_dup``; this is its brute-force twin
    for verification)."""
    s = df.select(F.col(id_col).alias("id"), shingles(text_col, k).alias("sh"))
    a, b = s.alias("a"), s.alias("b")
    return (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.try_divide(
                F.size(F.array_intersect("a.sh", "b.sh")).cast("double"),
                F.size(F.array_union("a.sh", "b.sh")),
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= F.lit(threshold))
    )


_SIMHASH_BITS = 60


def _token_hash60(col: Column) -> Column:
    """60-bit md5-based token hash, reproducible in ANSI SQL
    (DuckDB: ('0x' || substr(md5(t),1,15))::BIGINT)."""
    return F.conv(F.substring(F.md5(col.cast("binary")), 1, 15), 16, 10).cast("long")


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """60-bit SimHash per document — fully JVM-side, no UDF.

    explode(distinct tokens) → 60-bit token hash → one hash aggregate
    → reassemble bits. One shuffle on the document id with map-side
    partial aggregation.

    The aggregate is packed: the classic signed bit-sum s_b satisfies
    s_b > 0 ⟺ 2·ones_b > n (ones_b = count of tokens with bit b set,
    n = token count), so only ONES counts are needed — and three
    20-bit ones-counters pack into one long (no carries while a
    document has < 2^20 distinct tokens, far above any real document).
    That is 20 packed sums + 1 count instead of 60 conditional sums:
    3x smaller per-group aggregation state for the map-side combine
    (the buffer that must stay resident per in-flight group at 100 TB)
    and measurably less codegen per row. Output is bit-identical to
    the unpacked formulation (equality-tested) and to the SQL oracle.
    """
    df = _fan_out_narrow_scan(df)
    tok = (
        df.select(F.col(id_col).alias("id"), F.explode(F.array_distinct(tokens(text_col))).alias("tok"))
        .withColumn("th", _token_hash60(F.col("tok")))
    )
    n_groups = (_SIMHASH_BITS + 2) // 3
    packs = []
    for g in range(n_groups):
        expr = None
        for j in range(3):
            b = g * 3 + j
            if b >= _SIMHASH_BITS:
                break
            t = F.shiftleft(
                F.shiftright(F.col("th"), b).bitwiseAND(F.lit(1)), 20 * j
            )
            expr = t if expr is None else expr + t
        packs.append(F.sum(expr).alias(f"p{g}"))
    agg = tok.groupBy("id").agg(F.count("*").alias("n"), *packs)
    sim = None
    for b in range(_SIMHASH_BITS):
        g, j = b // 3, b % 3
        ones = F.shiftright(F.col(f"p{g}"), 20 * j).bitwiseAND(F.lit((1 << 20) - 1))
        term = F.when(ones * 2 > F.col("n"), F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sim = term if sim is None else sim + term
    return agg.select("id", sim.alias("simhash"))


def simhash_near_dup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    max_hamming: int = 3,
) -> DataFrame:
    """Pairs with SimHash Hamming distance <= max_hamming.

    Pigeonhole banding: split 60 bits into (max_hamming+1) bands; any
    pair within distance k agrees exactly on >= 1 band, so a bucket
    equi-join on (band, band_bits) has recall 1.0 — never an all-pairs
    scan. Verification = JVM-side bit_count(xor).
    """
    n_bands = max_hamming + 1
    band_width = _SIMHASH_BITS // n_bands
    sh = persist_tracked(simhash(df, id_col, text_col))

    bands = sh.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright(F.col("simhash"), i * band_width)
                        .bitwiseAND(F.lit((1 << band_width) - 1))
                        .alias("bits"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select("id", "simhash", "bk.band", "bk.bits")

    # shuffle_hash: both sides are data-sized — a compile-time
    # auto-broadcast would OOM at volume (see minhash_near_dup); AQE
    # still converts to broadcast when a side is measured small
    l, r = bands.alias("l"), bands.hint("shuffle_hash").alias("r")
    return (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bits") == F.col("r.bits"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.bit_count(F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))).alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= F.lit(max_hamming))
    )


#: rounds the last _star_components call took (test observability)
_LAST_STAR_ROUNDS = 0


def _star_components(
    pairs: DataFrame, id_a: str, id_b: str, max_iters: int
) -> DataFrame:
    """Large-star/small-star connected components (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14): alternate
    two neighborhood rewrites until the edge set is a fixed point, at
    which every component is a star centered on its minimum id.

    Why next to hash-min: label propagation needs DIAMETER rounds (a
    chain of 1000 near-dup docs = 1000 shuffles), while star rounds
    square away long paths in O(log n) alternations; per-round work
    stays one grouped min + one equi-join, and the rewrites direct
    edges at component minima so no node's neighborhood grows beyond
    its star — per-round skew is bounded by component size, never the
    graph.
    """
    # the pair list feeds BOTH the edge set and the node set: persist it
    # so an expensive upstream (a minhash near-dup join producing the
    # pairs) runs once, not once per eager checkpoint below
    from skylinemapreducehadoop_spark.operators._cache import persist_tracked

    p = persist_tracked(pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b")))
    e = (
        p.where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        p.select(F.col("a").alias("id"))
        .union(p.select(F.col("b").alias("id")))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def large_star(edges: DataFrame) -> DataFrame:
        d = edges.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
            edges.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )
        mins = d.groupBy("u").agg(
            F.least(F.col("u"), F.min("v")).alias("m")
        )
        return (
            d.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .where(F.col("a") != F.col("b"))
            .distinct()
        )

    def small_star(edges: DataFrame) -> DataFrame:
        d = edges.select(
            F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
        )
        mins = d.groupBy("u").agg(
            F.least(F.col("u"), F.min("v")).alias("m")
        )
        joined = d.join(mins, "u")
        out = joined.select(
            F.col("v").alias("a"), F.col("m").alias("b")
        ).union(mins.select(F.col("u").alias("a"), F.col("m").alias("b")))
        return out.where(F.col("a") != F.col("b")).distinct()

    global _LAST_STAR_ROUNDS
    rounds = 0
    for _ in range(max_iters):
        rounds += 1
        nxt = small_star(large_star(e)).localCheckpoint(eager=True)
        # fixed point = identical edge sets. Both frames are distinct,
        # so a signed-multiplicity aggregate (+1 for nxt, -1 for e,
        # keep sum != 0) computes the symmetric difference in ONE job
        # — half the per-round fixed-point cost of the former
        # two-directional exceptAll emptiness probes.
        changed = (
            nxt.withColumn("__s", F.lit(1))
            .unionByName(e.withColumn("__s", F.lit(-1)))
            .groupBy("a", "b")
            .agg(F.sum("__s").alias("__d"))
            .where(F.col("__d") != 0)
        )
        same = changed.isEmpty()
        e = nxt
        if same:
            break
    _LAST_STAR_ROUNDS = rounds

    # at the fixed point every edge is (leaf, center); centers and
    # singleton nodes label themselves
    leaf_labels = e.groupBy(F.col("a").alias("id")).agg(
        F.min("b").alias("label")
    )
    return (
        nodes.join(leaf_labels, "id", "left")
        .select(
            F.col("id").alias("doc_id"),
            F.coalesce("label", F.col("id")).alias("cluster_id"),
        )
    )


def dedup_clusters(
    pairs: DataFrame,
    *,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 20,
    algorithm: str = "hashmin",
) -> DataFrame:
    """Connected components over a near-duplicate pair list: the step
    that turns pairwise matches (minhash/simhash/embedding) into
    duplicate CLUSTERS so curation can keep one representative per
    group instead of dropping both ends of every pair.

    Hash-min label propagation: every node starts labeled with its own
    id; each round a node takes the min label across itself and its
    neighbors; at convergence the label is the component's minimum id,
    which doubles as the deterministic cluster representative.

    Output: ``(doc_id, cluster_id)`` for every id that appears in at
    least one pair (singletons are trivially their own cluster and are
    not materialized).

    Scale notes: rounds needed = component diameter, and near-dup
    clusters are quasi-cliques (diameter 1-2), so this converges in
    2-3 rounds of hash equi-joins — no driver-side graph. Each round
    ``localCheckpoint``s to truncate lineage. The hot loop is per-key
    (min-combiner) aggregation, so a hot node costs one skewed reduce
    key, not a cartesian blowup.

    ``algorithm='star'`` switches to large-star/small-star
    (:func:`_star_components`) for adversarial long-chain graphs:
    O(log n) alternations instead of diameter rounds, same output
    contract (labels are identical — both converge to the component
    minimum).
    """
    if algorithm == "star":
        return _star_components(pairs, id_a, id_b, max_iters)
    if algorithm != "hashmin":
        raise ValueError(f"unknown algorithm {algorithm!r}")
    from skylinemapreducehadoop_spark.operators._cache import persist_tracked

    # the symmetrizing union instantiates the pair subtree twice in one
    # plan — persist so an expensive upstream (minhash near-dup) is
    # evaluated once
    e = persist_tracked(pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst")))
    edges = e.union(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    edges = edges.localCheckpoint(eager=True)

    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint(eager=True)
    )

    for _ in range(max_iters):
        nbr = edges.join(labels, edges["dst"] == labels["id"]).select(
            edges["src"].alias("id"), F.col("label")
        )
        new_labels = (
            nbr.union(labels.select("id", "label"))
            .groupBy("id")
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=True)
        )
        improved = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .where(F.col("n.label") < F.col("o.label"))
        )
        labels = new_labels
        if improved.isEmpty():
            break

    return labels.select(F.col("id").alias("doc_id"), F.col("label").alias("cluster_id"))


def contamination_check(
    df: DataFrame,
    benchmark: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
) -> DataFrame:
    """Benchmark decontamination: for every training document, how many
    of its distinct token ``k``-grams also occur in a benchmark/eval
    corpus — the standard n-gram-overlap contamination test applied
    before training on scraped data.

    Output per document: ``n_grams`` (distinct k-grams), ``n_shared``
    (of those, how many appear anywhere in the benchmark), and
    ``contamination`` = n_shared / max(n_grams, 1). Documents with
    fewer than ``k`` tokens have 0 grams and contamination 0.

    Scale shape: the benchmark side reduces to its DISTINCT gram set
    (eval suites are tiny next to a 100 TB corpus) and is broadcast, so
    the per-gram probe is a broadcast semi-join — no shuffle of the
    corpus; the only wide op is the per-doc count aggregation, which is
    map-side combined. For a benchmark too big to broadcast, drop the
    hint and the same plan runs as a shuffled semi-join.
    """
    from ..functions.text import ngrams

    # NULL text would make the gram array NULL and F.size report -1
    # (DuckDB's equivalent reports 0) — coalesce to an empty array so
    # null documents read as "0 grams, contamination 0" on both engines
    grams = df.select(
        F.col(id_col),
        F.coalesce(
            F.array_distinct(ngrams(text_col, k)),
            F.array().cast("array<string>"),
        ).alias("__gs"),
    )
    bench_grams = (
        benchmark.select(F.explode(ngrams(text_col, k)).alias("__g"))
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    # ONE pass over the corpus grams: carry n_grams through an
    # explode_outer (gram-less docs survive as one NULL-gram row), mark
    # matches with a broadcast LEFT join against the benchmark gram set,
    # and fold per document. The former shape computed the gram arrays
    # TWICE (once for the shared-count explode, once for the n_grams
    # projection) and paid an extra corpus-keyed join to stitch them.
    ex = grams.select(
        id_col,
        F.size("__gs").alias("n_grams"),
        F.explode_outer("__gs").alias("__g"),
    )
    marked = ex.join(F.broadcast(bench_grams), "__g", "left")
    return marked.groupBy(id_col).agg(
        F.first("n_grams").alias("n_grams"),
        F.coalesce(F.sum("__hit"), F.lit(0)).cast("long").alias("n_shared"),
    ).select(
        id_col,
        "n_grams",
        "n_shared",
        (
            F.col("n_shared").cast("double")
            / F.greatest(F.col("n_grams"), F.lit(1)).cast("double")
        ).alias("contamination"),
    )


def setsim_join(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    threshold: float = 0.5,
    k: int = 3,
) -> DataFrame:
    """EXACT set-similarity self-join: all pairs (id_a < id_b) whose
    k-gram shingle sets have Jaccard >= threshold — same output
    contract as :func:`ngram_jaccard_pairs`, but scalable: prefix
    filtering (AllPairs / PPJoin, Bayardo et al. WWW'07 and Xiao et
    al. WWW'08 — public algorithms) replaces the all-pairs product
    with a hash equi-join on rare prefix tokens.

    Where :func:`minhash_near_dup` trades exactness for speed
    (probabilistic recall), this operator is exact: the prefix-filter
    lemma guarantees every qualifying pair is generated as a
    candidate. Under a global token order, if J(A,B) >= t then the
    first ``|S| - ceil(t*|S|) + 1`` tokens of each set (its *prefix*)
    must share at least one token — otherwise the intersection fits
    inside the suffix, which is too small to reach the threshold.

    Plan shape (all hash equi-joins, no cartesian):

    1. per-doc distinct shingle sets (JVM array expression);
    2. global token order = ascending document frequency — computed
       distributively as a (dfreq, token) SORT KEY, never a global
       rank (no vocabulary-sized single-partition sort);
    3. per-doc prefix = first p tokens under that order (``slice``);
    4. candidates: explode prefixes, self equi-join on the token with
       the size filter t*|A| <= |B| <= |A|/t (a Jaccard necessary
       condition), distinct pairs;
    5. exact Jaccard verify on the full sets (JVM array ops).

    Prefix tokens are the RAREST in the corpus, so the join key is
    skew-resistant by construction: a token shared by many documents
    has high dfreq and is pushed out of most prefixes. Data-sized join
    sides carry ``shuffle_hash`` pins (see :func:`minhash_near_dup`).

    Step 0 collapses IDENTICAL texts to one representative before any
    pairwise work (one narrow md5 groupBy) and expands pairs at the
    end: every stage then scales with DISTINCT texts, so duplicate-
    heavy corpora (the common case this operator exists for) can't
    quadratically inflate the candidate/verify joins — measured at the
    r6 10x probe: 50k docs / 5k distinct texts went from 230s to the
    distinct-corpus cost. Per-group member lists are bounded by the
    max duplicate multiplicity; a corpus where one text repeats m
    times necessarily emits the m(m-1)/2 intra-group pairs — that is
    output size, not intermediate blow-up.
    """
    src = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t"))
    groups = (
        src.groupBy(F.md5(F.coalesce(F.col("__t"), F.lit("\x00NULL")).cast("binary")).alias("__g"))
        .agg(
            F.min("id").alias("rid"),
            F.sort_array(F.collect_list("id")).alias("members"),
            F.first("__t").alias("__t"),
            F.count("*").alias("gsz"),
        )
    )
    groups = persist_tracked(groups)

    # the shingle sets feed three consumers (frequency pass, prefix
    # pass, verify joins) — cache so the regex shingling runs once,
    # same as minhash_near_dup caches its signatures
    sets = (
        groups.select(F.col("rid").alias("id"), shingles("__t", k).alias("sh"))
        .where(F.size("sh") > 0)
    )
    sets = persist_tracked(sets)

    tok = sets.select("id", F.explode("sh").alias("tok"))
    freq = tok.groupBy("tok").agg(F.count("*").alias("dfreq"))

    # sort each doc's tokens by (dfreq asc, token asc) — a total order
    # consistent across docs; struct sort_array compares field by field
    ordered = (
        tok.join(freq.hint("shuffle_hash"), "tok")
        .groupBy("id")
        .agg(F.sort_array(F.collect_list(F.struct("dfreq", "tok"))).alias("sts"))
        .select(
            "id",
            F.col("sts.tok").alias("toks"),
            F.size("sts").alias("sz"),
        )
    )
    prefix_len = (
        F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + F.lit(1)
    ).cast("int")
    # posexplode: `pos` (0-based) is the token's position in the doc's
    # FULL sorted order (the prefix IS the first p tokens), feeding the
    # PPJoin positional filter below
    px = ordered.select(
        "id",
        "sz",
        F.posexplode(F.slice("toks", F.lit(1), prefix_len)).alias("pos", "tok"),
    )

    left = px.alias("l")
    right = px.hint("shuffle_hash").alias("r")
    # PPJoin positional filter (Xiao et al. WWW'08, exact): a match at
    # 0-based positions (pa, pb) bounds the total overlap by
    # min(|A|-pa, |B|-pb) when it is the pair's FIRST common token, and
    # J >= t requires overlap >= t/(1+t) * (|A|+|B|). Filtering every
    # occurrence keeps a pair iff its loosest (first-match) bound
    # passes — the PPJoin candidate set exactly; every qualifying pair
    # survives via its first match. The 1e-9 slack only ever RELAXES
    # the bound (extra candidates re-checked by the exact verify), so
    # float rounding cannot drop a true pair. Measured: 309k -> ~3x
    # fewer candidate rows into the distinct + array-verify stages.
    ubound = F.least(
        F.col("l.sz") - F.col("l.pos"), F.col("r.sz") - F.col("r.pos")
    ).cast("double")
    required = F.lit(threshold) * (F.col("l.sz") + F.col("r.sz")).cast("double")
    cand = (
        left.join(
            right,
            (F.col("l.tok") == F.col("r.tok"))
            & (F.col("l.id") < F.col("r.id"))
            # length filter: J >= t forces min(|A|,|B|) >= t*max(|A|,|B|)
            & (F.col("r.sz") >= F.ceil(F.lit(threshold) * F.col("l.sz")))
            & (F.col("l.sz") >= F.ceil(F.lit(threshold) * F.col("r.sz")))
            & (ubound * F.lit(1.0 + threshold) + F.lit(1e-9) >= required),
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()
    )

    sh = sets.hint("shuffle_hash")
    # |A ∪ B| = |A| + |B| - |A ∩ B| (shingle arrays are distinct), so
    # the verify evaluates ONE array op per pair instead of two; the
    # intersect size gets its own select so CollapseProject cannot
    # inline the expensive expression into both consumers
    rep_pairs = (
        cand.join(
            sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a"
        )
        .join(
            sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b"
        )
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("sh_a", "sh_b")).alias("__i"),
            (F.size("sh_a") + F.size("sh_b")).alias("__ab"),
        )
        .withColumn(
            "jaccard",
            F.try_divide(
                F.col("__i").cast("double"), F.col("__ab") - F.col("__i")
            ),
        )
        .where(F.col("jaccard") >= F.lit(threshold))
        .select("id_a", "id_b", "jaccard")
    )

    # expand representative pairs to member pairs (output-sized
    # explodes); id order re-normalized because a member of the
    # lower-rep group can have a larger id than a member of the other
    mem = groups.select("rid", "members")
    cross = (
        rep_pairs.join(
            mem.select(F.col("rid").alias("id_a"), F.col("members").alias("__ma")),
            "id_a",
        )
        .join(
            mem.select(F.col("rid").alias("id_b"), F.col("members").alias("__mb")),
            "id_b",
        )
        .select("jaccard", F.explode("__ma").alias("a"), "__mb")
        .select("jaccard", "a", F.explode("__mb").alias("b"))
        .select(
            F.least("a", "b").alias("id_a"),
            F.greatest("a", "b").alias("id_b"),
            "jaccard",
        )
    )
    # intra-group pairs: identical texts have Jaccard exactly 1.0;
    # empty-shingle groups (docs shorter than k tokens) are excluded,
    # matching the brute-force twin's NULL-division semantics
    intra = (
        groups.where(F.col("gsz") > 1)
        .join(sets.select(F.col("id").alias("rid")), "rid", "left_semi")
        .select(F.explode("members").alias("a"), "members")
        .select("a", F.explode("members").alias("b"))
        .where(F.col("a") < F.col("b"))
        .select(
            F.col("a").alias("id_a"),
            F.col("b").alias("id_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    return cross.union(intra)


def contamination_check_fuzzy(
    df: DataFrame,
    benchmark: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    k: int = 3,
    n_perm: int = 128,
    rows_per_band: int = 2,
    seed: int = 42,
) -> DataFrame:
    """FUZZY benchmark decontamination: for every training document,
    the maximum exact-Jaccard shingle overlap with ANY benchmark
    document, reported when it clears ``threshold`` — the
    document-level near-duplicate complement of the exact k-gram
    :func:`contamination_check` (a lightly edited eval document slips
    past gram counting thresholds but not a 0.5+ Jaccard test).

    Contract: ``max_eval_jaccard`` is the max over pairs AT OR ABOVE
    threshold (0.0 when none) and ``contaminated`` flags any such
    pair. Scoped this way the output is deterministic: at these band
    settings LSH recall at the threshold is 1.0 in practice (the same
    property the `dedup_minhash_documents` oracle hash proves every
    round), while sub-threshold pairs — where bucket collisions ARE
    probabilistic — never influence the output.

    Scale shape: the benchmark side (eval suites — tiny next to the
    corpus) broadcasts into the band equi-join and the verify join;
    the corpus never self-joins and never shuffles its text. Output:
    (id_col, max_eval_jaccard, contaminated).
    """
    # Both signature frames are materialized once via localCheckpoint:
    # (a) a broadcast build side cannot evaluate a Python UDF, so the
    # benchmark's Arrow signature stage must run before its exchange;
    # (b) the corpus signatures are consumed TWICE (band generation +
    # shingle verification) over the same source as the final
    # join-back — Spark's self-join relation dedup re-aliases such
    # shared subtrees in a way that strands the signature UDF outside
    # an ArrowEvalPython node (runtime INTERNAL_ERROR). Materializing
    # once is the same cost class as minhash_near_dup's signature
    # cache: one pass over each input.
    # fan the corpus out before the EAGER signature materialization: a
    # single-split scan runs the whole Arrow signature UDF on one core
    # before anything downstream can start (measured 2x on the full
    # operator at sf0.1: 7.6 -> 3.6s). The near-dup path's lazy .cache()
    # keeps its size-gated fan-out (_fan_out_narrow_scan) — there the
    # extra exchange measurably hurts small corpora; here the checkpoint
    # pays the parse exactly once either way.
    from skylinemapreducehadoop_spark.operators._cache import fan_out

    c_sigs = minhash_signatures(
        fan_out(df), id_col, text_col, k=k, n_perm=n_perm, seed=seed
    ).localCheckpoint(eager=True)
    b_sigs = minhash_signatures(
        benchmark, id_col, text_col, k=k, n_perm=n_perm, seed=seed
    ).localCheckpoint(eager=True)
    c_bands = band_keys(c_sigs, n_perm=n_perm, rows_per_band=rows_per_band)
    b_bands = band_keys(b_sigs, n_perm=n_perm, rows_per_band=rows_per_band)
    cand = (
        c_bands.alias("c")
        .join(
            F.broadcast(b_bands).alias("b"),
            (F.col("c.band") == F.col("b.band")) & (F.col("c.bh") == F.col("b.bh")),
        )
        .select(F.col("c.id").alias("cid"), F.col("b.id").alias("bid"))
        .distinct()
    )
    scored = (
        # shuffle_hash: the corpus signature frame is data-sized and
        # carries the Python signature UDF — it must neither broadcast
        # at volume nor have its UDF planned inside a broadcast build
        cand.join(
            c_sigs.select(
                F.col("id").alias("cid"), F.col("shingles").alias("csh")
            ).hint("shuffle_hash"),
            "cid",
        )
        .join(
            F.broadcast(
                b_sigs.select(
                    F.col("id").alias("bid"), F.col("shingles").alias("bsh")
                )
            ),
            "bid",
        )
        .withColumn(
            "__j",
            F.try_divide(
                F.size(F.array_intersect("csh", "bsh")).cast("double"),
                F.size(F.array_union("csh", "bsh")),
            ),
        )
        .where(F.col("__j") >= F.lit(threshold))
        .groupBy("cid")
        .agg(F.max("__j").alias("__mx"))
    )
    return (
        df.select(F.col(id_col))
        .join(scored, F.col(id_col) == F.col("cid"), "left")
        .select(
            id_col,
            F.coalesce("__mx", F.lit(0.0)).alias("max_eval_jaccard"),
            F.col("__mx").isNotNull().alias("contaminated"),
        )
    )


def _empty_text(text_col: str):
    """NULL or whitespace-only text (whitespace tokenization of such a
    document would yield the degenerate [''] token array)."""
    return F.col(text_col).isNull() | (F.trim(F.col(text_col)) == "")


def segment_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    width: int = 10,
    mode: str = "aligned",
) -> DataFrame:
    """Corpus-level exact SEGMENT dedup: split every document into
    token segments, keep only the globally-first occurrence of each
    distinct segment (first = minimum (doc_id, position) —
    deterministic under any partitioning), and rebuild each document
    from its surviving segments in order.

    This is the sub-document exact-dedup pass of LLM data curation
    (cf. Lee et al., "Deduplicating Training Data Makes Language
    Models Better", ACL'22 — boilerplate/template text repeats across
    pages whose full documents are unique, so document-level
    :func:`exact_dedup` misses it).

    Two segmentation modes:

    - ``aligned`` — consecutive fixed-``width`` segments from position
      0. Cheapest (no window), but POSITION-aligned: the same
      boilerplate shifted by one token produces entirely different
      segments and escapes (the Lee et al. repeats are unaligned).
    - ``cdc`` — content-defined chunking: a segment boundary opens at
      every ANCHOR token (60-bit md5 of the token ≡ 0 mod ``width``;
      expected segment length = ``width``). Boundaries depend only on
      token CONTENT, so a repeated run yields identical interior
      segments at ANY offset — the shift-robust mode (the same
      boundary-from-content idea as Rabin/gear chunking in dedup
      storage systems, re-expressed as one running-sum window).
      Segment ids come from a per-document running sum of anchor
      flags — one window shuffle on doc_id, bounded by document size.

    The suffix-array formulation of the paper is replaced by a segment
    hash — the shape that distributes: one explode, one groupBy on the
    segment (the content-hash shuffle, map-side combined via
    min(struct)), one equi-join back, one per-doc re-aggregation.

    Output: (doc_id, clean_text, n_segments, n_kept). Documents whose
    every segment already appeared earlier keep an empty clean_text.

    Empty-document contract (both modes, same result): a document whose
    text is NULL or whitespace-only yields ``(doc_id, '', 0, 0)`` — it
    stays in the output (it is a document of the corpus) but contributes
    no segments (whitespace tokenization of '' would otherwise produce a
    single '' token, and the two modes used to diverge: aligned emitted
    one empty segment while cdc dropped the row entirely).
    """
    if mode == "cdc":
        return _segment_dedup_cdc(df, id_col, text_col, width=width)
    if mode != "aligned":
        raise ValueError(f"mode must be 'aligned' or 'cdc', got {mode!r}")
    from ..functions.text import tokens

    def _segments(t: Column) -> Column:
        nseg = F.greatest(
            F.ceil(F.size(t) / F.lit(width)).cast("int"), F.lit(1)
        )
        return F.transform(
            F.sequence(F.lit(1), nseg),
            lambda i: F.concat_ws(
                " ", F.slice(t, (i - F.lit(1)) * F.lit(width) + F.lit(1), width)
            ),
        )

    # bind the token array before the per-segment loop (the ngrams()
    # O(n^2) re-tokenization hazard — see functions.text.ngrams)
    seg_arr = F.element_at(
        F.transform(F.array(tokens(text_col)), _segments), 1
    )
    seg_arr = F.when(_empty_text(text_col), F.array().cast("array<string>")).otherwise(
        seg_arr
    )
    segs = df.select(
        F.col(id_col).alias("id"), F.posexplode(seg_arr).alias("pos", "seg")
    )

    first = segs.groupBy("seg").agg(F.min(F.struct("id", "pos")).alias("first"))
    kept = (
        segs.join(first.hint("shuffle_hash"), "seg")
        .where(
            (F.col("id") == F.col("first.id")) & (F.col("pos") == F.col("first.pos"))
        )
        .select("id", "pos", "seg")
    )
    rebuilt = kept.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "seg"))),
                lambda s: s["seg"],
            ),
            " ",
        ).alias("clean_text"),
        F.count("*").alias("n_kept"),
    )
    totals = df.select(
        F.col(id_col).alias("id"), F.size(seg_arr).alias("n_segments")
    )
    return (
        totals.join(rebuilt, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            "n_segments",
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
        )
    )


def _segment_dedup_cdc(
    df: DataFrame, id_col: str, text_col: str, *, width: int
) -> DataFrame:
    """Content-defined segmentation (see :func:`segment_dedup`,
    mode='cdc'). Anchor predicate = 60-bit md5(token) % width == 0 —
    the md5-hex construction both engines share, so the DuckDB oracle
    reproduces boundaries bit-for-bit. Empty/NULL-text docs contribute
    no tokens but are re-attached by the final left join from ``df``
    as (id, '', 0, 0) — the same contract as mode='aligned'."""
    from pyspark.sql import Window

    from ..functions.text import tokens

    toks = df.where(~_empty_text(text_col)).select(
        F.col(id_col).alias("id"),
        F.posexplode(tokens(text_col)).alias("pos", "tok"),
    )
    anchor = (
        F.conv(F.substring(F.md5(F.col("tok").cast("binary")), 1, 15), 16, 10)
        .cast("long")
        % F.lit(width)
        == 0
    )
    w = Window.partitionBy("id").orderBy("pos")
    seg_tok = toks.withColumn("__seg", F.sum(anchor.cast("int")).over(w))
    segs = seg_tok.groupBy("id", "__seg").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("seg"),
        F.min("pos").alias("pos"),
    )
    first = segs.groupBy("seg").agg(F.min(F.struct("id", "pos")).alias("first"))
    kept = (
        segs.join(first.hint("shuffle_hash"), "seg")
        .where(
            (F.col("id") == F.col("first.id")) & (F.col("pos") == F.col("first.pos"))
        )
        .select("id", "pos", "seg")
    )
    rebuilt = kept.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "seg"))),
                lambda s: s["seg"],
            ),
            " ",
        ).alias("clean_text"),
        F.count("*").alias("n_kept"),
    )
    seg_counts = segs.groupBy("id").agg(F.count("*").cast("int").alias("__nseg"))
    # left join back to df ids so zero-token documents survive with
    # n_segments = 0 instead of vanishing from the output
    totals = (
        df.select(F.col(id_col).alias("id"))
        .join(seg_counts, "id", "left")
        .select("id", F.coalesce("__nseg", F.lit(0)).cast("int").alias("n_segments"))
    )
    return (
        totals.join(rebuilt, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            "n_segments",
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
        )
    )


def golden_records(
    df: DataFrame,
    cluster_col: str,
    fields: Sequence[str],
) -> DataFrame:
    """Survivorship: collapse each duplicate cluster to one canonical
    ("golden") record — per field the most frequent non-NULL value,
    ties broken by the smallest value. The missing half of entity
    resolution: ``dedup_clusters``/``entity resolution`` find the
    clusters, this picks what survives. Returns one row per cluster
    with ``cluster_col`` + one STRING column per field (values are
    cast — mixed source types unify into the stacked frame; cast back
    downstream if needed).

    Execution shape: ONE pass — an explode over an array-of-structs
    melts the |fields| columns into (cluster, field, value) rows
    JVM-side (built with Column expressions, never an interpolated SQL
    string — a field named ``wei`rd`` or ``it's`` melts fine), one
    hash aggregate counts value votes, a window ranked by (votes desc,
    value) keeps the winner, and an explicit-values pivot reassembles
    columns (explicit list => no extra distinct-scan job). The window
    partitions are (cluster, field) — bounded by votes per cluster,
    never corpus-wide, so no skew at any scale. A cluster whose field
    is entirely NULL yields NULL for it, and a cluster ALL of whose
    fields are NULL still appears (all-NULL row) — the final left join
    runs against the distinct cluster ids, not the vote survivors.
    """
    if not fields:
        raise ValueError("fields must be non-empty")
    # toDF to positional safe names first: column REFERENCES below then
    # never parse a user-supplied name (backticks, quotes, dots are all
    # data, not syntax); the original names come back via toDF at the end
    idx = {c: i for i, c in enumerate(df.columns)}
    sdf = df.toDF(*[f"__gr{i}" for i in range(len(df.columns))])
    ref = lambda name: F.col(f"__gr{idx[name]}")  # noqa: E731
    melt = F.array(
        *[
            F.struct(
                F.lit(f).alias("__field"),
                ref(f).cast("string").alias("__value"),
            )
            for f in fields
        ]
    )
    stacked = (
        sdf.select(ref(cluster_col).alias("__c"), F.explode(melt).alias("__p"))
        .select("__c", "__p.__field", "__p.__value")
        .where(F.col("__value").isNotNull())
    )
    counts = stacked.groupBy("__c", "__field", "__value").agg(
        F.count(F.lit(1)).alias("__votes")
    )
    win = Window.partitionBy("__c", "__field").orderBy(
        F.desc("__votes"), F.asc("__value")
    )
    best = (
        counts.withColumn("__rn", F.row_number().over(win))
        .where(F.col("__rn") == 1)
        .select("__c", "__field", "__value")
    )
    piv = (
        best.groupBy("__c")
        .pivot("__field", list(fields))
        .agg(F.first("__value"))
        # explicit-values pivot emits columns in list order — rename
        # positionally so the join/select never parse a hostile name
        .toDF("__c", *[f"__grv{i}" for i in range(len(fields))])
    )
    clusters = sdf.select(ref(cluster_col).alias("__c")).distinct()
    return (
        clusters.join(piv, "__c", "left")
        .select("__c", *[f"__grv{i}" for i in range(len(fields))])
        .toDF(cluster_col, *fields)
    )


def novelty_score(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Per-document n-gram novelty: of a document's DISTINCT token
    k-grams, what share occurs in NO other document? High novelty =
    unique content; low = boilerplate shared across the corpus — the
    self-corpus complement of ``contamination_check`` and a standard
    curation signal for upweighting original material. Returns
    (id, n_grams, n_unique, novelty = n_unique / max(n_grams, 1)).

    Scale shape: explode distinct (gram, doc) pairs once, aggregate
    the gram's document frequency (map-side combined; the shuffle
    carries one row per distinct gram-per-doc), then count each doc's
    df==1 grams. Grams travel as 64-bit xxhash values, never strings —
    at 100 TB the shuffle is 16 bytes/row, and a hash collision can
    only MERGE two gram identities (novelty is then conservatively
    lower; at d distinct grams the expected collision count ~d²/2⁶⁵).
    The oracle twin hashes identically (xxhash64 is the engine's
    public hash, reproduced in DuckDB via the generated-SQL trick used
    for SimHash) — or compares on raw gram strings at test scale.
    """
    grams = (
        df.select(
            F.col(id_col),
            F.explode(
                F.coalesce(
                    F.array_distinct(ngrams(text_col, k)),
                    F.array().cast("array<string>"),
                )
            ).alias("__g"),
        )
        .select(id_col, F.xxhash64("__g").alias("__h"))
        # cached: the corpus-sized explode+hash feeds BOTH the df
        # aggregate and the join probe side, and the two subtrees
        # shuffle differently so ReusedExchange cannot dedup them —
        # without this the dominant stage runs twice (cf. simhash)
    )
    grams = persist_tracked(grams)
    gram_df = grams.groupBy("__h").agg(
        F.count(F.lit(1)).alias("__df")
    )
    per_doc = (
        grams.join(gram_df.hint("shuffle_hash"), "__h")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum((F.col("__df") == 1).cast("long")).alias("n_unique"),
        )
    )
    base = df.select(id_col)
    return base.join(per_doc, id_col, "left").select(
        id_col,
        F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
        F.coalesce("n_unique", F.lit(0)).alias("n_unique"),
        (
            F.coalesce("n_unique", F.lit(0)).cast("double")
            / F.greatest(F.coalesce("n_grams", F.lit(0)), F.lit(1)).cast("double")
        ).alias("novelty"),
    )


def containment_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    k: int = 3,
    max_gram_df: int | None = None,
) -> DataFrame:
    """Near-dup pairs by k-gram set CONTAINMENT: |A ∩ B| / min(|A|,|B|).

    Jaccard misses length-skewed duplication — a paragraph pasted into
    a 100× longer page scores near 0 Jaccard but 1.0 containment — so
    curation pipelines screen with both (containment is the membership
    test LSH Ensemble / asymmetric minhash approximate). Returns
    (id_a, id_b, n_a, n_b, shared, containment) for pairs at or above
    ``threshold``, with id_a < id_b.

    Scale shape: one distinct-(gram, doc) explode with grams shuffled
    as 64-bit xxhash values (16 B/row — the ``novelty_score``
    discipline), candidate pairs generated through the inverted index
    (a self-join on the gram hash — cost is sum of squared gram
    document frequencies, NOT |docs|²), one count aggregate per pair,
    then two vocabulary-keyed joins back to per-doc gram counts.
    ``max_gram_df`` optionally drops grams above a document-frequency
    ceiling before pair generation — the standard stop-gram guard that
    bounds the quadratic term at corpus scale; it is OFF by default
    because dropping grams can only LOWER a pair's observed overlap
    (exactness trade documented, mirrored by no oracle when enabled).
    A gram-hash collision can only raise overlap by ~d²/2⁶⁵ pairs —
    negligible, same analysis as ``novelty_score``.
    """
    grams = (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(
                F.coalesce(
                    F.array_distinct(ngrams(text_col, k)),
                    F.array().cast("array<string>"),
                )
            ).alias("__g"),
        )
        .select("id", F.xxhash64("__g").alias("__h"))
    )
    grams = persist_tracked(grams)
    if max_gram_df is not None:
        keep = grams.groupBy("__h").agg(F.count(F.lit(1)).alias("__df"))
        keep = keep.where(F.col("__df") <= max_gram_df).select("__h")
        grams = grams.join(keep.hint("shuffle_hash"), "__h")
    sizes = grams.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    a = grams.select(F.col("id").alias("id_a"), "__h")
    b = grams.select(F.col("id").alias("id_b"), "__h")
    shared = (
        a.join(b, "__h")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    na = sizes.select(F.col("id").alias("id_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col("id").alias("id_b"), F.col("n").alias("n_b"))
    return (
        shared.join(na.hint("shuffle_hash"), "id_a")
        .join(nb.hint("shuffle_hash"), "id_b")
        .select(
            "id_a",
            "id_b",
            "n_a",
            "n_b",
            "shared",
            (
                F.col("shared").cast("double")
                / F.least("n_a", "n_b").cast("double")
            ).alias("containment"),
        )
        .where(F.col("containment") >= F.lit(threshold))
    )


def boilerplate_segments(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    width: int = 8,
    min_docs: int = 3,
) -> DataFrame:
    """Corpus-level boilerplate detection: find token segments that
    repeat across at least ``min_docs`` DISTINCT documents — the
    line-frequency pass of web-corpus curation (CCNet removes lines
    duplicated across shards; RefinedWeb/Gopher strip headers,
    cookie banners and nav text the same way). The reference corpus
    ships single-line documents, so "line" is generalized to the
    aligned fixed-``width`` token segment used by
    :func:`segment_dedup`; on documents with newlines the caller can
    split first and feed one line per row.

    Output: one row per flagged segment — (segment, doc_freq,
    first_doc) with ``doc_freq`` = number of distinct documents
    containing the segment and ``first_doc`` the smallest such doc id
    (a stable exemplar for audit).

    Scale shape: one explode to (segment, doc) pairs, a per-doc
    ``distinct`` (map-side combined — a segment repeated inside one
    doc counts once), one groupBy on the segment. The shuffle carries
    (≤``width``-token segment, id) pairs — bounded per input token,
    the same cost class as :func:`segment_dedup`'s first-occurrence
    groupBy. The flagged frame is doc-frequency-filtered, i.e. tiny
    relative to the corpus by construction (boilerplate is the fat
    head of the segment-frequency distribution).
    """
    seg_arr = _aligned_segment_array(text_col, width)
    segs = df.select(
        F.col(id_col).alias("id"), F.explode(seg_arr).alias("segment")
    ).distinct()
    return (
        segs.groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("doc_freq"),
            F.min("id").alias("first_doc"),
        )
        .where(F.col("doc_freq") >= F.lit(min_docs))
    )


def strip_boilerplate(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    width: int = 8,
    min_docs: int = 3,
) -> DataFrame:
    """Remove corpus-level boilerplate segments (see
    :func:`boilerplate_segments`) from every document and rebuild the
    text — the strip half of the CCNet line-frequency pass.

    Output: (doc_id, clean_text, n_segments, n_flagged) for every
    input document; ``clean_text`` is the document rebuilt from its
    surviving segments in original order ('' when everything was
    boilerplate or the text was empty/NULL), ``n_flagged`` counts
    removed segments.

    Scale shape: the segment explode happens once and is reused for
    both the frequency pass and the strip (same lineage, Spark reuses
    the exchange); the flagged set joins back by segment equi-join
    (AQE broadcasts it when small — it is doc-frequency-filtered).
    Per-doc rebuild is one groupBy with a sorted collect_list bounded
    by document size, as any order-preserving reassembly must be.
    """
    seg_arr = _aligned_segment_array(text_col, width)
    segs = df.select(
        F.col(id_col).alias("id"), F.posexplode(seg_arr).alias("pos", "segment")
    )
    flagged = (
        segs.select("id", "segment")
        .distinct()
        .groupBy("segment")
        .agg(F.count(F.lit(1)).alias("__df"))
        .where(F.col("__df") >= F.lit(min_docs))
        .select("segment")
    )
    marked = segs.join(flagged.withColumn("__flag", F.lit(1)), "segment", "left")
    rebuilt = marked.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.when(
                            F.col("__flag").isNull(),
                            F.struct("pos", "segment"),
                        )
                    )
                ),
                lambda s: s["segment"],
            ),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_segments"),
        F.sum(F.coalesce("__flag", F.lit(0))).alias("n_flagged"),
    )
    base = df.select(F.col(id_col).alias("id"))
    return base.join(rebuilt, "id", "left").select(
        F.col("id").alias(id_col),
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        F.coalesce("n_segments", F.lit(0)).cast("long").alias("n_segments"),
        F.coalesce("n_flagged", F.lit(0)).cast("long").alias("n_flagged"),
    )


def _aligned_segment_array(text_col: str, width: int) -> Column:
    """Aligned fixed-width token segments as an array column — the
    :func:`segment_dedup` segmentation (empty/NULL text => empty
    array), shared by the boilerplate pass. The token array is bound
    once before the per-segment loop (the ngrams() O(n^2)
    re-tokenization hazard — see functions.text.ngrams)."""

    def _segments(t: Column) -> Column:
        nseg = F.greatest(
            F.ceil(F.size(t) / F.lit(width)).cast("int"), F.lit(1)
        )
        return F.transform(
            F.sequence(F.lit(1), nseg),
            lambda i: F.concat_ws(
                " ", F.slice(t, (i - F.lit(1)) * F.lit(width) + F.lit(1), width)
            ),
        )

    seg_arr = F.element_at(
        F.transform(F.array(tokens(text_col)), _segments), 1
    )
    return F.when(
        _empty_text(text_col), F.array().cast("array<string>")
    ).otherwise(seg_arr)


def dedup_threshold_sweep(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    thresholds: "Sequence[float]" = (0.5, 0.6, 0.7, 0.8, 0.9, 1.0),
    k: int = 3,
) -> DataFrame:
    """Dedup threshold tuning curve: exact near-dup pair and touched-
    document counts at EACH Jaccard threshold, from ONE
    :func:`setsim_join` pass at the loosest threshold — the "how much
    does the corpus shrink as the knob tightens" table a pipeline
    builds before committing to a dedup setting. Choosing a threshold
    by rerunning the full join per candidate value is the naive
    approach; the sweep reuses the one exact pass (every pair
    qualifying at t' >= t_min is in the t_min output by Jaccard
    monotonicity) and turns the rest into an aggregate.

    Returns (threshold, n_pairs, n_docs) per threshold — n_docs the
    DISTINCT documents participating in at least one qualifying pair.
    Thresholds with zero qualifying pairs emit no row (the oracle twin
    builds the same inner join). Plan: ONE aggregate over ONE setsim
    subtree — each qualifying pair explodes to its 2 endpoints per
    threshold, so n_pairs = count/2 (exact, the row count is even by
    construction) and n_docs = count distinct endpoint ride the same
    hash agg. Two separate aggregate branches would make Spark compute
    the expensive pair join twice (subtrees are not deduplicated
    across a join of two aggregations — measured 2x at sf0.1).
    """
    t_min = min(thresholds)
    pairs = setsim_join(
        df, id_col, text_col, threshold=t_min, k=k
    )
    th = F.explode(
        F.array(*[F.lit(float(t)) for t in sorted(thresholds)])
    ).alias("threshold")
    ends = (
        pairs.select("id_a", "id_b", "jaccard", th)
        .where(F.col("jaccard") >= F.col("threshold"))
        .select(
            "threshold", F.explode(F.array("id_a", "id_b")).alias("__doc")
        )
    )
    return (
        ends.groupBy("threshold")
        .agg(
            (F.count(F.lit(1)) / 2).cast("long").alias("n_pairs"),
            F.countDistinct("__doc").alias("n_docs"),
        )
        .orderBy("threshold")
    )
