"""Deduplication operators for large-scale (100 TB) document pipelines.

Not present in the reference (SURVEY.md §2.7) — these are the north-star
extension operators. The only dedup machinery the reference has is
drop_sorted_duplicates_keep_last (/root/reference/plateau/utils/pandas.py:178-249),
re-expressed here as a window rank; everything else is new work.

Design rules for scale:
  - everything is DataFrame → DataFrame, no driver-side state
  - JVM-side built-ins only (whole-stage codegen); no Python UDFs
  - shuffles are keyed on high-cardinality hashes (no skew hot-spots);
    LSH banding turns the quadratic all-pairs problem into
    groupBy(band-signature) — each bucket is tiny, AQE handles stragglers
"""

from __future__ import annotations

from typing import Sequence

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from plateau_spark.core.caching import (
    estimated_bytes,
    persist_shared,
    release_local_checkpoint,
)
from plateau_spark.core.exprs import bind_col


def _orderable(dt) -> bool:
    """True when Spark can ORDER BY this type (struct comparison)."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    if isinstance(dt, MapType):
        return False
    if isinstance(dt, ArrayType):
        return _orderable(dt.elementType)
    if isinstance(dt, StructType):
        return all(_orderable(f.dataType) for f in dt.fields)
    return True


def _pick_one_per_group(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[str],
    *,
    descending: bool,
) -> DataFrame:
    """One row per ``keys`` group: the lexicographic min (or max, for
    ``descending``) over ``order_by`` then the remaining columns.

    Implemented as ``groupBy(keys).agg(min/max(struct(...)))`` — a REAL
    aggregate with map-side partial combine — NOT a
    ``row_number().over(Window)``: a window puts every row of one key
    into a single task's sort, so a globally hot key (one fingerprint
    duplicated corpus-wide, one ubiquitous boilerplate digest) becomes a
    straggler holding corpus-scale rows at 100 TB. The aggregate shrinks
    hot keys to one candidate row per map task before the exchange —
    the same fix the paragraph-dedup first-occurrence step uses.

    Including the remaining columns in the struct makes the pick a
    deterministic TOTAL order (the window version breaks order_by ties
    by partition layout — run-dependent). Requires every carried column
    to be orderable; callers fall back to the window for map-typed rows.
    """
    keys = list(keys)
    lead = list(dict.fromkeys(list(order_by) + [c for c in df.columns if c not in keys]))
    lead = [c for c in lead if c not in keys]
    agg_fn = F.max if descending else F.min
    agg = df.groupBy(*keys).agg(
        agg_fn(F.struct(*[F.col(c) for c in lead])).alias("__w__")
    )
    return agg.select(
        *[
            F.col(c) if c in keys else F.col("__w__")[c].alias(c)
            for c in df.columns
        ]
    )


def exact_dedup(
    df: DataFrame,
    subset: Sequence[str],
    *,
    tie_breaker: str | None = None,
) -> DataFrame:
    """Exact dedup on ``subset``; deterministically keeps the row with the
    smallest ``tie_breaker``.

    With no tie_breaker this is ``dropDuplicates`` (keeps an arbitrary
    row — fine when rows are identical on all columns). With one, the
    pick is a min-struct AGGREGATE (map-side combined, hot-key safe at
    100 TB — see ``_pick_one_per_group``); rows unorderable as structs
    (map columns) fall back to the single-task-per-key window.
    """
    if tie_breaker is None:
        return df.dropDuplicates(list(subset))
    carried = [c for c in df.columns if c not in subset]
    if all(_orderable(df.schema[c].dataType) for c in carried):
        return _pick_one_per_group(df, subset, [tie_breaker], descending=False)
    w = Window.partitionBy(*subset).orderBy(F.col(tie_breaker).asc())
    return (
        df.withColumn("__rn__", F.row_number().over(w))
        .where(F.col("__rn__") == 1)
        .drop("__rn__")
    )


def drop_duplicates_keep_last(
    df: DataFrame, keys: Sequence[str], order_by: Sequence[str]
) -> DataFrame:
    """Keep the LAST row per key in ``order_by`` order.

    Reference semantics: drop_sorted_duplicates_keep_last
    (plateau/utils/pandas.py:178-249) — there, per-sorted-partition in
    pandas; here distributed, so it holds across partitions, not just
    within one file. The pick is a max-struct AGGREGATE (map-side
    combined — a hot key never lands corpus-scale rows in one task's
    window sort; see ``_pick_one_per_group``), with a window fallback
    for rows carrying unorderable (map) columns.
    """
    carried = [c for c in df.columns if c not in keys]
    if all(_orderable(df.schema[c].dataType) for c in carried):
        return _pick_one_per_group(df, keys, list(order_by), descending=True)
    w = Window.partitionBy(*keys).orderBy(*[F.col(c).desc() for c in order_by])
    return (
        df.withColumn("__rn__", F.row_number().over(w))
        .where(F.col("__rn__") == 1)
        .drop("__rn__")
    )


# ---------------------------------------------------------------------------
# shingling (shared by MinHash / n-gram Jaccard / SimHash)
# ---------------------------------------------------------------------------


def tokens_col(text_col: str) -> F.Column:
    """Lowercased word tokens (JVM regex split, codegen'd)."""
    return F.split(F.lower(F.trim(F.col(text_col))), r"[^\p{L}\p{N}]+")


def _ensure_parallelism(df: DataFrame, *, bytes_per_slot: int = 64 << 10) -> DataFrame:
    """Round-robin repartition when the input has fewer partitions than
    the compute deserves. Shingling/minhash cost is per-DOCUMENT
    compute, not per-byte I/O: a small-file input (1 partition) would
    run the whole expression tree on one core.

    The target is sized from the optimizer's byte estimate (parquet
    bytes; ~64 KiB/slot because shingle/minhash compute per byte is
    ~100× scan cost) rather than pinned to ``defaultParallelism``:
    measured on 5k short docs, fanning tiny Arrow batches across all 32
    slots costs more in task/GC overhead than it buys (0.5s at 8 parts
    vs 3.4s at 32 — the interpreted minhash HOF allocates heavily and
    32 concurrent tasks thrash one JVM's GC). At real scale the input
    already has ≥ slots partitions and this whole function is a no-op —
    checking the plan's partitioning costs no job."""
    sc = df.sparkSession.sparkContext
    slots = sc.defaultParallelism
    est_bytes = estimated_bytes(df)
    if est_bytes is None:
        est_bytes = bytes_per_slot * slots
    target = max(1, min(slots, est_bytes // bytes_per_slot))
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def shingles_col(text_col: str, n: int = 3) -> F.Column:
    """Distinct word n-gram shingles as an array<string> column.

    Built from array functions only: slide an index sequence over the
    token array and join each window. The token array is bound once per
    row (``core.exprs.bind_col``) — referenced inline it re-tokenized
    per shingle position, O(len²). Still interpreted (not codegen'd);
    the hottest paths use ``shingled_frame`` (Arrow-batched pandas UDF)
    which produces identical arrays.
    """
    return bind_col(
        F.filter(tokens_col(text_col), lambda t: t != ""),
        lambda toks: F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
                lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
            )
        ),
    )


# \w+underscore-split ≡ the JVM/DuckDB [^\p{L}\p{N}]+ tokenizer: \w is
# letters+digits+underscore, and the `_+` alternative strips underscores.
_TOKEN_SPLIT_RE = None  # compiled lazily on the executor


def _shingle_texts(texts, n: int):
    """Pure-Python twin of shingles_col (same output, incl. the
    degenerate short/empty-text single-shingle case)."""
    global _TOKEN_SPLIT_RE
    import re

    if _TOKEN_SPLIT_RE is None:
        _TOKEN_SPLIT_RE = re.compile(r"[^\w]+|_+", re.UNICODE)
    out = []
    for t in texts:
        toks = [w for w in _TOKEN_SPLIT_RE.split(t.strip().lower()) if w]
        if len(toks) <= n:
            out.append([" ".join(toks)])
        else:
            out.append(
                list(dict.fromkeys(" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)))
            )
    return out


_SHINGLE_UDFS: dict = {}
_FUSED_UDFS: dict = {}


def _perm_multipliers(num_perm: int):
    """Deterministic odd 64-bit multipliers for the multiply-shift
    minhash family (Dietzfelbinger universal hashing: h_a(x) = a·x mod
    2^64 with odd a). No modulo in the hot loop — wraparound u64
    multiply is the whole hash."""
    import numpy as np

    rng = np.random.RandomState(0x5EED)
    # explicit dtype: the platform default int is 32-bit on some systems
    # (Windows), where randint(0, 1<<62) without it raises ValueError
    draws = rng.randint(0, 1 << 62, num_perm, dtype=np.int64)
    return (draws.astype(np.uint64) << np.uint64(1)) | np.uint64(1)


def _fused_shingle_minhash_udf(n: int, num_perm: int):
    """One Arrow-batched pass: text → (shingles, minhash signature).

    Shingle hashing is pandas ``hash_array`` (keyed siphash — fixed key,
    deterministic across executors); permutations are multiply-shift.
    The (num_perm × total_shingles) product matrix is computed in blocks
    of 8 permutations so per-batch scratch stays ~8·8B·shingles
    regardless of num_perm. Measured vs the interpreted-HOF JVM
    signature: ~3× less CPU and one fewer pass over the data."""
    key = (n, num_perm)
    if key not in _FUSED_UDFS:

        @pandas_udf(f"struct<sh: array<string>, sig: array<long>>")
        def _fused(texts: pd.Series) -> pd.DataFrame:
            import numpy as np
            from pandas.util import hash_array

            sh = _shingle_texts(texts, n)
            if not sh:
                return pd.DataFrame({"sh": [], "sig": []})
            lens = np.fromiter((len(s) for s in sh), dtype=np.int64, count=len(sh))
            flat = np.concatenate([np.asarray(s, dtype=object) for s in sh])
            h = hash_array(flat)  # uint64, deterministic (fixed sip key)
            mults = _perm_multipliers(num_perm)
            offs = np.zeros(len(lens), dtype=np.int64)
            np.cumsum(lens[:-1], out=offs[1:])
            mins = np.empty((num_perm, len(lens)), dtype=np.uint64)
            with np.errstate(over="ignore"):
                for b in range(0, num_perm, 8):
                    block = mults[b : b + 8, None] * h[None, :]
                    mins[b : b + 8] = np.minimum.reduceat(block, offs, axis=1)
            sig = np.ascontiguousarray(mins.T).view(np.int64)
            return pd.DataFrame({"sh": sh, "sig": list(sig)})

        # the UDF is deterministic; the mark stops Catalyst from
        # substituting its alias into downstream filters (the
        # size(sh)>0 guard) and re-evaluating the whole Arrow pass a
        # second time BELOW the fan-out exchange — measured 2.4× on the
        # shingle stage (1.02 s duplicated vs 0.44 s single), identical
        # rows. Pushing that filter into the scan buys nothing: it can
        # never reach parquet (derived column).
        _FUSED_UDFS[key] = _fused.asNondeterministic()
    return _FUSED_UDFS[key]


def _shingle_udf(n: int):
    if n not in _SHINGLE_UDFS:

        @pandas_udf("array<string>")
        def _shingles(texts: pd.Series) -> pd.Series:
            return pd.Series(_shingle_texts(texts, n))

        # deterministic; marked to stop alias-substitution re-evaluation
        # below the fan-out exchange (see _fused_shingle_minhash_udf)
        _SHINGLE_UDFS[n] = _shingles.asNondeterministic()
    return _SHINGLE_UDFS[n]


def shingled_frame(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    *,
    materialize: bool = True,
    bytes_per_slot: int = 64 << 10,
) -> DataFrame:
    """(__id__, __sh__) distinct-shingle frame — THE shared first stage
    of minhash / n-gram-jaccard.

    Arrow-batched pandas UDF (shingling is per-document string compute;
    the interpreted-HOF expression version costs ~3× more CPU), then a
    lazy ``localCheckpoint``: every downstream similarity plan consumes
    this frame 2-4× (explode side(s), size side, verify side), and a
    checkpoint computes it once and serves the reuses from executor
    block storage — the Spark analog of the shared node in a dask graph.
    Pass ``materialize=False`` for single-consumer pipelines.
    """
    _shingles = _shingle_udf(n)
    df = _ensure_parallelism(df, bytes_per_slot=bytes_per_slot)
    base = df.select(
        F.col(id_col).alias("__id__"), _shingles(F.col(text_col)).alias("__sh__")
    ).where(F.size("__sh__") > 0)
    return base.localCheckpoint(eager=False) if materialize else base


def _minhash_signature(shingles: F.Column, num_perm: int) -> F.Column:
    """num_perm minhash values: min over shingles of murmur3(shingle, seed).

    hash(x, seed_i) is an independent-enough family for LSH banding; all
    JVM-side (one pass over the shingle array per permutation).
    """
    return F.array(
        *[F.array_min(F.transform(shingles, lambda s: F.hash(s, F.lit(i)))) for i in range(num_perm)]
    )


def _fused_base(
    df: DataFrame, id_col: str, text_col: str, n: int, num_perm: int
) -> DataFrame:
    """(__id__, __sh__, __sig__) in one Arrow pass, checkpointed for
    multi-consumer plans (banding + both verify sides)."""
    fused = _fused_shingle_minhash_udf(n, num_perm)
    out = (
        _ensure_parallelism(df)
        .select(F.col(id_col).alias("__id__"), fused(F.col(text_col)).alias("__f__"))
        .select(
            "__id__",
            F.col("__f__.sh").alias("__sh__"),
            F.col("__f__.sig").alias("__sig__"),
        )
        .where(F.size("__sh__") > 0)
    )
    return out.localCheckpoint(eager=False)


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    num_perm: int = 64,
    shingle_size: int = 3,
) -> DataFrame:
    """id → minhash signature (array<long>, length num_perm;
    multiply-shift over siphash64 shingle hashes — see
    ``_fused_shingle_minhash_udf``; ``_minhash_signature`` remains the
    zero-Python JVM reference implementation of the same idea)."""
    fused = _fused_shingle_minhash_udf(shingle_size, num_perm)
    return (
        _ensure_parallelism(df)
        .select(F.col(id_col).alias(id_col), fused(F.col(text_col)).alias("__f__"))
        .where(F.size("__f__.sh") > 0)
        .select(
            id_col,
            F.col("__f__.sig").alias("signature"),
            F.size("__f__.sh").alias("n_shingles"),
        )
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    num_perm: int = 64,
    bands: int = 16,
    shingle_size: int = 3,
    jaccard_threshold: float = 0.8,
) -> DataFrame:
    """Near-duplicate pairs by MinHash + LSH banding, verified exactly.

    Pipeline (each step one narrow transform or one keyed shuffle):
      shingle → minhash(num_perm) → split into ``bands`` band signatures
      → explode → groupBy(band, signature) bucket-join candidates
      → exact Jaccard verification on the shingle sets.

    Returns (id_a, id_b, jaccard) with id_a < id_b, deduplicated across
    bands. At 100 TB the only quadratic step is within-bucket pairing;
    bucket sizes are bounded by the band collision rate, and the final
    verify joins shingle sets back by id (two broadcast-able or
    shuffle-hash joins on the id key).
    """
    rows_per_band = num_perm // bands
    sig = _fused_base(df, id_col, text_col, shingle_size, num_perm).withColumnRenamed(
        "__sh__", "__shingles__"
    )
    base = sig
    banded = sig.select(
        "__id__",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.hash(F.concat_ws("_", F.slice("__sig__", b * rows_per_band + 1, rows_per_band))),
            )
        ).alias("__band__", "__bandsig__"),
    )
    left = banded.alias("l")
    right = banded.alias("r")
    candidates = (
        left.join(
            right,
            (F.col("l.__band__") == F.col("r.__band__"))
            & (F.col("l.__bandsig__") == F.col("r.__bandsig__"))
            & (F.col("l.__id__") < F.col("r.__id__")),
        )
        .select(F.col("l.__id__").alias("id_a"), F.col("r.__id__").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    return _verify_jaccard_pairs(base, candidates, jaccard_threshold)


def _verify_jaccard_pairs(
    base: DataFrame, candidates: DataFrame, jaccard_threshold: float
) -> DataFrame:
    """Exact-Jaccard verification of candidate id pairs against the
    shingle sets in ``base`` (__id__, __shingles__): two id-keyed joins
    (broadcast- or shuffle-hash — never all-pairs)."""
    a = base.select(F.col("__id__").alias("id_a"), F.col("__shingles__").alias("__sh_a__"))
    b = base.select(F.col("__id__").alias("id_b"), F.col("__shingles__").alias("__sh_b__"))
    return (
        candidates.join(a, "id_a")
        .join(b, "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("__sh_a__", "__sh_b__"))
            / F.size(F.array_union("__sh_a__", "__sh_b__")),
        )
        .where(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _md5_minhash_col(shingle: F.Column, perm: int) -> F.Column:
    """60-bit portable minhash atom: uint60 of md5(f\"{perm}|{shingle}\").
    Bit-reproducible in any engine with md5 (DuckDB twin:
    CAST('0x' || substr(md5(i || '|' || s), 1, 15) AS UBIGINT)) — the
    same trick as hash_dataset's md5 mode (operators/dataflow.py)."""
    return F.conv(
        F.substring(
            F.md5(F.encode(F.concat(F.lit(f"{perm}|"), shingle), "UTF-8")), 1, 15
        ),
        16,
        10,
    ).cast("long")


def _md5_band_frame(
    shingled: DataFrame,
    shingles_col: str,
    *,
    num_perm: int,
    bands: int,
    hash_family: str = "md5",
) -> DataFrame:
    """(__id__, band, bandsig) LSH band signatures over an
    already-shingled frame — the shared banding stage of
    ``minhash_lsh_pairs_md5`` and the streaming near-dup ingest sink
    (``streaming/events.py:stream_ingest_neardup``).

    ``hash_family="md5"`` is the portable tier (bit-reproducible in any
    engine with md5 — oracle-checkable, ~num_perm md5 calls per
    shingle); ``"siphash"`` swaps the minhash atom for seeded murmur3
    (``F.hash``) — same pipeline shape, ~2× cheaper banding, JVM-only.

    Band signature = ','-joined decimal minhash values of the band's
    permutations in order (DuckDB twin: string_agg(mh, ',' ORDER BY i)).
    All codegen: explode → num_perm min-aggs (map-side combined) →
    posexplode of the band array.
    """
    if hash_family == "md5":
        def _atom(i: int) -> F.Column:
            return _md5_minhash_col(F.col("__s__"), i)
    elif hash_family == "siphash":
        def _atom(i: int) -> F.Column:
            return F.hash(F.col("__s__"), F.lit(i)).cast("long")
    else:
        raise ValueError(f"hash_family must be 'md5' or 'siphash', got {hash_family!r}")
    rows_per_band = num_perm // bands
    ex = shingled.select("__id__", F.explode(shingles_col).alias("__s__"))
    sigs = ex.groupBy("__id__").agg(
        *[F.min(_atom(i)).alias(f"__m{i}__") for i in range(num_perm)]
    )
    band_sigs = [
        F.concat_ws(
            ",",
            *[
                F.col(f"__m{b * rows_per_band + j}__").cast("string")
                for j in range(rows_per_band)
            ],
        )
        for b in range(bands)
    ]
    return sigs.select(
        "__id__", F.posexplode(F.array(*band_sigs)).alias("band", "bandsig")
    )


def md5_band_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    num_perm: int = 16,
    bands: int = 4,
    shingle_size: int = 3,
    hash_family: str = "md5",
) -> DataFrame:
    """Per-document MinHash-LSH band signatures: (<id_col>, band,
    bandsig), one row per (doc, band). Default ``hash_family="md5"``
    is the PORTABLE tier (oracle-checkable); ``"siphash"`` is the
    cheaper JVM-only production tier for scale ingest.
    Documents with at most ``shingle_size`` tokens (including empty
    text) contribute their whole token sequence as a single shingle —
    the same degenerate-case contract as every shingle consumer here —
    so exact-duplicate short docs still collide.

    Two documents are near-dup candidates iff they share ≥1 (band,
    bandsig) pair — this frame is the persistable form of that
    relation, used as the incremental dedup state by
    ``stream_ingest_neardup`` (the fingerprint side-dataset) and
    reusable for batch bucket-joins. Bit-reproducible in ANSI SQL
    (every hash is a pure function of md5), so oracle-checkable.
    """
    if num_perm % bands != 0:
        raise ValueError("num_perm must be divisible by bands")
    # the md5 tier hashes num_perm times per shingle — ~4× the per-byte
    # compute the 64 KiB/slot default was sized for; A/B on the neardup
    # fixture's 2.5 k-doc batch: 1.72 s at 5 slots vs 1.18 s at 16
    base = shingled_frame(
        df, id_col, text_col, shingle_size,
        materialize=False, bytes_per_slot=16 << 10,
    )
    return _md5_band_frame(
        base, "__sh__", num_perm=num_perm, bands=bands, hash_family=hash_family
    ).select(F.col("__id__").alias(id_col), "band", "bandsig")


def minhash_lsh_pairs_md5(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    num_perm: int = 16,
    bands: int = 4,
    shingle_size: int = 3,
    jaccard_threshold: float = 0.2,
) -> DataFrame:
    """MinHash+LSH near-dup pairs in the PORTABLE md5 hash family —
    identical pipeline shape to ``minhash_lsh_pairs`` (shingle → minhash
    → band → bucket-join → exact-Jaccard verify) but every hash is a
    pure function of md5, so the whole result set (not just the verify
    step) is bit-reproducible in ANSI SQL and oracle-hash-checkable.

    The production tier stays ``minhash_lsh_pairs`` (siphash
    multiply-shift: one Arrow pass, ~num_perm× fewer hash invocations);
    this is the cross-engine verification mode, priced accordingly
    (num_perm md5 calls per shingle — keep num_perm modest).

    Band signature = ','-joined decimal minhash values of the band's
    permutations in order (DuckDB twin: string_agg(mh, ',' ORDER BY i)).
    """
    if num_perm % bands != 0:
        raise ValueError("num_perm must be divisible by bands")
    # 16 KiB/slot: the md5 tier's per-byte compute (see
    # md5_band_signatures) — the checkpointed shingle frame feeds the
    # banding AND both verify sides, all md5-priced
    base = shingled_frame(
        df, id_col, text_col, shingle_size, bytes_per_slot=16 << 10
    ).withColumnRenamed("__sh__", "__shingles__")
    banded = _md5_band_frame(
        base, "__shingles__", num_perm=num_perm, bands=bands
    ).select("__id__", F.col("band").alias("__band__"), F.col("bandsig").alias("__bandsig__"))
    candidates = (
        banded.alias("l")
        .join(
            banded.alias("r"),
            (F.col("l.__band__") == F.col("r.__band__"))
            & (F.col("l.__bandsig__") == F.col("r.__bandsig__"))
            & (F.col("l.__id__") < F.col("r.__id__")),
        )
        .select(F.col("l.__id__").alias("id_a"), F.col("r.__id__").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    return _verify_jaccard_pairs(base, candidates, jaccard_threshold)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_size: int = 3,
    jaccard_threshold: float = 0.5,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """EXACT n-gram Jaccard similarity pairs (the oracle-checkable path).

    explode(shingles) → self-join on shingle → count shared → jaccard =
    |∩| / (|a| + |b| - |∩|). The explode-join is the classic inverted-
    index similarity join: the shuffle key is the shingle, so common
    shingles (stopword n-grams) skew — AQE skew-join splits those.

    ``max_shingle_df`` is the scale knob: drop shingles appearing in
    more than that many documents BEFORE the self-join (the candidate
    count for a shingle with document frequency d is d·(d-1)/2, so one
    ubiquitous trigram at d=10⁶ alone is 5·10¹¹ join rows). Set sizes
    are recomputed over the surviving shingle universe, so the jaccard
    stays a true Jaccard of the restricted sets — the standard
    prefix-filtering trade: near-identical long documents still share
    plenty of rare shingles. Default None = exact semantics.
    """
    base = shingled_frame(df, id_col, text_col, shingle_size)
    # carry the set size INSIDE the exploded frame (computed from the
    # array before exploding — no join) so the candidate aggregation can
    # emit jaccard directly instead of re-joining sizes onto the (much
    # larger) candidate-pair set afterwards
    exploded = base.select(
        "__id__", F.size("__sh__").alias("__n__"), F.explode("__sh__").alias("__s__")
    )
    if max_shingle_df is not None:
        rare = (
            exploded.groupBy("__s__")
            .agg(F.count("*").alias("__df__"))
            .where(F.col("__df__") <= max_shingle_df)
            .select("__s__")
        )
        # restricted-universe sizes: recount per doc post-filter, then
        # rebind __n__ (shuffle join; AQE broadcasts it when small)
        filtered = exploded.join(rare, "__s__").drop("__n__")
        sizes = filtered.groupBy("__id__").agg(F.count("*").alias("__n__"))
        exploded = filtered.join(sizes, "__id__")
    shared = (
        exploded.alias("l")
        .join(exploded.alias("r"), (F.col("l.__s__") == F.col("r.__s__")) & (F.col("l.__id__") < F.col("r.__id__")))
        .groupBy(F.col("l.__id__").alias("id_a"), F.col("r.__id__").alias("id_b"))
        .agg(
            F.count("*").alias("__shared__"),
            F.first(F.col("l.__n__")).alias("__na__"),
            F.first(F.col("r.__n__")).alias("__nb__"),
        )
    )
    return (
        shared.withColumn(
            "jaccard", F.col("__shared__") / (F.col("__na__") + F.col("__nb__") - F.col("__shared__"))
        )
        .where(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )


def winnow_overlap_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 8,
    w: int = 4,
    min_shared: int = 2,
    max_fp_df: int | None = 50,
) -> DataFrame:
    """Verbatim-overlap candidate pairs via winnowing fingerprints
    (Schleimer et al., SIGMOD'03): two documents sharing any substring
    of length >= k + w - 1 share at least one fingerprint, so an
    equi-join on the fingerprint finds copy/quote/mirror candidates
    without all-pairs comparison. Complements MinHash (whole-document
    resemblance) — winnowing catches a long verbatim passage inside an
    otherwise-different document, which set-Jaccard dilutes away.

    Shape: zero-shuffle per-row fingerprinting (array HOFs, see
    ``winnow_fingerprints_col``) → explode → df-cap → self-equi-join on
    fingerprint → count shared per pair. ``max_fp_df`` is the same
    hot-key guard as ``ngram_jaccard_pairs``: a fingerprint appearing in
    d documents contributes d·(d-1)/2 join rows, so boilerplate shared
    corpus-wide (license headers, navigation chrome) is dropped BEFORE
    the join; pairs are ranked by surviving shared-fingerprint count.
    """
    from plateau_spark.operators.text import winnow_fingerprints

    # explode_outer: keeps InferFiltersFromGenerate from pushing a
    # size()>0 filter that re-inlines the winnowing chain into the scan
    # (O(len²) per-row recompute); every doc has >= 1 fingerprint.
    df = _ensure_parallelism(df)
    fps = winnow_fingerprints(df, id_col, text_col, k=k, w=w).select(
        F.col(id_col).alias("__id__"), F.explode_outer("fingerprints").alias("__fp__")
    )
    # the (id, fingerprint) frame feeds THREE consumers (the df-cap
    # aggregate and both self-join sides) and the per-row winnowing HOF
    # chain is the expensive part — cache it so it computes once, not
    # per consumer (measured 1.3× on sf0.1). persist(), NOT
    # localCheckpoint: under AQE a checkpoint materializes the upstream
    # shuffles at CONSTRUCTION time (breaking plan laziness), truncates
    # lineage (unrecoverable on executor loss — fatal on spot/dynamic
    # clusters), and pins unreleasable blocks; a cache is lazy,
    # recomputes on block loss, and is LRU-evictable. Blocks are
    # two-long rows at ~len/w fingerprints per document (≈1–2% of the
    # text bytes) — unlike the exploded-shingle frame in
    # ngram_jaccard_pairs, which is corpus-sized and deliberately NOT
    # cached.
    # persist_shared: this frame is corpus-proportional, the registry
    # bound + core.caching.release_shared_caches keep a long-lived
    # session from pinning one per call (r14)
    fps = persist_shared(fps)
    if max_fp_df is not None:
        rare = (
            fps.groupBy("__fp__")
            .agg(F.count("*").alias("__df__"))
            .where(F.col("__df__") <= max_fp_df)
            .select("__fp__")
        )
        fps = fps.join(rare, "__fp__")
    return (
        fps.alias("l")
        .join(
            fps.alias("r"),
            (F.col("l.__fp__") == F.col("r.__fp__"))
            & (F.col("l.__id__") < F.col("r.__id__")),
        )
        .groupBy(F.col("l.__id__").alias("id_a"), F.col("r.__id__").alias("id_b"))
        .agg(F.count("*").alias("shared_fingerprints"))
        .where(F.col("shared_fingerprints") >= min_shared)
    )


_SIMHASH_UDFS: dict = {}


def _simhash_udf(bits: int):
    """text → int64 SimHash in one Arrow pass: token multiset hashed with
    pandas ``hash_array`` (deterministic keyed siphash), bit matrix
    unpacked in 8-bit blocks, per-document ±1 sums via
    ``np.add.reduceat``. Integer arithmetic throughout — exact."""
    if bits not in _SIMHASH_UDFS:

        @pandas_udf("long")
        def _sim(texts: pd.Series) -> pd.Series:
            import numpy as np
            from pandas.util import hash_array

            global _TOKEN_SPLIT_RE
            import re

            if _TOKEN_SPLIT_RE is None:
                _TOKEN_SPLIT_RE = re.compile(r"[^\w]+|_+", re.UNICODE)
            toks = [
                [w for w in _TOKEN_SPLIT_RE.split(t.strip().lower()) if w] for t in texts
            ]
            lens = np.fromiter((len(t) for t in toks), dtype=np.int64, count=len(toks))
            fp = np.zeros(len(toks), dtype=np.uint64)
            nz = np.flatnonzero(lens)
            if len(nz):
                flat = np.concatenate([np.asarray(toks[i], dtype=object) for i in nz])
                h = hash_array(flat)
                offs = np.zeros(len(nz), dtype=np.int64)
                np.cumsum(lens[nz][:-1], out=offs[1:])
                sub = np.zeros(len(nz), dtype=np.uint64)
                for b0 in range(0, bits, 8):
                    nb = min(8, bits - b0)
                    shifts = np.arange(b0, b0 + nb, dtype=np.uint64)[:, None]
                    pm = (((h[None, :] >> shifts) & np.uint64(1)).astype(np.int64) * 2) - 1
                    sums = np.add.reduceat(pm, offs, axis=1)  # (nb, ndocs)
                    sub |= ((sums > 0).astype(np.uint64).T << shifts.T).sum(
                        axis=1, dtype=np.uint64
                    )
                fp[nz] = sub
            return pd.Series(fp.view(np.int64))

        _SIMHASH_UDFS[bits] = _sim
    return _SIMHASH_UDFS[bits]


def simhash(df: DataFrame, id_col: str, text_col: str, *, bits: int = 64) -> DataFrame:
    """Per-document SimHash fingerprint (int64; high ``64-bits`` bits 0).

    Vectorized Arrow pass (see ``_simhash_udf``); tokenless documents
    keep fingerprint 0. ``simhash_codegen`` below is the zero-Python
    whole-stage-codegen formulation of the same operator (different
    hash family: xxhash64), kept as the JVM reference — measured ~6×
    slower on 5k docs because the 64 conditional sums dominate.
    """
    base = _ensure_parallelism(df)
    return base.select(
        F.col(id_col), _simhash_udf(bits)(F.col(text_col)).alias("simhash")
    )


def simhash_codegen(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    bits: int = 64,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Per-document SimHash fingerprint — pure-JVM reference formulation.

    For each bit b: sum over tokens of ±1 depending on bit b of
    hash(token); fingerprint bit = 1 if the sum > 0. Shape: explode
    tokens → ``bits`` codegen'd conditional sums → one map-side-combined
    groupBy (one shuffle row per document). An earlier array-fold
    (zip_with accumulator) version was interpreted, not codegen'd —
    this formulation stays entirely inside whole-stage codegen.
    Tokenless documents keep fingerprint 0 (explode_outer).

    ``hash_family``: ``"xxhash64"`` (default, fastest) or ``"md5"`` —
    the portable mode: the token hash is the 60-bit uint of
    md5(token), bit-reproducible in any engine with md5 (DuckDB twin:
    (CAST('0x' || substr(md5(t), 1, 15) AS UBIGINT) >> b) & 1), so the
    fingerprints are oracle-hash-checkable. Requires ``bits <= 60``.
    """
    base = _ensure_parallelism(df)
    toks = F.filter(tokens_col(text_col), lambda t: t != "")
    ex = base.select(F.col(id_col), F.explode_outer(toks).alias("__t__"))
    if hash_family == "md5":
        if bits > 60:
            raise ValueError("md5 hash family provides 60 usable bits")
        h = F.conv(
            F.substring(F.md5(F.encode(F.col("__t__"), "UTF-8")), 1, 15), 16, 10
        ).cast("long")
    elif hash_family == "xxhash64":
        h = F.xxhash64("__t__")
    else:
        raise ValueError(f"Unknown hash_family: {hash_family!r}")
    contrib = lambda b: F.when(F.col("__t__").isNull(), F.lit(0)).otherwise(  # noqa: E731
        F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, F.lit(1)).otherwise(F.lit(-1))
    )
    sums = ex.groupBy(id_col).agg(
        *[F.sum(contrib(b)).alias(f"__b{b}__") for b in range(bits)]
    )
    fingerprint = F.lit(0).cast("long")
    for b in range(bits):
        fingerprint = fingerprint.bitwiseOR(
            F.when(
                F.col(f"__b{b}__") > 0,
                F.lit(1 << b if b < 63 else -(1 << 63)).cast("long"),
            ).otherwise(F.lit(0).cast("long"))
        )
    return sums.select(F.col(id_col), fingerprint.alias("simhash"))


# rows above which one (probe, bucket) leaves the in-bucket GEMM for the
# pairwise join (embedding_cosine_dup_pairs' hot-bucket guard)
_BUCKET_GEMM_CAP_ROWS = 100_000


def embedding_cosine_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    threshold: float = 0.95,
    bucket_bits: int = 8,
    dim: int | None = None,
    seeds: Sequence[int] = (7, 77),
) -> DataFrame:
    """Embedding near-dup pairs: LSH-bucketed exact cosine.

    Random-hyperplane sign bits (deterministic seeded planes) bucket the
    vectors; exact cosine verifies within buckets. Multi-probe recall =
    each row explodes into one (probe_no, bucket) pair per seed and the
    self-join is an EQUI-join on (probe_no, bucket) — hash-joinable, so
    the plan never degrades to a cartesian/BNLJ (the shape that killed
    scale in round 1). The hyperplane dim is inferred from the data (one
    LIMIT 1 read) unless given. See operators/similarity.py.
    """
    from plateau_spark.operators.similarity import (
        guarded_cosine,
        infer_dim,
        norm_col,
        probe_buckets_col,
    )

    d = dim if dim is not None else infer_dim(df, vec_col)
    # Per-row norm computed ONCE here (n·probes folds) instead of per
    # candidate pair (|candidates| ≫ n folds).
    bucketed = df.select(
        F.col(id_col).alias("__id__"),
        F.col(vec_col).alias("__v__"),
        norm_col(vec_col).alias("__n__"),
        F.posexplode(
            probe_buckets_col(vec_col, bucket_bits, seeds=tuple(seeds), dim=d)
        ).alias("__probe__", "__bucket__"),
    )
    # Per-BUCKET GEMM kernel (applyInPandas): the former bucket
    # self-join + per-pair Arrow dot shipped BOTH dim-length vectors
    # across the Python boundary for EVERY candidate pair
    # (|candidates| × 2·dim doubles — hundreds of MB at bench scale,
    # corpus-quadratic-per-bucket at 100 TB), the §8 anti-pattern of
    # moving heavy bytes per decision. Here each vector crosses the
    # boundary ONCE per probe (one exchange on (probe, bucket), no
    # self-join legs, no candidate-dedup shuffle of failing pairs) and
    # the in-bucket scoring is one chunked float64 BLAS product.
    # Degenerate inputs (zero/NaN norm, NULL vector) drop before the
    # GEMM — identical to guarded_cosine's NULL-at-threshold. A pair
    # met in several probes may differ across copies by float
    # summation order (~1 ulp, same contract as the einsum form this
    # replaces); the max-aggregation keeps the dedup deterministic.
    thr = float(threshold)
    id_type = df.schema[id_col].dataType.simpleString()

    def _bucket_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        nm = pdf["__n__"].to_numpy(dtype=np.float64)
        keep = nm > 0  # NaN/NULL norm compares False, as in SQL/numpy
        pdf = pdf[keep]
        empty = pd.DataFrame(
            {"id_a": pdf["__id__"][:0], "id_b": pdf["__id__"][:0],
             "cosine": pd.Series([], dtype="float64")}
        )
        if len(pdf) < 2:
            return empty
        pdf = pdf.sort_values("__id__", kind="mergesort")
        ids = pdf["__id__"].to_numpy()
        nm = pdf["__n__"].to_numpy(dtype=np.float64)
        V = np.stack(pdf["__v__"].to_numpy()).astype(np.float64)
        n = len(ids)
        chunks: list[pd.DataFrame] = []
        # bound the similarity block to ~32 MB whatever the group size
        # (a hot bucket with the fixed 4096-row chunk allocated
        # CH × n × 8 bytes — unbounded in n)
        CH = max(1, min(4096, (32 << 20) // max(1, n * 8)))
        for s in range(0, n, CH):
            e = min(s + CH, n)
            C = (V[s:e] @ V.T) / (nm[s:e, None] * nm[None, :])
            out_a, out_b, out_c = [], [], []
            for i in range(s, e):
                row = C[i - s, i + 1 :]
                hit = np.nonzero(row >= thr)[0]  # NaN compares False
                if hit.size:
                    b_ids = ids[i + 1 + hit]
                    # the former self-join's strict __id__ < __id__
                    # excluded equal ids: a duplicated id inside one
                    # bucket must not emit an (id, id) self-pair
                    ne = b_ids != ids[i]
                    if not ne.all():
                        hit, b_ids = hit[ne], b_ids[ne]
                    if hit.size:
                        out_a.extend([ids[i]] * hit.size)
                        out_b.extend(b_ids)
                        out_c.extend(row[hit])
            if out_a:
                # flush per chunk: no cross-chunk Python-list growth
                chunks.append(pd.DataFrame(
                    {"id_a": out_a, "id_b": out_b,
                     "cosine": np.asarray(out_c, dtype=np.float64)}
                ))
        return pd.concat(chunks, ignore_index=True) if chunks else empty

    def _gemm_pairs(frame: DataFrame) -> DataFrame:
        return frame.groupBy("__probe__", "__bucket__").applyInPandas(
            _bucket_pairs, f"id_a {id_type}, id_b {id_type}, cosine double"
        )

    # Hot-bucket guard: one applyInPandas group materializes the whole
    # (probe, bucket) in a single task, so a degenerate bucket (mass-
    # duplicated boilerplate embeddings — exactly what LSH concentrates)
    # that the former self-join spread across the cluster would straggle
    # or OOM it. Buckets above the row cap fall back to the pairwise
    # equi-join scorer (same scores: one einsum dot per candidate pair).
    # Detection is scale-gated so the common case costs nothing: a
    # bucket larger than cap rows needs > cap input rows, and input
    # rows ≤ est_bytes / (8 bytes × dim), so small inputs skip the size
    # pass entirely (no extra job at bench scale; at corpus scale the
    # one column-pruned counting pass is noise next to the join).
    cap = _BUCKET_GEMM_CAP_ROWS
    est_bytes = estimated_bytes(df)  # None: stats unavailable, be safe, check
    max_bucket_bound = (
        (est_bytes // (8 * max(1, d))) * len(tuple(seeds))
        if est_bytes is not None
        else None
    )
    if max_bucket_bound is not None and max_bucket_bound <= cap:
        cand = _gemm_pairs(bucketed)
    else:
        oversized = (
            bucketed.groupBy("__probe__", "__bucket__")
            .agg(F.count("*").alias("__bn__"))
            .where(F.col("__bn__") > cap)
            .select("__probe__", "__bucket__")
        )
        if oversized.isEmpty():
            cand = _gemm_pairs(bucketed)
        else:
            # rare path: pin the bucketed rows so the two routing legs
            # share one evaluation (registry-managed, eviction-safe)
            shared = persist_shared(bucketed)
            keys = ["__probe__", "__bucket__"]
            small = shared.join(F.broadcast(oversized), keys, "anti")
            big = shared.join(F.broadcast(oversized), keys, "semi")

            @pandas_udf("double")
            def _dot(a: pd.Series, b: pd.Series) -> pd.Series:
                import numpy as np

                A = np.stack(a.to_numpy()).astype(np.float64)
                B = np.stack(b.to_numpy()).astype(np.float64)
                return pd.Series(np.einsum("ij,ij->i", A, B))

            lhs, rhs = big.alias("l"), big.alias("r")
            big_pairs = (
                lhs.join(rhs, keys)
                .where(F.col("l.__id__") < F.col("r.__id__"))
                .select(
                    F.col("l.__id__").alias("id_a"),
                    F.col("r.__id__").alias("id_b"),
                    (
                        _dot(F.col("l.__v__"), F.col("r.__v__"))
                        / (F.col("l.__n__") * F.col("r.__n__"))
                    ).alias("cosine"),
                )
                .where(F.col("cosine") >= thr)
            )
            cand = _gemm_pairs(small).unionByName(big_pairs)
    return cand.groupBy("id_a", "id_b").agg(F.max("cosine").alias("cosine"))


def duplicate_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    *,
    max_iter: int = 25,
    small_graph_threshold: int = 1_000_000,
) -> DataFrame:
    """Connected components over a duplicate-pair graph → (id, cluster_id)
    with cluster_id = the smallest member id of the component.

    The last mile of dedup: pairwise near-dup results (minhash / ngram /
    embedding pairs) must become disjoint groups before a keep-one
    policy can run. Not in the reference (SURVEY §2.7 north-star).

    Algorithm: iterated min-label propagation (hash-to-min) with
    pointer jumping. Each round: (a) min over neighbors' labels, (b)
    follow the label's own label (path compression) — so label chains
    halve every round and convergence needs O(log diameter) rounds, not
    O(diameter) (a 64-node path converges in ~6 rounds, not 64). Each
    round is three keyed shuffles over a checkpointed frontier;
    convergence is detected distributedly (count of label changes, one
    lightweight action per round) and non-convergence within
    ``max_iter`` raises rather than returning an under-merged
    clustering. Only ids that appear in a NON-self pair are emitted —
    self-pairs (id_a == id_b) are dropped up front in BOTH paths (they
    carry no clustering information), so singletons never enter the
    shuffle (union them back from the corpus if a total clustering is
    needed).

    Small-graph fast path: after LSH banding / jaccard thresholding the
    duplicate-pair graph is orders of magnitude smaller than the corpus;
    when it has at most ``small_graph_threshold`` (directed) edges —
    counted from the already-materialized edge checkpoint, no extra
    scan — the components are solved with driver-side union-find
    instead of O(log diameter) rounds of 4-shuffle jobs. 10⁶ edges is
    tens of MB of driver state, the same deliberate KB/MB-scale driver
    bound as the IVF centroids (operators/similarity.py); pass 0 to
    force the distributed loop.
    """
    # normalize self-loops identically for the driver and distributed
    # paths: (a, a) edges are dropped before either runs. Checkpoint the
    # pair frame FIRST: the two union branches below would otherwise
    # each re-evaluate the (often expensive — LSH banding, blocked
    # Levenshtein) upstream pair plan
    pairs = pairs.where(F.col(id_a) != F.col(id_b)).localCheckpoint(eager=False)
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n_edges = edges.count()  # materializes the checkpoint for either path
    # the pair blocks fed the edge materialization and nothing else —
    # release them now instead of waiting for the ContextCleaner
    # (schema/sparkSession reads below don't touch the blocks)
    id_type = pairs.schema[id_a].dataType.simpleString()
    spark = pairs.sparkSession
    release_local_checkpoint(pairs)
    if n_edges <= small_graph_threshold:
        parent: dict = {}

        def find(x):
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != root:
                parent[x], x = root, parent[x]
            return root

        nodes = set()
        for row in edges.where(F.col("src") < F.col("dst")).collect():
            a, b = row["src"], row["dst"]
            nodes.add(a)
            nodes.add(b)
            ra, rb = find(a), find(b)
            if ra != rb:
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                # roots always point at smaller ids ⇒ component root = min id
                parent[hi] = lo
        # Arrow-batched materialization: list-of-tuples createDataFrame
        # pickles row objects one by one (~seconds at 10⁵ nodes, the
        # dominant cost of the driver fast path); the pandas route ships
        # columnar Arrow batches
        import pandas as pd

        ordered = sorted(nodes)
        release_local_checkpoint(edges)  # collected; result is driver-built
        return spark.createDataFrame(
            pd.DataFrame(
                {"id": ordered, "cluster_id": [find(x) for x in ordered]}
            ),
            f"id {id_type}, cluster_id {id_type}",
        )

    labels = edges.groupBy("src").agg(F.min("dst").alias("lbl")).select(
        "src", F.least("src", "lbl").alias("lbl")
    )
    for it in range(max_iter):
        # (a) min label among: own label, and every neighbor's label
        neighbor_min = (
            edges.join(labels.withColumnRenamed("src", "dst"), "dst")
            .groupBy("src")
            .agg(F.min("lbl").alias("nlbl"))
        )
        stepped = labels.join(neighbor_min, "src", "left").select(
            "src", F.least("lbl", "nlbl").alias("lbl")
        )
        # (b) pointer jumping: follow the label's own label
        lbl_of_lbl = labels.select(
            F.col("src").alias("lbl"), F.col("lbl").alias("jlbl")
        )
        new_labels = (
            stepped.join(lbl_of_lbl, "lbl", "left")
            .select("src", F.least("lbl", "jlbl").alias("lbl"))
            .localCheckpoint(eager=False)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "src")
            .where(F.col("n.lbl") != F.col("o.lbl"))
            .count()
        )
        if it > 0:
            # the superseded frontier's blocks are dead once `changed`
            # materialized new_labels (iteration 0's `labels` is a plain
            # plan over edges — the release helper no-ops on it)
            release_local_checkpoint(labels)
        labels = new_labels
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"duplicate_clusters did not converge in {max_iter} rounds "
            "(pathological component structure?); raise max_iter"
        )
    # the result depends only on the final labels checkpoint
    release_local_checkpoint(edges)
    return labels.select(F.col("src").alias("id"), F.col("lbl").alias("cluster_id"))


def ngram_overlap_vs_eval(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    threshold: float = 0.2,
    broadcast_eval: bool = True,
) -> DataFrame:
    """Benchmark decontamination: for every train document, the fraction
    of its distinct word n-grams that also occur anywhere in the eval
    corpus, plus a ``contaminated`` flag (fraction >= threshold).

    Shape: the eval n-gram universe is deduplicated and (by default)
    broadcast — eval/benchmark sets are small next to a training corpus,
    so the train side streams through a broadcast hash join with no
    shuffle of the exploded n-grams. With ``broadcast_eval=False`` it
    degrades to a shuffle equi-join on the n-gram — still bucketed, never
    all-pairs. Documents with no usable n-grams come back with fraction
    0.0 (never contaminated).

    The flag is computed on the UNROUNDED fraction; both engines derive
    it from the same integer division so the decision is deterministic.
    """
    clean = lambda c: F.filter(shingles_col(c, n), lambda s: s != "")  # noqa: E731

    ev = eval_df.select(F.explode(clean(text_col)).alias("__shingle__")).distinct()
    if broadcast_eval:
        ev = F.broadcast(ev)
    tr = _ensure_parallelism(train).select(
        F.col(id_col), F.explode(clean(text_col)).alias("__shingle__")
    )
    agg = (
        tr.join(ev.withColumn("__hit__", F.lit(1)), "__shingle__", "left")
        .groupBy(id_col)
        .agg(F.count("*").alias("__total__"), F.sum("__hit__").alias("__hits__"))
    )
    frac = F.coalesce(F.col("__hits__") * F.lit(1.0) / F.col("__total__"), F.lit(0.0))
    return (
        train.select(id_col)
        .join(agg, id_col, "left")
        .select(
            F.col(id_col),
            F.round(F.coalesce(frac, F.lit(0.0)), 6).alias("overlap_fraction"),
            (F.coalesce(frac, F.lit(0.0)) >= threshold).cast("long").alias("contaminated"),
        )
    )


def ngram_overlap_vs_eval_bloom(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    threshold: float = 0.2,
    n_bits: int = 1 << 22,
    n_hashes: int = 4,
) -> DataFrame:
    """Decontamination with a Bloom prefilter — IDENTICAL results to
    ``ngram_overlap_vs_eval`` (Bloom filters have no false negatives, so
    exact verification of the Bloom-positive candidates reconstructs the
    exact hit set), restructured for the 100 TB corpus:

      build:  eval n-grams → k bit indices (JVM xxhash64 arithmetic) →
              per-partition numpy bitmaps OR'd driver-side → one
              ``n_bits/8``-byte broadcast (a few MB for ~10⁸ eval
              n-grams — vs broadcasting the n-gram STRINGS themselves,
              which is GBs and the scale limit of the exact operator).
      probe:  every train n-gram tests its k bits in one Arrow-batched
              vectorized lookup — map-side, zero shuffle; only the
              Bloom-POSITIVE n-grams (true hits + ~n_bits-tunable false
              positives) enter the exact string equi-join.
      verify: candidates ⋈ eval distinct n-grams (exact), so false
              positives contribute nothing — per-doc hit counts equal
              the exact operator's, and the two share one oracle.

    Per-doc totals are counted BEFORE the prefilter, so the denominator
    is exact too. Bit indices use the standard double-hashing scheme
    h1 + i·h2 (Kirsch & Mitzenmacher 2006) computed in codegen from two
    salted xxhash64 values masked to 31 bits (no ANSI overflow).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    clean = lambda c: F.filter(shingles_col(c, n), lambda s: s != "")  # noqa: E731
    m = int(n_bits)

    def idx_col(shingle_col: str) -> F.Column:
        h1 = F.xxhash64(F.col(shingle_col)).bitwiseAND(F.lit(0x7FFFFFFF))
        h2 = F.xxhash64(F.concat(F.col(shingle_col), F.lit("\x01bloom"))).bitwiseAND(
            F.lit(0x7FFFFFFF)
        ).bitwiseOR(F.lit(1))
        return F.array(
            *[F.pmod(h1 + F.lit(i) * h2, F.lit(m)).cast("long") for i in range(n_hashes)]
        )

    ev = eval_df.select(F.explode(clean(text_col)).alias("__shingle__")).distinct()

    # --- build: per-partition bitmaps, OR'd on the driver ------------
    def _bitmap(batches):
        acc = np.zeros(m >> 3, dtype=np.uint8)
        seen = False
        for pdf in batches:
            if pdf.empty:
                continue
            seen = True
            idx = np.concatenate(pdf["__idx__"].to_numpy())
            np.bitwise_or.at(acc, idx >> 3, (1 << (idx & 7)).astype(np.uint8))
        if seen:
            yield pd.DataFrame({"__bits__": [acc.tobytes()]})

    parts = (
        ev.select(idx_col("__shingle__").alias("__idx__"))
        .coalesce(8)  # eval sets are small; bound the collected bitmaps
        .mapInPandas(_bitmap, "__bits__ binary")
        .collect()
    )
    bits = np.zeros(m >> 3, dtype=np.uint8)
    for r in parts:
        bits |= np.frombuffer(r["__bits__"], dtype=np.uint8)
    bc = train.sparkSession.sparkContext.broadcast(bits.tobytes())

    @pandas_udf("boolean")
    def _maybe_hit(idxs: pd.Series) -> pd.Series:
        arr = np.frombuffer(bc.value, dtype=np.uint8)
        if len(idxs) == 0:
            return pd.Series([], dtype=bool)
        I = np.stack(idxs.to_numpy())
        return pd.Series(((arr[I >> 3] >> (I & 7)) & 1).all(axis=1))

    # --- probe + exact verify ----------------------------------------
    tr = _ensure_parallelism(train).select(
        F.col(id_col), F.explode(clean(text_col)).alias("__shingle__")
    )
    totals = tr.groupBy(id_col).agg(F.count("*").alias("__total__"))
    cand = tr.where(_maybe_hit(idx_col("__shingle__")))
    hits = (
        cand.join(ev, "__shingle__")
        .groupBy(id_col)
        .agg(F.count("*").alias("__hits__"))
    )
    agg = totals.join(hits, id_col, "left")
    frac = F.coalesce(F.col("__hits__") * F.lit(1.0) / F.col("__total__"), F.lit(0.0))
    return (
        train.select(id_col)
        .join(agg, id_col, "left")
        .select(
            F.col(id_col),
            F.round(F.coalesce(frac, F.lit(0.0)), 6).alias("overlap_fraction"),
            (F.coalesce(frac, F.lit(0.0)) >= threshold).cast("long").alias("contaminated"),
        )
    )


def dedup_against_corpus(
    df: DataFrame,
    reference: DataFrame,
    text_col: str = "text",
    ref_text_col: str | None = None,
    *,
    normalize: bool = True,
) -> DataFrame:
    """Exact-content incremental dedup: drop every row of ``df`` whose
    (optionally whitespace/case-normalized) text already occurs in
    ``reference`` — the ingest-time guard against re-adding documents an
    earlier crawl/snapshot already contributed.

    Shape: LEFT ANTI hash join on a 64-hex sha2 digest of the content,
    so the shuffle carries a fixed-width key instead of document bodies;
    the reference side is pre-deduplicated on the digest (its duplicate
    multiplicity is irrelevant to an anti join and dropping them first
    shrinks the build side). Catalyst broadcasts the digest set when the
    reference is small; at 100 TB both sides hash-exchange on the
    digest — the same cost profile as any keyed join, no skew (digests
    are uniform).
    """
    ref_text_col = text_col if ref_text_col is None else ref_text_col

    def digest(col: str) -> F.Column:
        c = F.col(col)
        if normalize:
            c = F.lower(F.regexp_replace(F.trim(c), r"\s+", " "))
        return F.sha2(F.encode(c, "UTF-8"), 256)

    ref_keys = reference.select(digest(ref_text_col).alias("__sig__")).dropDuplicates(
        ["__sig__"]
    )
    return df.withColumn("__sig__", digest(text_col)).join(
        ref_keys, "__sig__", "left_anti"
    ).drop("__sig__")


def dedup_paragraphs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    sep: str = "\n\n",
    join_sep: str | None = None,
    out_col: str = "text_deduped",
) -> DataFrame:
    """C4-style GLOBAL paragraph dedup: split every document on ``sep``
    (a regex; ``join_sep`` — default the same string — is the LITERAL
    separator used to reassemble), keep only the FIRST occurrence of
    each exact paragraph across the whole corpus (first = smallest
    (doc id, position)), and reassemble each document from its
    surviving paragraphs in original order.
    Boilerplate that repeats across pages (headers, footers, license
    blocks) survives exactly once, in its earliest document.

    Shape (hot-digest safe): posexplode (narrow) →
    ``groupBy(digest).agg(min(struct(id, pos)))`` for the first
    occurrence — a partial-aggregating exchange, so a corpus-hot
    paragraph digest (the empty paragraph from repeated separators, a
    cross-site footer) collapses to ONE row per map task before the
    shuffle instead of sorting corpus-scale rows in a single window
    task — → LEFT join-back on the COMPOSITE key (digest, id, pos),
    which hash-distributes a hot digest's rows across reducers because
    id/pos differ → one groupBy(id) to reassemble (collect_list bounded
    by the document's own paragraph count). Empty paragraphs bypass
    sha2 entirely ('' is their sentinel digest — it cannot collide with
    a 64-hex real digest). Documents with NULL text emit no row
    (split(NULL) explodes to nothing); a document whose every paragraph
    was seen earlier reassembles to ''.
    """
    paras = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep)).alias("__pos__", "__p__"),
    ).withColumn(
        "__h__",
        F.when(F.col("__p__") == "", F.lit("")).otherwise(
            F.sha2(F.encode(F.col("__p__"), "UTF-8"), 256)
        ),
    )
    winners = (
        paras.groupBy("__h__")
        .agg(F.min(F.struct(F.col(id_col), F.col("__pos__"))).alias("__w__"))
        .select(
            F.col("__h__"),
            F.col("__w__")[id_col].alias(id_col),
            F.col("__w__")["__pos__"].alias("__pos__"),
            F.lit(1).alias("__keep__"),
        )
    )
    flagged = paras.join(winners, ["__h__", id_col, "__pos__"], "left")
    return (
        flagged.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("__keep__") == 1,
                                F.struct(F.col("__pos__"), F.col("__p__")),
                            )
                        )
                    ),
                    lambda s: s["__p__"],
                ),
                join_sep if join_sep is not None else sep,
            ).alias(out_col),
            F.sum(F.when(F.col("__keep__") == 1, 1).otherwise(0)).alias("n_kept"),
            F.count("*").alias("n_paragraphs"),
        )
    )


def dedup_keep_representatives(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    *,
    id_a: str = "id_a",
    id_b: str = "id_b",
    score_col: str | None = None,
    best: str = "max",
) -> DataFrame:
    """The last mile of fuzzy dedup: collapse a near-duplicate PAIR set
    into disjoint clusters (``duplicate_clusters`` connected components)
    and keep exactly ONE representative per cluster, returning the
    surviving rows of ``df`` with all columns. Default representative is
    the smallest id; pass ``score_col`` to instead keep the member with
    the best score (``best='max'`` keeps the highest — e.g. a quality
    or length column — ties broken toward the larger id; ``'min'`` the
    lowest, ties toward the smaller id; either way a deterministic
    total order). Rows with a NULL score lose to any scored member.

    Unlike the keep-first pair rule (``semantic_dedup_keep``), this is
    transitive-closure-exact: a chain A~B~C keeps only one doc even when
    A and C never paired directly. Pairs may come from any tier —
    MinHash-LSH (`minhash_lsh_pairs`, the 100 TB path), exact n-gram
    Jaccard, or embedding cosine — the composition is source-agnostic.

    Shape: components are O(log diameter) keyed shuffles (or the
    size-gated driver union-find for small graphs); the scored pick is
    one ``groupBy(cluster).agg(max(struct(score, id)))`` — a REAL
    aggregate with map-side combine, never a window; the final step is
    one LEFT ANTI hash join on the id against the dropped set
    (fixed-width keys, pre-deduplicated by construction).
    """
    clusters = duplicate_clusters(pairs, id_a, id_b)
    if score_col is None:
        drops = clusters.where(F.col("id") != F.col("cluster_id")).select(
            F.col("id").alias(id_col)
        )
        return df.join(drops, id_col, "left_anti")
    if best not in ("max", "min"):
        raise ValueError(f"best must be 'max' or 'min', got {best!r}")
    scored = clusters.join(
        df.select(F.col(id_col).alias("id"), F.col(score_col).alias("__s__")), "id"
    )
    # leading null-flag makes "NULL score loses" hold under BOTH
    # orientations (bare struct comparison would rank NULL smallest and
    # let it win under best='min')
    if best == "max":
        agg, key = F.max, F.struct(
            F.col("__s__").isNotNull().cast("int").alias("__f__"),
            F.col("__s__"), F.col("id"),
        )
    else:
        agg, key = F.min, F.struct(
            F.col("__s__").isNull().cast("int").alias("__f__"),
            F.col("__s__"), F.col("id"),
        )
    keepers = (
        scored.groupBy("cluster_id")
        .agg(agg(key).alias("__k__"))
        .select(F.col("__k__.id").alias("__keep__"))
    )
    drops = (
        clusters.join(keepers, clusters["id"] == keepers["__keep__"], "left_anti")
        .select(F.col("id").alias(id_col))
    )
    return df.join(drops, id_col, "left_anti")


def contaminated_by_substring(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    eval_text_col: str | None = None,
    min_len: int = 20,
    max_eval_strings: int = 100_000,
) -> DataFrame:
    """Verbatim-leak decontamination: flag every train document that
    contains ANY eval string (answers, prompts, canaries) as an exact
    substring — the complement of n-gram OVERLAP scoring, which a short
    verbatim answer inside a long document dilutes below threshold.

    Shape: the distinct eval strings (≥ ``min_len`` chars, deduplicated)
    are aggregated into ONE array row and cross-joined broadcast-style —
    the scan stays a narrow single pass per train document and the
    `exists(contains)` probe is whole-stage codegen, no Python. This is
    deliberately the small-eval-side plan (benchmark sets are KBs–MBs
    next to a 100 TB corpus); ``max_eval_strings`` guards the broadcast:
    exceeding it raises rather than silently building a huge plan —
    split the eval set or fall back to n-gram overlap at that size.
    """
    eval_text_col = text_col if eval_text_col is None else eval_text_col
    ev = (
        eval_df.select(F.col(eval_text_col).alias("__s__"))
        .where(F.length(F.col("__s__")) >= min_len)
        .distinct()
    )
    n_eval = ev.count()
    if n_eval > max_eval_strings:
        raise ValueError(
            f"{n_eval} eval strings exceeds max_eval_strings={max_eval_strings}; "
            "split the eval set or use ngram_overlap_vs_eval at this size"
        )
    needles = ev.agg(F.collect_list("__s__").alias("__needles__"))
    # fresh column names on the train side: eval often DERIVES from the
    # same frame as train (e.g. a %-split of one corpus), and a shared
    # text attribute would resolve into the eval branch — where the
    # aggregate has projected it away (unresolvable at execution)
    t = train.select(F.col(id_col).alias("__id__"), F.col(text_col).alias("__t__"))
    hit = F.exists(F.col("__needles__"), lambda s: F.contains(F.col("__t__"), s))
    return (
        t.crossJoin(F.broadcast(needles))
        .select(
            F.col("__id__").alias(id_col),
            F.coalesce(hit, F.lit(False)).cast("long").alias("contaminated"),
        )
    )


def decontaminate_minhash(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    num_perm: int = 16,
    bands: int = 4,
    shingle_size: int = 3,
    jaccard_threshold: float = 0.5,
    hash_family: str = "siphash",
    broadcast_eval: bool = True,
) -> DataFrame:
    """FUZZY decontamination: flag training documents near-duplicating
    any eval document (NeMo-Curator-style cross-corpus MinHash dedup —
    catches paraphrased/reformatted benchmark leakage that the exact
    n-gram tiers `ngram_overlap_vs_eval*` miss).

    Pipeline — the cross-corpus variant of ``minhash_lsh_pairs``:
    signature both sides → band → equi-join train bands against EVAL
    bands → exact-Jaccard verify of the candidates → one row per
    contaminated (train, eval) pair, aggregated to
    ``(id, n_eval_matches, max_jaccard)``.

    100 TB shape: eval benchmarks are KB-to-GB next to the corpus, so
    the banded eval table is BROADCAST (``broadcast_eval=True``,
    default) — the corpus streams map-side through the band join with
    NO shuffle of the training side; the only corpus-wide exchanges are
    the signature aggregation (map-side combined) and the final
    per-doc aggregate. With a too-big-to-broadcast eval side, pass
    ``broadcast_eval=False`` for a shuffle-hash join on (band, bandsig).

    ``hash_family``: "siphash" (default; fused Arrow one-pass shingle+
    signature, the production tier) or "md5" (portable 60-bit md5
    minhashes — bit-reproducible in ANSI SQL, the oracle-checked tier).
    Both families run THIS same banding/join/verify code — the checked
    tier exercises every line of the production tier except the hash
    atom itself.
    """
    if num_perm % bands != 0:
        raise ValueError("num_perm must be divisible by bands")
    rows_per_band = num_perm // bands

    # sig_frame returns (shingle frame, signature frame) as SEPARATE
    # relations: the banding consumer needs only (__id__, __sig__) and
    # the verify consumer only (__id__, __shingles__). The former shape
    # joined the signatures back onto the shingle frame and handed the
    # joined relation to both consumers — Catalyst cannot prune an
    # inner join it can't prove row-preserving, so the md5 tier's
    # signature min-aggregation (num_perm md5 calls per shingle — the
    # whole banding cost) and the id-keyed join ran TWICE, once per
    # consumer. Splitting the surfaces halves the signature work and
    # drops both join exchanges; values are identical (both consumers
    # see exactly the rows they saw through the join).
    if hash_family == "md5":
        def sig_frame(df: DataFrame):
            # md5-priced compute → 16 KiB/slot (see md5_band_signatures)
            base = shingled_frame(
                df, id_col, text_col, shingle_size, bytes_per_slot=16 << 10
            ).withColumnRenamed("__sh__", "__shingles__")
            ex = base.select("__id__", F.explode("__shingles__").alias("__s__"))
            sigs = ex.groupBy("__id__").agg(
                F.array(
                    *[F.min(_md5_minhash_col(F.col("__s__"), i)) for i in range(num_perm)]
                ).alias("__sig__")
            )
            return base, sigs
    elif hash_family == "siphash":
        def sig_frame(df: DataFrame):
            fused = _fused_base(df, id_col, text_col, shingle_size, num_perm).withColumnRenamed(
                "__sh__", "__shingles__"
            )
            return fused, fused
    else:
        raise ValueError(f"unknown hash_family {hash_family!r}")

    def banded(sig: DataFrame) -> DataFrame:
        band_sigs = [
            F.concat_ws(
                ",",
                *[
                    F.element_at("__sig__", b * rows_per_band + j + 1).cast("string")
                    for j in range(rows_per_band)
                ],
            )
            for b in range(bands)
        ]
        return sig.select(
            "__id__", F.posexplode(F.array(*band_sigs)).alias("__band__", "__bandsig__")
        )

    t_base, t_sig = sig_frame(train)
    e_base, e_sig = sig_frame(eval_df)
    e_banded = banded(e_sig)
    if broadcast_eval:
        e_banded = F.broadcast(e_banded)
    candidates = (
        banded(t_sig)
        .alias("l")
        .join(
            e_banded.alias("r"),
            (F.col("l.__band__") == F.col("r.__band__"))
            & (F.col("l.__bandsig__") == F.col("r.__bandsig__")),
        )
        .select(F.col("l.__id__").alias("id_a"), F.col("r.__id__").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    a = t_base.select(F.col("__id__").alias("id_a"), F.col("__shingles__").alias("__sh_a__"))
    b = e_base.select(F.col("__id__").alias("id_b"), F.col("__shingles__").alias("__sh_b__"))
    if broadcast_eval:
        b = F.broadcast(b)
    pairs = (
        candidates.join(a, "id_a")
        .join(b, "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("__sh_a__", "__sh_b__"))
            / F.size(F.array_union("__sh_a__", "__sh_b__")),
        )
        .where(F.col("jaccard") >= jaccard_threshold)
    )
    return pairs.groupBy(F.col("id_a").alias(id_col)).agg(
        F.count("*").alias("n_eval_matches"),
        F.max("jaccard").alias("max_jaccard"),
    )


def remove_duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 10,
    keep_canonical: bool = True,
) -> DataFrame:
    """Exact duplicate-SPAN removal (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): any run of ``k``
    consecutive word tokens that occurs more than once in the corpus
    (across documents OR repeated within one) is removed everywhere
    except its canonical first occurrence — the min ``(doc_id, pos)``
    over the span digest. Unlike document-level dedup (``exact_dedup``,
    MinHash-LSH), this cuts shared boilerplate out of otherwise-unique
    documents. Lee et al. use byte-level suffix arrays; token-level
    k-gram coverage keeps the operator distributed-joinable and
    oracle-replayable while preserving the span semantics.

    Returns ``(id, total_tokens, removed_tokens, clean_text)`` where
    ``clean_text`` is the surviving tokens rejoined with single spaces
    (a token-level rewrite — original whitespace/punctuation between
    removed spans is not reconstructed; the tokenizer is the corpus-wide
    ``[^\\p{L}\\p{N}]+`` split shared with the jaccard/shingle tiers).

    100 TB shape — all keyed, no driver state, no Python:
      1. one scan emits (id, pos, md5-of-k-gram): n-k+1 grams/doc;
      2. ``groupBy(digest)`` with count + ``min(struct(id,pos))`` —
         partial aggregation absorbs hot boilerplate digests map-side
         (same skew defense as paragraph dedup);
      3. duplicated digests equi-join back to occurrences (high-
         cardinality md5 keys — no skew hot-spot);
      4. covered token positions = ``explode(sequence(pos, pos+k-1))``
         per surviving duplicate occurrence, distinct per (id, pos) —
         bounded by k × duplicate occurrences, NOT corpus size;
      5. LEFT ANTI join of the token stream on covered positions, then
         one keyed groupBy(id) rebuilds documents.
    Docs shorter than ``k`` tokens emit no grams and pass through
    whole.
    """
    toks = F.filter(tokens_col(text_col), lambda t: t != "")
    staged = df.select(F.col(id_col).alias("__id__"), toks.alias("__tk__"))
    n = F.size("__tk__")

    gram_idx = F.when(
        n >= k, F.sequence(F.lit(0), n - F.lit(k))
    ).otherwise(F.array().cast("array<int>"))
    grams = staged.select(
        "__id__",
        F.explode(
            F.transform(
                gram_idx,
                lambda i: F.struct(
                    i.alias("pos"),
                    F.md5(
                        F.encode(F.concat_ws(" ", F.slice("__tk__", i + 1, k)), "UTF-8")
                    ).alias("dig"),
                ),
            )
        ).alias("__g__"),
    ).select("__id__", F.col("__g__.pos").alias("__pos__"), F.col("__g__.dig").alias("__dig__"))

    stats = grams.groupBy("__dig__").agg(
        F.count("*").alias("__cnt__"),
        F.min(F.struct(F.col("__id__"), F.col("__pos__"))).alias("__first__"),
    )
    dup = stats.where(F.col("__cnt__") > 1)

    marked = grams.join(dup, "__dig__")
    if keep_canonical:
        marked = marked.where(
            ~(
                (F.col("__id__") == F.col("__first__.__id__"))
                & (F.col("__pos__") == F.col("__first__.__pos__"))
            )
        )
    covered = (
        marked.select(
            "__id__",
            F.explode(F.sequence(F.col("__pos__"), F.col("__pos__") + F.lit(k - 1))).alias(
                "__cov__"
            ),
        )
        .dropDuplicates(["__id__", "__cov__"])
    )

    tokpos = staged.select(
        "__id__",
        n.alias("__n__"),
        F.posexplode_outer("__tk__").alias("__pos__", "__tok__"),
    )
    # LEFT join + flag (not LEFT ANTI): a doc whose EVERY token is
    # covered must still emit a row (empty clean_text), not vanish.
    flagged = tokpos.alias("t").join(
        covered.alias("c"),
        (F.col("t.__id__") == F.col("c.__id__"))
        & (F.col("t.__pos__") == F.col("c.__cov__")),
        "left_outer",
    ).select(
        F.col("t.__id__").alias("__id__"),
        F.col("t.__n__").alias("__n__"),
        F.col("t.__pos__").alias("__pos__"),
        F.col("t.__tok__").alias("__tok__"),
        F.col("c.__cov__").isNotNull().alias("__removed__"),
    )
    surviving = F.col("__tok__").isNotNull() & ~F.col("__removed__")
    out = flagged.groupBy("__id__").agg(
        F.max("__n__").cast("long").alias("total_tokens"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(surviving, F.struct(F.col("__pos__"), F.col("__tok__")))
                    )
                ),
                lambda s: s["__tok__"],
            ),
        ).alias("clean_text"),
        F.sum(surviving.cast("long")).alias("__kept__"),
    )
    return out.select(
        F.col("__id__").alias(id_col),
        "total_tokens",
        (F.col("total_tokens") - F.col("__kept__")).cast("long").alias("removed_tokens"),
        "clean_text",
    )


def duplicate_span_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 10,
    top: int = 100,
) -> DataFrame:
    """Corpus boilerplate report: the ``top`` most-duplicated k-token
    spans with occurrence count, distinct-document count, and the span
    text — the analysis companion to :func:`remove_duplicate_spans`
    (run this first to see WHAT would be cut; shared license headers,
    navigation chrome and template sentences surface immediately).

    Returns ``(span, n_occurrences, n_docs)`` ordered by
    ``(n_occurrences DESC, span)`` — a deterministic total order, so
    the top-N cut is rerun- and engine-stable.

    100 TB shape: one scan emits (id, span-text) per k-gram;
    ``groupBy(span)`` count + approx-free distinct-doc count via a
    two-level agg (doc-level dedup first, so the hot-span groupBy
    carries one row per (span, doc) — partial agg absorbs the rest);
    the top-N is ``TakeOrderedAndProject``, never a global sort. The
    shuffle key carries the span text (k × avg-token bytes) — for very
    large k prefer digests + a second join; at the k≤20 curation range
    the text key keeps it one pass.
    """
    toks = F.filter(tokens_col(text_col), lambda t: t != "")
    staged = df.select(F.col(id_col).alias("__id__"), toks.alias("__tk__"))
    n = F.size("__tk__")
    gram_idx = F.when(
        n >= k, F.sequence(F.lit(0), n - F.lit(k))
    ).otherwise(F.array().cast("array<int>"))
    grams = staged.select(
        "__id__",
        F.explode(
            F.transform(
                gram_idx, lambda i: F.concat_ws(" ", F.slice("__tk__", i + 1, k))
            )
        ).alias("span"),
    )
    per_doc = grams.groupBy("span", "__id__").agg(
        F.count("*").alias("__occ__")
    )
    stats = per_doc.groupBy("span").agg(
        F.sum("__occ__").alias("n_occurrences"),
        F.count("*").alias("n_docs"),
    )
    return (
        stats.where(F.col("n_occurrences") > 1)
        .orderBy(F.col("n_occurrences").desc(), F.col("span"))
        .limit(top)
    )


def span_novelty_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 8,
) -> DataFrame:
    """Corpus-level novelty per document: of the doc's k-token spans,
    what fraction occurs NOWHERE else in the corpus (count == 1 over
    all occurrences, including within-doc repeats). 1.0 = fully novel
    text; low values = template/boilerplate-heavy documents — the
    corpus-wide complement of the within-doc
    :func:`~plateau_spark.operators.text.duplicate_ngram_fraction_col`,
    and the before/after metric for a span-dedup pass
    (:func:`remove_duplicate_spans` drives novelty toward 1.0).

    Returns ``(id, n_spans, novel_spans, novelty)``; docs shorter than
    ``k`` tokens have 0 spans and a NULL novelty.

    100 TB shape: the same digest ``groupBy`` as the span-dedup tier
    (map-side combine absorbs hot boilerplate), one equi-join back on
    the high-cardinality digest, one keyed per-doc agg — no driver
    state, no Python.
    """
    toks = F.filter(tokens_col(text_col), lambda t: t != "")
    staged = df.select(F.col(id_col).alias("__id__"), toks.alias("__tk__"))
    n = F.size("__tk__")
    gram_idx = F.when(
        n >= k, F.sequence(F.lit(0), n - F.lit(k))
    ).otherwise(F.array().cast("array<int>"))
    grams = staged.select(
        "__id__",
        F.explode(
            F.transform(
                gram_idx,
                lambda i: F.md5(
                    F.encode(F.concat_ws(" ", F.slice("__tk__", i + 1, k)), "UTF-8")
                ),
            )
        ).alias("__dig__"),
    )
    counts = grams.groupBy("__dig__").agg(F.count("*").alias("__cnt__"))
    per_doc = (
        grams.join(counts, "__dig__")
        .groupBy("__id__")
        .agg(
            F.count("*").alias("n_spans"),
            F.sum((F.col("__cnt__") == 1).cast("long")).alias("novel_spans"),
        )
    )
    return (
        staged.select("__id__")
        .join(per_doc, "__id__", "left")
        .select(
            F.col("__id__").alias(id_col),
            F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
            F.coalesce("novel_spans", F.lit(0)).alias("novel_spans"),
            F.when(
                F.col("n_spans") > 0,
                F.round(F.col("novel_spans") * F.lit(1.0) / F.col("n_spans"), 6),
            ).alias("novelty"),
        )
    )


def lsh_quality_report(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    jaccard_threshold: float = 0.2,
    num_perm: int = 16,
    bands: int = 4,
    shingle_size: int = 3,
) -> DataFrame:
    """LSH tuning harness: precision/recall of the MinHash-LSH
    CANDIDATE set against exact n-gram-Jaccard ground truth at
    ``jaccard_threshold`` - the one-row report that answers "are
    (num_perm, bands) right for this corpus?" before a full dedup run.
    Low precision means wasted verify work (too-coarse bands); low
    recall means missed near-dups (raise bands or num_perm).

    Candidates are the banded equi-join pairs BEFORE Jaccard
    verification (verification makes precision 1 by construction -
    the report measures the banding itself). Ground truth is the
    inverted-index exact tier (``ngram_jaccard_pairs``), restricted by
    construction to pairs sharing at least one shingle - every pair at
    or above any positive threshold shares one, so the restriction is
    lossless for truth.

    Run it on a SAMPLE at 100 TB (the exact tier is the quadratic
    one); the report is three keyed joins + three counts, one output
    row: (num_perm, bands, threshold, n_candidates, n_truth, n_hits,
    precision, recall).
    """
    banded = md5_band_signatures(
        df, id_col, text_col,
        num_perm=num_perm, bands=bands, shingle_size=shingle_size,
    )
    a = banded.select("band", "bandsig", F.col(id_col).alias("id_a"))
    b = banded.select("band", "bandsig", F.col(id_col).alias("id_b"))
    cand = (
        a.join(b, ["band", "bandsig"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    truth = ngram_jaccard_pairs(
        df, id_col, text_col,
        shingle_size=shingle_size, jaccard_threshold=jaccard_threshold,
    ).select("id_a", "id_b")
    # ONE action for all three counts: tag each side, collapse to one
    # row per distinct pair with presence flags, then count flags. The
    # former shape checkpointed cand and truth and ran THREE actions
    # (count, count, join+count) — two extra full job launches plus a
    # pair-keyed join exchange, and the checkpoint blocks needed an
    # explicit release (the r11 bench-variance nit). The per-pair
    # max-flag groupBy subsumes the old distinct, so candidate dedup
    # costs the same single exchange it always did, and n_hits =
    # pairs carrying both flags ≡ the old inner join's row count.
    counts = (
        cand.select("id_a", "id_b", F.lit(1).alias("__c__"), F.lit(0).alias("__t__"))
        .unionByName(
            truth.select(
                "id_a", "id_b", F.lit(0).alias("__c__"), F.lit(1).alias("__t__")
            )
        )
        .groupBy("id_a", "id_b")
        .agg(F.max("__c__").alias("__c__"), F.max("__t__").alias("__t__"))
        .agg(
            F.sum("__c__").alias("__nc__"),
            F.sum("__t__").alias("__nt__"),
            F.sum(F.col("__c__") * F.col("__t__")).alias("__nh__"),
        )
        .first()
    )
    n_cand = int(counts["__nc__"] or 0)
    n_truth = int(counts["__nt__"] or 0)
    n_hits = int(counts["__nh__"] or 0)
    precision = float(n_hits) / float(n_cand) if n_cand else None
    recall = float(n_hits) / float(n_truth) if n_truth else None
    return df.sparkSession.createDataFrame(
        [
            (
                int(num_perm), int(bands), float(jaccard_threshold),
                n_cand, n_truth, n_hits, precision, recall,
            )
        ],
        "num_perm int, bands int, threshold double, n_candidates long, "
        "n_truth long, n_hits long, precision double, recall double",
    )
