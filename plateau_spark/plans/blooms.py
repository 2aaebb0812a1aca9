"""Per-file Bloom-filter sidecars: equality/IN file pruning on
hash-scattered high-cardinality columns.

Zone maps (``plans/zonemaps.py``) prune only range-CLUSTERED columns —
for a hash-scattered column (url, doc_id, customer key) every file
spans the full value range and nothing prunes. Secondary inverted
indexes solve that exactly, but cost a full shuffle to build and grow
with the data. A per-file Bloom filter is the middle tier (the
Parquet/Iceberg bloom idea lifted to the driver-side planner): a fixed
``n_bits`` bitmap per (file, column), built file by file in the commit
harvest (``plans/harvest.py``; no shuffle of values), that lets the
planner drop files for ``==`` / ``in`` literals before Spark
schedules a single task. False positives only cost an extra file scan;
false negatives are impossible, and files written without a bloom
(other formats, pre-existing commits) are never pruned.

Layout: a sidecar parquet ``<uuid>/blooms/<column>/<ts>…`` with rows
``(word: int, label: string, bits: long)`` — the bitmap sliced into
64-bit words, sorted by ``word`` — plus one coverage row per covered
label at ``word = -1``. A point lookup needs only the k probed words,
so the planner reads O(k × matching row groups) via pyarrow filters,
never the whole sidecar (same discipline as ``SecondaryIndex.load``).
At 8192 bits (default) the sidecar is ≤ ~1 KB per file per column.

Hashing is md5-derived: one md5 of the value's string rendering, h1 and
h2 from its first two 15-hex-digit slices (h2 forced odd), positions
``(h1 + i*h2) % n_bits`` for i < k — the same bits as Spark SQL's
``pmod(conv(substring(md5(v), 1, 15), 16, 10) + i * h2, n_bits)``. The
build computes them with numpy (``bloom_position_array``), the planner
with ``bloom_positions``, and any other engine can replay them, so the
sidecar is portable and the planner needs no Spark session.
"""

from __future__ import annotations

import hashlib
from typing import Any, Sequence

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from plateau_spark.core import naming
from plateau_spark.core.store import Store
from plateau_spark.plans.index import _utc_ts

N_BITS_DEFAULT = 1 << 13  # 8192 bits = 1 KB per file per column
K_DEFAULT = 5
COVERAGE_WORD = -1  # marker row: this label HAS a bloom (absence ⇒ never prune)

# value→string rendering must agree between Spark's cast-to-string and
# Python's str(): exact for integrals and strings; floats/dates/bools
# are excluded rather than risking format drift
_BLOOM_OK_TYPES = (
    T.ByteType,
    T.ShortType,
    T.IntegerType,
    T.LongType,
    T.StringType,
)


def validate_bloom_columns(
    schema: T.StructType, columns: Sequence[str], partition_keys: Sequence[str]
) -> list[str]:
    fields = {f.name: f.dataType for f in schema.fields}
    bad = [c for c in columns if c not in fields]
    if bad:
        raise ValueError(f"bloom_filter_columns not in schema: {bad}")
    keyed = [c for c in columns if c in set(partition_keys)]
    if keyed:
        raise ValueError(
            f"bloom_filter_columns overlap partition keys (already pruned "
            f"exactly): {keyed}"
        )
    unsupported = [
        c for c in columns if not isinstance(fields[c], _BLOOM_OK_TYPES)
    ]
    if unsupported:
        raise ValueError(
            "bloom_filter_columns must be integer or string typed "
            f"(engine-stable rendering): {unsupported}"
        )
    return list(columns)


# hash-family identifier recorded in the metadata entry; a consult that
# sees an unknown family must NOT prune (forward compatibility)
HASH_FAMILY = "md5-km"  # Kirsch-Mitzenmacher double hashing over one md5
_K_MAX = 7  # (k-1)*h2 + h1 must stay under 2^63 with 60-bit h1/h2


def bloom_positions(value: Any, n_bits: int, k: int) -> list[int]:
    """The k bit positions of ``value``: md5 of its rendered string, then
    the double-hash walk (h1 + i*h2: Kirsch-Mitzenmacher, asymptotically
    as good as k independent hashes)."""
    hx = hashlib.md5(str(value).encode()).hexdigest()
    h1 = int(hx[:15], 16)
    h2 = int(hx[15:30], 16) | 1
    return [(h1 + i * h2) % n_bits for i in range(k)]


_U60 = np.uint64((1 << 60) - 1)


def bloom_position_array(values: pa.Array, n_bits: int, k: int) -> np.ndarray:
    """Vector twin of ``bloom_positions``: a ``(len(values), k)`` uint64
    array of the positions of each value of a NULL-free integer or
    string Arrow array. One md5 per value over ``pc.cast(values,
    string)`` (the same rendering as Spark's cast and Python's ``str``
    for these types); the k positions of the double-hash walk are one
    vector expression (h1 and h2 are under 2^60 and k <= 7, so
    ``h1 + i*h2`` never wraps)."""
    md5 = hashlib.md5
    strings = pc.cast(values, pa.string()).cast(pa.binary())
    blobs = strings.to_numpy(zero_copy_only=False)
    digests = np.frombuffer(
        b"".join([md5(b).digest() for b in blobs]), np.uint8
    ).reshape(len(blobs), 16)
    # hex digits 0-14 are the top 60 bits of digest bytes 0-7; hex
    # digits 15-29 the low 60 bits of bytes 7-14 (both big-endian)
    h1 = digests[:, 0:8].copy().view(">u8")[:, 0] >> np.uint64(4)
    h2 = (digests[:, 7:15].copy().view(">u8")[:, 0] & _U60) | np.uint64(1)
    steps = np.arange(k, dtype=np.uint64)
    return (h1[:, None] + steps[None, :] * h2[:, None]) % np.uint64(n_bits)


BLOOM_SCHEMA = pa.schema(
    [("word", pa.int32()), ("label", pa.string()), ("bits", pa.int64())]
)


def build_bloom_rows_driver(words: Sequence[tuple[str, np.ndarray]]) -> "pa.Table":
    """The sidecar rows of ``(label, uint64 bitmap words)`` per file (the
    commit harvest's Bloom words, ``plans/harvest.py``) as a
    ``BLOOM_SCHEMA`` table: one row per non-zero word, bits stored as
    signed int64 (two's complement), plus one coverage row per file.
    Both harvest placements build their rows here."""
    if not words:
        return BLOOM_SCHEMA.empty_table()
    bitmap = np.stack([w for _, w in words])
    file_of, word = np.nonzero(bitmap)
    n_files = len(words)
    labels = pa.array([label for label, _ in words], pa.string())
    return pa.table(
        {
            "word": np.concatenate(
                [word, np.full(n_files, COVERAGE_WORD)]
            ).astype(np.int32),
            "label": labels.take(np.concatenate([file_of, np.arange(n_files)])),
            "bits": np.concatenate(
                [bitmap[file_of, word].view(np.int64), np.zeros(n_files, np.int64)]
            ),
        },
        schema=BLOOM_SCHEMA,
    )


def build_bloom_dataframe(frame: DataFrame, column: str) -> DataFrame:
    """The Spark twin of ``build_bloom_rows_driver``: ``column``'s
    (word, label, bits) rows from a Spark-placed harvest's frame
    (``plans/harvest.py``, rows of kind ``bloom``)."""
    return frame.where(
        (F.col("kind") == "bloom") & (F.col("col") == column)
    ).select("word", "label", "bits")


def read_bloom_table(store: Store, key: str) -> pa.Table:
    """Whole-sidecar read as a ``BLOOM_SCHEMA`` table (driver merge)."""
    return store.read_parquet(key).select(BLOOM_SCHEMA.names).cast(BLOOM_SCHEMA)


def persist_bloom_rows(
    rows: "pa.Table", store: Store, dataset_uuid: str, column: str
) -> str:
    """Driver twin of ``persist_bloom_dataframe``: the
    ``BLOOM_SCHEMA`` rows as one small parquet file, sorted by (word,
    label) so a k-word lookup prunes row groups; returns the store key.
    The schema matches the Spark writer's so ``load_bloom_words`` and
    the Spark merge reader consume either interchangeably."""
    import io

    import pyarrow.parquet as pq

    table = rows.sort_by([("word", "ascending"), ("label", "ascending")])
    key = naming.bloom_key(dataset_uuid, column, _utc_ts())
    buf = io.BytesIO()
    pq.write_table(table, buf)
    store.put_bytes(key, buf.getvalue())
    return key


def persist_bloom_dataframe(
    bloom_df: DataFrame, store: Store, dataset_uuid: str, column: str
) -> str:
    """One small parquet, sorted by word so a k-word lookup prunes row
    groups; returns the store key."""
    key = naming.bloom_key(dataset_uuid, column, _utc_ts())
    (
        # repartition(1), NOT coalesce(1): coalesce propagates the
        # 1-partition constraint upstream and serializes the whole
        # build scan into one task; the shuffle barrier keeps the
        # scan/hash/agg parallel and only funnels the tiny word rows
        bloom_df.repartition(1)
        .sortWithinPartitions("word", "label")
        .write.mode("overwrite")
        .parquet(store.url(key))
    )
    return key


def remove_labels_from_bloom_df(bloom_df: DataFrame, labels: set[str]) -> DataFrame:
    if not labels:
        return bloom_df
    return bloom_df.where(~F.col("label").isin(*[str(x) for x in labels]))


def load_bloom_words(
    store: Store, key: str, words: Sequence[int]
) -> dict[str, dict[int, int]]:
    """label → {word: bits} for the probed words plus the coverage
    marker. pyarrow row-group filters keep the read O(k words)."""
    want = sorted(set(int(w) for w in words) | {COVERAGE_WORD})
    table = store.read_parquet(key, filters=[("word", "in", want)])
    out: dict[str, dict[int, int]] = {}
    for word, label, bits in zip(
        table.column("word").to_pylist(),
        table.column("label").to_pylist(),
        table.column("bits").to_pylist(),
    ):
        out.setdefault(label, {})[word] = bits
    return out


class BloomConsult:
    """Plan-time evaluator for one dataset's bloom sidecars.

    Lazily loads only the probed words of each consulted column, once
    per plan. ``allowed_labels(conjunction)`` returns the labels that
    may satisfy every bloom-constrainable equality literal — or None
    when the conjunction has no such literal. Labels without coverage
    rows always stay allowed.
    """

    def __init__(self, store: Store, blooms: dict[str, dict]):
        self._store = store
        self._blooms = blooms or {}
        # column → (words loaded so far, label → {word: bits})
        self._loaded: dict[str, tuple[set[int], dict[str, dict[int, int]]]] = {}

    @staticmethod
    def _values_for(op: str, val: Any) -> list[Any] | None:
        if op in ("==", "=") and val is not None:
            return [val]
        if op == "in":
            vals = [v for v in val if v is not None]
            # a NULL member means the literal can match null rows, which
            # blooms never cover — unconstrained
            if len(vals) != len(list(val)):
                return None
            return vals
        return None

    def _column_words(self, column: str, values: Sequence[Any]) -> dict[str, dict[int, int]]:
        meta = self._blooms[column]
        n_bits, k = int(meta["n_bits"]), int(meta["k"])
        words: set[int] = set()
        for v in values:
            words.update(p >> 6 for p in bloom_positions(v, n_bits, k))
        ent = self._loaded.get(column)
        if ent is None or not words <= ent[0]:
            need = words | (ent[0] if ent else set())
            table = load_bloom_words(self._store, meta["key"], sorted(need))
            self._loaded[column] = (need, table)
        return self._loaded[column][1]

    def _label_may_contain(
        self, table: dict, label: str, values: Sequence[Any], n_bits: int, k: int
    ) -> bool:
        per_label = table.get(label)
        if per_label is None or COVERAGE_WORD not in per_label:
            return True  # no bloom for this file → never prune
        for v in values:
            ok = True
            for pos in bloom_positions(v, n_bits, k):
                bits = per_label.get(pos >> 6, 0)
                if not (bits >> (pos % 64)) & 1:
                    ok = False
                    break
            if ok:
                return True  # some candidate value may be present
        return False

    def allowed_labels(self, conjunction, labels: Sequence[str]) -> set[str] | None:
        constraints: list[tuple[str, list[Any]]] = []
        for col, op, val in conjunction:
            if col not in self._blooms:
                continue
            # a sidecar built under a different (or unrecorded) hash
            # family cannot be interpreted — never prune on it
            if self._blooms[col].get("hash") != HASH_FAMILY:
                continue
            values = self._values_for(op, val)
            if values is not None and values:
                constraints.append((col, values))
        if not constraints:
            return None
        allowed = set(labels)
        for col, values in constraints:
            meta = self._blooms[col]
            table = self._column_words(col, values)
            n_bits, k = int(meta["n_bits"]), int(meta["k"])
            allowed = {
                l
                for l in allowed
                if self._label_may_contain(table, l, values, n_bits, k)
            }
            if not allowed:
                break
        return allowed

