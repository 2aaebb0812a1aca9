"""DatasetMetadata — the commit file (single source of truth for a dataset).

Semantics mirror the reference's DatasetMetadata / DatasetMetadataBuilder
(/root/reference/plateau/core/dataset.py:63-93,847-1041) and the
copy-on-write commit protocol
(docs/spec/format_specification.rst:34-54): one JSON file per dataset
holds the explicit partition list (label → file key), partition keys,
normalized schema, secondary-index pointers and user metadata. Every
state change writes data files FIRST, then swaps this one file — a
single atomic put — so readers are lock-free and never observe a
partial commit.

Spark relevance: scans read *explicit path lists* taken from this file
(never directory listings), which (a) makes commits atomic without a
transaction log, (b) lets the planner prune partitions driver-side via
partition-key values and secondary indexes before Spark ever lists a
file, giving O(1) metadata calls per query plan.
"""

from __future__ import annotations

import datetime
from dataclasses import dataclass, field
from typing import Any, Sequence

from pyspark.sql import types as T

from plateau_spark.core import naming
from plateau_spark.core.schema import schema_from_json, schema_to_json
from plateau_spark.core.store import Store
from plateau_spark.core.urlencode import decode_partition_label


class MetadataConsistencyError(RuntimeError):
    """The commit file exists but cannot be parsed/understood — a
    half-written or corrupted metadata document (the reference's
    metadata-consistency failure class, surfaced with the store key so
    the operator knows WHAT to inspect, instead of a bare JSON parse
    error with no context)."""


@dataclass
class Partition:
    """label + file key (relative to store root) + partition-key values.

    Reference: plateau/core/partition.py:8-52. Key values are stored
    explicitly so pruning never has to parse paths (SURVEY.md §7
    hard-part 5).

    ``stats`` are optional per-file zone maps: ``{column: [min, max,
    null_count]}`` harvested from parquet footers at write time (see
    ``plans/zonemaps.py``). The planner uses them to falsify
    conjunctions on NON-key, non-indexed columns driver-side — the
    partition-granular analog of parquet row-group stats, available
    before any file is opened. ``min``/``max`` are None for an all-NULL
    chunk; ``null_count`` is None when the footer didn't record it.
    """

    label: str
    file: str
    key_values: dict[str, Any] = field(default_factory=dict)
    row_count: int | None = None
    stats: dict[str, list] = field(default_factory=dict)

    def to_json(self) -> dict:
        out: dict[str, Any] = {"files": {naming.TABLE_NAME: self.file}}
        if self.key_values:
            out["key_values"] = {k: _json_value(v) for k, v in self.key_values.items()}
        if self.row_count is not None:
            out["row_count"] = self.row_count
        if self.stats:
            out["stats"] = {
                c: [_json_value(s[0]), _json_value(s[1]), s[2]]
                for c, s in self.stats.items()
            }
        return out


def _json_value(v: Any) -> Any:
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    return v


@dataclass
class DatasetMetadata:
    uuid: str
    partitions: dict[str, Partition] = field(default_factory=dict)
    partition_keys: list[str] = field(default_factory=list)
    schema: T.StructType | None = None
    indices: dict[str, str] = field(default_factory=dict)  # column → index file key
    # reference-interop: commit files written by the reference may embed
    # a loaded index inline as {value: [labels]} instead of a storage
    # key (plateau/core/dataset.py:200-208); kept separately so every
    # consumer of `indices` still sees storage keys only
    embedded_indices: dict[str, dict] = field(default_factory=dict)
    # extension beyond the reference: per-file Bloom-filter sidecars —
    # column → {"key": sidecar parquet key, "n_bits": int, "k": int}
    # (plans/blooms.py). Reference-written commit files simply lack the
    # field; reference readers ignore it.
    blooms: dict[str, dict] = field(default_factory=dict)
    metadata: dict[str, Any] = field(default_factory=dict)
    explicit_partitions: bool = True
    metadata_version: int = naming.METADATA_VERSION
    # optimistic-concurrency marker (extension beyond the reference,
    # SURVEY §7 hard-part 1): bumped on every commit; update paths use
    # it to detect a concurrent committer and merge append-only commits
    # instead of silently overwriting them. Reference-written files lack
    # the field (→ 0); reference readers ignore it.
    generation: int = 0

    # -- (de)serialization --------------------------------------------------
    def to_json(self) -> dict:
        return {
            "dataset_uuid": self.uuid,
            "metadata_version": self.metadata_version,
            "partition_keys": self.partition_keys,
            "partitions": {label: p.to_json() for label, p in self.partitions.items()},
            "indices": self.indices,
            "schema": schema_to_json(self.schema) if self.schema is not None else None,
            "metadata": self.metadata,
            "explicit_partitions": self.explicit_partitions,
            "generation": self.generation,
            **({"blooms": self.blooms} if self.blooms else {}),
        }

    @classmethod
    def from_json(cls, payload: dict) -> "DatasetMetadata":
        partitions = {}
        pkeys = payload.get("partition_keys", [])
        schema = (
            schema_from_json(payload["schema"]) if payload.get("schema") else None
        )
        key_types = {}
        if schema is not None:
            key_types = {f.name: f.dataType for f in schema.fields if f.name in pkeys}
        for label, pj in payload.get("partitions", {}).items():
            kv = pj.get("key_values")
            if kv is None and pkeys:
                kv = decode_partition_label(label, pkeys, key_types)
            files = pj["files"]
            # v4 single-table datasets name the table "table"; accept a
            # reference file written under a different (single) name
            file = files.get(naming.TABLE_NAME)
            if file is None:
                if len(files) != 1:
                    raise ValueError(
                        f"Multi-table partition {label!r} not supported: {sorted(files)}"
                    )
                (file,) = files.values()
            col_types = {f.name: f.dataType for f in schema.fields} if schema else {}
            partitions[label] = Partition(
                label=label,
                file=file,
                key_values=_revive_key_values(kv or {}, key_types),
                row_count=pj.get("row_count"),
                stats={
                    c: [
                        _revive_stat(s[0], col_types.get(c)),
                        _revive_stat(s[1], col_types.get(c)),
                        s[2],
                    ]
                    for c, s in (pj.get("stats") or {}).items()
                },
            )
        # reference index values are either an external storage key (str)
        # or an embedded {value: [labels]} dict for loaded indices
        indices: dict[str, str] = {}
        embedded: dict[str, dict] = {}
        for col, v in (payload.get("indices") or {}).items():
            if isinstance(v, str):
                indices[col] = v
            elif isinstance(v, dict):
                embedded[col] = v
            else:
                raise ValueError(f"Unsupported index payload for {col!r}: {type(v)}")
        # the reference names this field dataset_metadata_version
        metadata_version = payload.get(
            "metadata_version",
            payload.get("dataset_metadata_version", naming.METADATA_VERSION),
        )
        naming.verify_metadata_version(metadata_version)
        return cls(
            uuid=payload["dataset_uuid"],
            partitions=partitions,
            partition_keys=list(pkeys),
            schema=schema,
            indices=indices,
            embedded_indices=embedded,
            blooms=dict(payload.get("blooms", {})),
            metadata=dict(payload.get("metadata", {})),
            explicit_partitions=payload.get("explicit_partitions", True),
            metadata_version=metadata_version,
            generation=int(payload.get("generation", 0)),
        )

    # -- store round-trip ----------------------------------------------------
    @classmethod
    def load(
        cls, store: Store, dataset_uuid: str, generation: int | None = None
    ) -> "DatasetMetadata":
        """Load the commit file: JSON first, then the reference's
        zstd-msgpack alternate (``.by-dataset-metadata.msgpack.zstd``) —
        same fallback order as the reference loader
        (plateau/core/dataset.py:556-569), so datasets written by the
        reference engine with either storage format open here."""
        if generation is not None:
            hkey = naming.history_key(dataset_uuid, generation)
            if not store.exists(hkey):
                raise KeyError(
                    f"Dataset {dataset_uuid!r} generation {generation} is not "
                    f"available: never committed, or its snapshot was "
                    f"reclaimed by garbage_collect_dataset (time travel is "
                    f"valid until GC)"
                )
            return cls._parse(store.get_json, hkey)
        json_key = naming.metadata_key(dataset_uuid)
        if store.exists(json_key):
            return cls._parse(store.get_json, json_key)
        mp_key = naming.msgpack_metadata_key(dataset_uuid)
        if store.exists(mp_key):
            from plateau_spark.core.msgpack_codec import unpack_zstd

            return cls._parse(
                lambda k: unpack_zstd(store.get_bytes(k)), mp_key
            )
        raise KeyError(f"Dataset does not exist. Tried {json_key} and {mp_key}")

    @classmethod
    def load_if_exists(cls, store: Store, dataset_uuid: str) -> "DatasetMetadata | None":
        """``load``, or None when the dataset has no commit file — one
        probe fewer than ``exists`` followed by ``load``."""
        try:
            return cls.load(store, dataset_uuid)
        except KeyError:
            return None

    @classmethod
    def _parse(cls, get, key: str) -> "DatasetMetadata":
        """Decode + validate one commit document, converting parse/shape
        failures into :class:`MetadataConsistencyError` naming the key.
        A corrupt commit file must fail with WHAT is corrupt — the
        atomic-put protocol means this only happens through outside
        interference (partial manual copy, bit rot), and the operator's
        next step is inspecting/restoring that specific key."""
        try:
            doc = get(key)
            if not isinstance(doc, dict):
                raise TypeError(
                    f"expected a JSON object, got {type(doc).__name__}"
                )
        except FileNotFoundError:
            raise  # raced with a delete: the caller's not-exists path
        except Exception as e:
            raise MetadataConsistencyError(
                f"Commit document {key!r} exists but cannot be parsed "
                f"({type(e).__name__}: {e}). The file is corrupt or "
                f"half-copied; restore it from a history snapshot "
                f"(restore_dataset / read generation=N) or re-copy the "
                f"dataset."
            ) from e
        # from_json's own typed errors (future metadata version,
        # multi-table layout, ...) are deliberate contracts — pass them
        # through; only structural decode garbage wraps
        try:
            return cls.from_json(doc)
        except (NotImplementedError, ValueError):
            raise
        except Exception as e:
            raise MetadataConsistencyError(
                f"Commit document {key!r} parsed but does not describe a "
                f"dataset ({type(e).__name__}: {e}). The file is corrupt "
                f"or half-copied; restore it from a history snapshot or "
                f"re-copy the dataset."
            ) from e

    @classmethod
    def exists(cls, store: Store, dataset_uuid: str) -> bool:
        return store.exists(naming.metadata_key(dataset_uuid)) or store.exists(
            naming.msgpack_metadata_key(dataset_uuid)
        )

    def commit(self, store: Store, *, storage_format: str = "json") -> None:
        """THE atomic commit: one put of the metadata file.

        ``storage_format="msgpack"`` writes the reference's zstd-msgpack
        layout instead. Whichever format is written, the other-format
        key is removed afterwards (readers prefer JSON, so a stale JSON
        commit would shadow a newer msgpack one).
        """
        self.generation += 1
        # reference parity: every committed dataset carries an ISO
        # creation_time in its user metadata unless the writer set one
        # (/root/reference/plateau/core/dataset.py:1044-1048); the
        # per-commit committed_at (extension) timestamps THIS generation
        # so time travel can resolve "as of <wall clock>" to a
        # generation (see sources/dataset.py:generation_at_timestamp)
        _utc = datetime.datetime.now(datetime.timezone.utc)
        # creation_time matches the reference's naive-UTC isoformat
        # ('2000-01-01T01:01:01.000001', no offset suffix) so tools that
        # parse the reference format keep working; committed_at (our
        # extension) MUST stay tz-aware — generation_at_timestamp
        # normalizes only its as_of argument and compares the stored
        # stamp as-is, so a naive committed_at would make the
        # naive-vs-aware comparison raise
        self.metadata.setdefault(
            "creation_time", _utc.replace(tzinfo=None).isoformat()
        )
        self.metadata["committed_at"] = _utc.isoformat()
        if storage_format == "json":
            store.put_json(naming.metadata_key(self.uuid), self.to_json(), atomic=True)
            stale = naming.msgpack_metadata_key(self.uuid)
            # time-travel snapshot (valid until GC; see naming.history_key)
            store.put_json(
                naming.history_key(self.uuid, self.generation), self.to_json(),
                atomic=True,
            )
        elif storage_format == "msgpack":
            from plateau_spark.core.msgpack_codec import pack_zstd

            store.put_bytes(naming.msgpack_metadata_key(self.uuid), pack_zstd(self.to_json()))
            stale = naming.metadata_key(self.uuid)
            # history snapshots are always JSON (read path is format-agnostic)
            store.put_json(
                naming.history_key(self.uuid, self.generation), self.to_json(),
                atomic=True,
            )
        else:
            raise ValueError(f"Unknown storage_format: {storage_format!r}")
        store.delete(stale)  # a no-op when there is none

    def has_index(self, column: str) -> bool:
        return column in self.indices or column in self.embedded_indices

    def secondary_index(self, store: Store, column: str, literals=None):
        """The column's SecondaryIndex — loaded from its external parquet
        file, or materialized from an embedded reference-written index."""
        from plateau_spark.plans.index import SecondaryIndex

        if column in self.indices:
            return SecondaryIndex.load(store, self.indices[column], column, literals=literals)
        return SecondaryIndex(
            column,
            {v: set(labels) for v, labels in self.embedded_indices[column].items()},
        )

    # -- queries --------------------------------------------------------------
    def query(self, **kwargs: Any) -> list[str]:
        """Partition labels matching all ``column=value`` constraints
        (partition keys only here; secondary indexes handled by the
        planner). Reference: plateau/core/dataset.py:324-354."""
        labels = []
        for label, part in self.partitions.items():
            if all(part.key_values.get(k) == v for k, v in kwargs.items()):
                labels.append(label)
        return sorted(labels)

    def referenced_keys(self) -> set[str]:
        """All store keys referenced by the current state (for GC)."""
        keys = {p.file for p in self.partitions.values()}
        keys.update(self.indices.values())
        keys.update(b["key"] for b in self.blooms.values())
        # the CURRENT generation's time-travel snapshot stays readable
        # across GC (it references exactly the surviving files); older
        # snapshots are reclaimed — the VACUUM contract
        keys.add(naming.history_key(self.uuid, self.generation))
        return keys


def _revive_stat(v: Any, dtype: T.DataType | None) -> Any:
    """JSON round-trip loses date/timestamp types in zone-map stats;
    revive from the schema (numerics pass through)."""
    if v is None or dtype is None or not isinstance(v, str):
        return v
    if isinstance(dtype, T.DateType):
        return datetime.date.fromisoformat(v)
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        return datetime.datetime.fromisoformat(v)
    return v


def _revive_key_values(kv: dict[str, Any], key_types: dict[str, T.DataType]) -> dict[str, Any]:
    """JSON round-trip loses date/timestamp types; revive from the schema."""
    out: dict[str, Any] = {}
    for k, v in kv.items():
        dt = key_types.get(k)
        if isinstance(v, str) and isinstance(dt, T.DateType):
            out[k] = datetime.date.fromisoformat(v)
        elif isinstance(v, str) and isinstance(dt, T.TimestampType):
            out[k] = datetime.datetime.fromisoformat(v)
        else:
            out[k] = v
    return out
