"""DatasetFactory — cached metadata/index access for composed reads.

Reference: plateau/core/factory.py (DatasetFactory is "the primary user
entry point when reading datasets": it caches the loaded commit file and
indices across API calls) and the O(1)-store-calls design target
(docs/spec/format_specification.rst:25-26). Without it, every
read_table/read_dataset_as_dataframe call re-GETs the commit file —
immaterial locally, but each GET is a remote round-trip on an object
store, and a driver composing several reads of one dataset pays it per
call.

Usage::

    factory = DatasetFactory(store, "my_dataset")
    a = read_table(spark, factory, predicates=...)   # 1 metadata GET
    b = read_table(spark, factory, columns=[...])    # 0 further GETs
    update_dataset_from_dataframe(spark, factory, df=...)  # invalidates

Every mutating API of ``sources/dataset.py`` (each commit, GC or
delete) that receives a factory invalidates it when the call exits, on
success and on failure, so a subsequent read reloads the new state.
External writers are not detected — like the reference, the factory
assumes the holder coordinates its own writes; call ``invalidate()``
after out-of-band commits.
"""

from __future__ import annotations

from typing import Any

from plateau_spark.core.metadata import DatasetMetadata
from plateau_spark.core.store import Store


def _freeze(literals) -> Any:
    """Hashable form of a literals list ([(op, value-or-list)])."""
    if literals is None:
        return None
    return tuple(
        (op, tuple(v) if isinstance(v, (list, set, tuple)) else v) for op, v in literals
    )


class DatasetFactory:
    def __init__(self, store: Store | str, dataset_uuid: str):
        self.store = store if isinstance(store, Store) else Store(store)
        self.dataset_uuid = dataset_uuid
        self._metadata: DatasetMetadata | None = None
        self._index_cache: dict[Any, Any] = {}

    def __repr__(self) -> str:  # pragma: no cover
        return (
            f"<DatasetFactory: uuid={self.dataset_uuid} "
            f"loaded={self._metadata is not None}>"
        )

    @property
    def metadata(self) -> DatasetMetadata:
        if self._metadata is None:
            self._metadata = DatasetMetadata.load(self.store, self.dataset_uuid)
        return self._metadata

    def exists(self) -> bool:
        return DatasetMetadata.exists(self.store, self.dataset_uuid)

    def secondary_index(self, column: str, literals=None):
        """Cached SecondaryIndex load. A full load (literals=None) also
        serves later literal-restricted requests — the full index
        subsumes any restriction."""
        full_key = (column, None)
        if full_key in self._index_cache:
            return self._index_cache[full_key]
        key = (column, _freeze(literals))
        if key not in self._index_cache:
            self._index_cache[key] = self.metadata.secondary_index(
                self.store, column, literals=literals
            )
        return self._index_cache[key]

    def invalidate(self) -> None:
        """Drop all cached state (call after any commit)."""
        self._metadata = None
        self._index_cache.clear()
