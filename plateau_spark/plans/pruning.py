"""Driver-side scan planning: partition pruning before Spark sees a path.

The reference's query planner (dispatch_metapartitions_from_factory,
/root/reference/plateau/io_components/read.py:17-126 +
plateau/core/dataset.py:356-491) prunes the explicit partition list by

  1. evaluating partition-key literals against each partition's key
     values (conjunction falsification,
     plateau/io_components/metapartition.py:538-586), and
  2. consulting secondary inverted indexes for predicate columns that
     have one (AND within a conjunction = intersection of posting
     lists; OR across conjunctions = union).

Only surviving partitions' file paths are handed to
``spark.read.parquet(*paths)`` — so a selective predicate on an indexed
or partition column touches O(matching partitions) files regardless of
dataset size. Residual filtering (row-group pruning + exact) is Spark's
native parquet pushdown.
"""

from __future__ import annotations

from typing import Sequence

from plateau_spark.core.metadata import DatasetMetadata, Partition
from plateau_spark.core.predicates import (
    Predicates,
    check_predicates,
    columns_in_predicates,
    conjunction_holds_on_keys,
)
from plateau_spark.core.store import Store
from plateau_spark.plans.index import SecondaryIndex
from plateau_spark.plans.zonemaps import conjunction_may_match_stats


def _literal_index_constrainable(op: str, val) -> bool:
    """Whether the inverted index (which stores only NON-NULL values —
    see _build_indices_for_files' isNotNull) can safely constrain this
    literal. Null-matching literals must be treated as unconstrained or
    the planner would prune the very partitions holding the null rows:

      - (col, '==', None)  → IS NULL: null rows are not indexed
      - (col, 'in', [v, None]) → value-or-null: same
      - (col, 'is distinct from', v≠None) → matches null rows too

    (col, '!=', None) / (col, 'is distinct from', None) are IS NOT NULL
    and remain constrainable: every matching row has an indexed value.
    """
    if op in ("==", "=") and val is None:
        return False
    if op in ("in", "not in") and any(v is None for v in val):
        # 'in' with null → must keep null partitions; 'not in' with a
        # null member matches nothing null-side but keep it simple/safe
        return op == "not in"
    if op == "is distinct from" and val is not None:
        return False
    return True


def _conjunction_allowed_labels(
    conjunction, indexes: dict[str, SecondaryIndex]
) -> set[str] | None:
    """Intersect posting lists for all literals on indexed columns.

    Returns None when no literal touches an indexed column (no
    constraint). Smallest-first intersection mirrors the reference's
    join ordering (plateau/core/dataset.py:467-486).
    """
    sets: list[set[str]] = []
    for col, op, val in conjunction:
        if col in indexes and _literal_index_constrainable(op, val):
            sets.append(indexes[col].eval_operator(op, val))
    if not sets:
        return None
    sets.sort(key=len)
    out = sets[0]
    for s in sets[1:]:
        out = out & s
        if not out:
            break
    return out


def _tier_filters(
    metadata: DatasetMetadata, store: Store, predicates: Predicates, index_loader
):
    """Tier setup shared by :func:`plan_scan` and :func:`explain_scan`:
    yields ``(conjunction, index_allowed, bloom_allowed)`` per predicate
    conjunction, each label set None when that tier does not constrain
    it. Partition keys and zone maps are checked per file by the
    callers.

    Only the indexes that can constrain this query are loaded,
    restricted to the query's own literal values (pyarrow row-group
    filters) — a point lookup on a high-cardinality index never
    materializes the whole index on the driver. ``index_loader(column,
    literals)`` overrides how they are fetched (a DatasetFactory passes
    its cached loader so repeated plans don't re-GET index files)."""
    pred_cols = columns_in_predicates(predicates)
    needed = [
        c for c in pred_cols if metadata.has_index(c) and c not in metadata.partition_keys
    ]
    literals: dict[str, list[tuple[str, object]]] = {c: [] for c in needed}
    for conjunction in predicates:
        for col, op, val in conjunction:
            if col in literals and _literal_index_constrainable(op, val):
                literals[col].append((op, val))
    if index_loader is None:
        index_loader = lambda c, lits: metadata.secondary_index(store, c, literals=lits)  # noqa: E731
    # a column whose every literal is non-constrainable (IS NULL forms)
    # would be loaded UNFILTERED — the full index on the driver — and
    # then never consulted (_conjunction_allowed_labels re-checks
    # constrainability per literal). Skip the load outright.
    indexes = {c: index_loader(c, literals[c]) for c in needed if literals[c]}
    bloom = None
    if metadata.blooms and any(c in metadata.blooms for c in pred_cols):
        from plateau_spark.plans.blooms import BloomConsult

        bloom = BloomConsult(store, metadata.blooms)
    all_labels = list(metadata.partitions)
    for conjunction in predicates:
        yield (
            conjunction,
            _conjunction_allowed_labels(conjunction, indexes),
            bloom.allowed_labels(conjunction, all_labels) if bloom else None,
        )


def plan_scan(
    metadata: DatasetMetadata,
    store: Store,
    predicates: Predicates | None = None,
    *,
    index_loader=None,
) -> list[Partition]:
    """Prune the partition list; returns surviving partitions sorted by
    label. ``index_loader``: see ``_tier_filters``."""
    check_predicates(predicates)
    parts = metadata.partitions
    if predicates is None:
        return [parts[label] for label in sorted(parts)]

    surviving: set[str] = set()
    for conjunction, allowed, bloom_allowed in _tier_filters(
        metadata, store, predicates, index_loader
    ):
        for label, part in parts.items():
            if label in surviving:
                continue
            if allowed is not None and label not in allowed:
                continue
            if bloom_allowed is not None and label not in bloom_allowed:
                continue
            if conjunction_holds_on_keys(
                conjunction, part.key_values
            ) and conjunction_may_match_stats(conjunction, part.stats):
                surviving.add(label)
    return [parts[label] for label in sorted(surviving)]


def explain_scan(
    metadata: DatasetMetadata,
    store: Store,
    predicates: Predicates | None = None,
    *,
    index_loader=None,
) -> list[dict]:
    """Pruning report for a prospective read: one dict per committed
    file — ``{"label", "file", "scanned": bool, "pruned_by": [...]}``
    — where ``pruned_by`` names the metadata tier(s) that excluded the
    file (``partition_key``, ``zone_map``, ``bloom``, ``index``; a file
    is scanned iff at least one predicate conjunction admits it through
    every tier).

    The observability twin of :func:`plan_scan` (same decision logic,
    same metadata GETs): run it before an expensive read to see WHY a
    query will touch N files — the answer to "my predicate should have
    pruned this" is a report, not a debugger session. Driver-only;
    touches no data files.
    """
    check_predicates(predicates)
    parts = metadata.partitions
    if predicates is None:
        return [
            {"label": lbl, "file": parts[lbl].file, "scanned": True, "pruned_by": []}
            for lbl in sorted(parts)
        ]
    report: dict[str, set] = {lbl: set() for lbl in parts}
    scanned: set[str] = set()
    for conjunction, allowed, bloom_allowed in _tier_filters(
        metadata, store, predicates, index_loader
    ):
        for label, part in parts.items():
            blockers = set()
            if allowed is not None and label not in allowed:
                blockers.add("index")
            if bloom_allowed is not None and label not in bloom_allowed:
                blockers.add("bloom")
            if not conjunction_holds_on_keys(conjunction, part.key_values):
                blockers.add("partition_key")
            if not conjunction_may_match_stats(conjunction, part.stats):
                blockers.add("zone_map")
            if blockers:
                report[label] |= blockers
            else:
                scanned.add(label)
    return [
        {
            "label": lbl,
            "file": parts[lbl].file,
            "scanned": lbl in scanned,
            "pruned_by": sorted(report[lbl]) if lbl not in scanned else [],
        }
        for lbl in sorted(parts)
    ]
