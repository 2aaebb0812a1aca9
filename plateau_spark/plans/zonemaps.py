"""Partition-level zone maps: per-file column (min, max, null_count)
harvested from parquet footers at write time and stored in the commit
file, so the planner can falsify conjunctions on NON-key, non-indexed
columns without opening a single data file.

This is the partition-granular analog of the reference's row-group
statistics pruning (plateau/serialization/_parquet.py row-group
filtering) lifted to the driver-side planner: Spark's native scan still
does row-group pruning inside surviving files; zone maps remove whole
files from the plan first. They shine when files are range-clustered on
the stats column (range-repartitioned or sorted writes) — for hash-
scattered columns every file spans the full range and nothing prunes
(correct, just not helpful).

Scale shape: the stats come from each new file's footer in the commit
harvest (``plans/harvest.py``: on the driver for small commits, in its
Spark job otherwise) and the driver keeps |partitions|·|columns|
triples — metadata-scale.

Columns are restricted to numeric/date/timestamp/boolean types: parquet
string statistics may be truncated by writers, and a truncated max
would falsify conjunctions that actually match.
"""

from __future__ import annotations

from typing import Any, Sequence

from pyspark.sql import functions as F
from pyspark.sql import types as T

_STATS_OK_TYPES = (
    T.ByteType,
    T.ShortType,
    T.IntegerType,
    T.LongType,
    T.FloatType,
    T.DoubleType,
    T.DateType,
    T.TimestampType,
    T.TimestampNTZType,
    T.BooleanType,
)


def validate_zone_map_columns(
    schema: T.StructType, columns: Sequence[str]
) -> list[str]:
    fields = {f.name: f.dataType for f in schema.fields}
    bad = [c for c in columns if c not in fields]
    if bad:
        raise ValueError(f"zone_map_columns not in schema: {bad}")
    unsupported = [
        c for c in columns if not isinstance(fields[c], _STATS_OK_TYPES)
    ]
    if unsupported:
        raise ValueError(
            "zone_map_columns must be numeric/date/timestamp/boolean "
            f"(string min/max may be writer-truncated): {unsupported}"
        )
    return list(columns)


def footer_stats(pf, columns: Sequence[str]) -> dict[str, list]:
    """``{column: [min, max, null_count]}`` of one open parquet file,
    from its footer alone (the commit harvest, ``plans/harvest.py``).
    A column chunk without recorded min/max yields ``[None, None,
    null_count]`` — the planner treats missing bounds as unprunable,
    never wrong. Columns the file lacks are left out."""
    import math

    def _nan(v):
        return isinstance(v, float) and math.isnan(v)

    # footer statistics are per leaf column: a nested column before
    # ``col`` shifts its index, so look leaves up by path
    leaves = pf.metadata.schema
    names = {leaves.column(i).path: i for i in range(len(leaves))}
    out = {}
    for col in columns:
        ci = names.get(col)
        if ci is None:
            continue  # pre-evolution file: column absent
        mn = mx = None
        nulls: int | None = 0
        have_bounds = True
        for rg in range(pf.metadata.num_row_groups):
            st = pf.metadata.row_group(rg).column(ci).statistics
            if st is None:
                have_bounds = False
                nulls = None
                break
            if st.null_count is None:
                nulls = None
            elif nulls is not None:
                nulls += st.null_count
            if not st.has_min_max:
                # all-null chunk records no bounds; only an
                # all-null chunk may omit them safely
                if st.null_count is None or (
                    st.null_count != pf.metadata.row_group(rg).num_rows
                ):
                    have_bounds = False
                continue
            if _nan(st.min) or _nan(st.max):
                # A NaN bound poisons interval reasoning (every
                # comparison against it is False in Python, and Spark
                # sorts NaN above all values) — treat the file as
                # unbounded.
                have_bounds = False
                continue
            mn = st.min if mn is None or st.min < mn else mn
            mx = st.max if mx is None or st.max > mx else mx
        if not have_bounds:
            mn = mx = None
        out[col] = [mn, mx, nulls]
    return out


def collect_partition_stats(harvested) -> dict[str, dict[str, list]]:
    """label → {column: [min, max, null_count]}: the zone maps a commit
    harvest (``plans/harvest.py``) read from its files' footers, from
    its driver results or from the ``stats`` rows of its Spark job."""
    if harvested.on_driver:
        return {label: stats for label, stats, _, _ in harvested.files if stats}
    out: dict[str, dict[str, list]] = {}
    for r in harvested.frame.where(F.col("kind") == "stats").collect():
        out.setdefault(r["label"], {})[r["col"]] = [
            unrepr_stat(r["mn"]), unrepr_stat(r["mx"]), r["nulls"]
        ]
    return out


def repr_stat(v: Any) -> str | None:
    """Stats ride through the Arrow batch as tagged strings (one schema
    for every column type)."""
    import datetime

    if v is None:
        return None
    if isinstance(v, bool):
        return f"b:{int(v)}"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, float):
        return f"f:{v!r}"
    if isinstance(v, datetime.datetime):
        return f"t:{v.isoformat()}"
    if isinstance(v, datetime.date):
        return f"d:{v.isoformat()}"
    raise TypeError(f"unsupported stat type {type(v)}")


def unrepr_stat(s: str | None) -> Any:
    import datetime

    if s is None:
        return None
    tag, raw = s.split(":", 1)
    if tag == "b":
        return bool(int(raw))
    if tag == "i":
        return int(raw)
    if tag == "f":
        return float(raw)
    if tag == "t":
        return datetime.datetime.fromisoformat(raw)
    if tag == "d":
        return datetime.date.fromisoformat(raw)
    raise ValueError(f"bad stat encoding {s!r}")


# ---------------------------------------------------------------------------
# conjunction falsification against zone maps (planner side)
# ---------------------------------------------------------------------------


def _cmp_ok(a: Any, b: Any) -> bool:
    try:
        a < b  # noqa: B015 — probe comparability only
        return True
    except TypeError:
        return False


def _is_nan(v: Any) -> bool:
    import math

    return isinstance(v, float) and math.isnan(v)


def literal_may_match_stats(op: str, val: Any, stat: list) -> bool:
    """Three-valued: True = rows may match (keep the file), False = the
    literal is PROVEN empty on this file (prune). Conservative on any
    uncertainty — unknown bounds, incomparable types, unrecorded null
    counts all return True.

    NaN handling (float/double columns): parquet writers may EXCLUDE NaN
    rows from min/max (the spec leaves NaN stats undefined), so a file
    with finite bounds can still hide NaN rows. Under Spark semantics
    NaN sorts ABOVE every value and equals itself, therefore:
      - ``>``/``>=``/``!=`` can never prune a float-bounded file (a
        hidden NaN row would satisfy them);
      - ``<``/``<=`` stay sound (hidden NaN never satisfies them);
      - ``==``/``in`` with non-NaN literals stay sound (NaN == v is
        false for finite v); a NaN literal never prunes.
    NaN bounds themselves are discarded at collection time
    (``footer_stats``) — bounds here are NaN-free.
    """
    mn, mx, nulls = stat
    if op in ("==", "=") and val is None:  # IS NULL
        return nulls is None or nulls > 0
    if op == "!=" and val is None:  # IS NOT NULL
        # Never falsifiable from stats alone: absent bounds mean EITHER
        # an all-null file OR a writer that recorded no min/max for a
        # populated chunk — without a row count the two are
        # indistinguishable (caught by the pruning fuzz test).
        return True
    if op in ("not in", "is distinct from"):
        return True  # not usefully falsifiable by bounds
    float_bounds = isinstance(mn, float) or isinstance(mx, float)
    if op == "in":
        vals = [v for v in val if v is not None]
        has_null = any(v is None for v in val)
        if has_null and (nulls is None or nulls > 0):
            return True  # the null member may match this file's nulls
        if any(_is_nan(v) for v in vals):
            return True  # NaN member may match hidden NaN rows
        if mn is None or mx is None:
            return True  # no recorded bounds → unknown, keep
        for v in vals:
            if not (_cmp_ok(v, mn) and _cmp_ok(v, mx)):
                return True  # incomparable literal → keep
            if mn <= v <= mx:
                return True
        return False  # every member provably outside [min, max]
    # scalar comparisons: need bounds and a non-null literal
    if val is None or mn is None or mx is None:
        # unbounded: an all-null file (bounds None, nulls == observed)
        # proves scalar comparisons empty ONLY if we know every row is
        # null — we don't track row counts here, so stay conservative
        return True
    if _is_nan(val):
        return True  # NaN literal: only hidden NaN rows can match
    if float_bounds and op in (">", ">=", "!="):
        return True  # hidden NaN rows (excluded from bounds) may match
    if not (_cmp_ok(val, mn) and _cmp_ok(val, mx)):
        return True
    if op in ("==", "="):
        return mn <= val <= mx
    if op == "!=":
        return not (mn == mx == val and nulls == 0)
    if op == "<":
        return mn < val
    if op == "<=":
        return mn <= val
    if op == ">":
        return mx > val
    if op == ">=":
        return mx >= val
    return True


def conjunction_may_match_stats(conjunction, stats: dict[str, list]) -> bool:
    """False only when some literal is proven empty by the file's zone
    map — the stats analog of conjunction_holds_on_keys."""
    for col, op, val in conjunction:
        st = stats.get(col)
        if st is not None and not literal_may_match_stats(op, val, st):
            return False
    return True
