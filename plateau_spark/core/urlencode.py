"""Hive-style partition label encode/decode.

Reference: /root/reference/plateau/core/urlencode.py:26-98 (url-quoted
``col=value`` pairs) and plateau/io_components/metapartition.py:736-810
(type-safe reconstruction of key columns from the path).

We store explicit key_values in the commit file, so decoding is only a
fallback for datasets written by plain ``partitionBy`` (implicit
partitions); encoding is used to build deterministic partition labels.
"""

from __future__ import annotations

import datetime
from typing import Any, Sequence
from urllib.parse import quote, unquote

from pyspark.sql import types as T


def encode_value(value: Any) -> str:
    if value is None:
        raise ValueError("Nulls in partition columns are not allowed")
    if isinstance(value, (datetime.datetime,)):
        return quote(value.isoformat(), safe="")
    if isinstance(value, datetime.date):
        return quote(value.isoformat(), safe="")
    if isinstance(value, bool):
        return str(value)
    return quote(str(value), safe="")


def encode_partition_label(keys: Sequence[str], values: Sequence[Any]) -> str:
    return "/".join(f"{quote(k, safe='')}={encode_value(v)}" for k, v in zip(keys, values))


# The characters Spark's ``ExternalCatalogUtils.escapePathName`` writes
# as ``%XX`` in a hive directory name; every other character (NUL,
# space and non-ASCII included) is kept as is.
_SPARK_PATH_ESCAPES = frozenset(
    chr(c) for c in (*range(1, 32), 34, 35, 37, 39, 42, 47, 58, 61, 63, 91, 92, 93, 94, 123, 127)
)


def escape_path_name(text: str) -> str:
    """``text`` as Spark spells it in a hive directory name."""
    return "".join(f"%{ord(c):02X}" if c in _SPARK_PATH_ESCAPES else c for c in text)


def _infer_untyped(value: str) -> Any:
    """Best-effort typed revival when no schema is available (reference-
    written msgpack commit files carry no inline schema — the reference
    reconstructs key types from its _common_metadata file, which this
    layout does not have). Only CANONICAL forms convert — "007" stays a
    string, "7" becomes 7 — so string keys that merely look numeric
    round-trip unchanged. Floats deliberately stay strings (a float
    partition key has no canonical text form)."""
    body = value[1:] if value.startswith("-") else value
    if body.isdigit():
        try:
            if str(int(value)) == value:
                return int(value)
        except ValueError:  # unicode digits like "²" pass isdigit()
            pass
    if len(value) == 10:
        try:
            return datetime.date.fromisoformat(value)
        except ValueError:
            pass
    if "T" in value or (" " in value and ":" in value):
        try:
            return datetime.datetime.fromisoformat(value)
        except ValueError:
            pass
    return value


def decode_value(raw: str, dtype: T.DataType | None) -> Any:
    value = unquote(raw)
    if dtype is None:
        return _infer_untyped(value)
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return int(value)
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        return float(value)
    if isinstance(dtype, T.BooleanType):
        return value.lower() == "true"
    if isinstance(dtype, T.DateType):
        return datetime.date.fromisoformat(value)
    if isinstance(dtype, T.TimestampType):
        return datetime.datetime.fromisoformat(value)
    return value


def decode_partition_label(
    label: str,
    partition_keys: Sequence[str],
    key_types: dict[str, T.DataType] | None = None,
) -> dict[str, Any]:
    """Parse ``k1=v1/k2=v2/<uuid>`` into typed key values."""
    key_types = key_types or {}
    out: dict[str, Any] = {}
    for comp in label.split("/"):
        if "=" not in comp:
            continue
        k, _, v = comp.partition("=")
        k = unquote(k)
        if k in partition_keys:
            out[k] = decode_value(v, key_types.get(k))
    return out
