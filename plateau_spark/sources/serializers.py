"""File-format dispatch for dataset payload files.

Mirrors the reference's DataFrameSerializer registry
(/root/reference/plateau/serialization/_generic.py:53-129): the file
*suffix* names the format, each dataset may mix formats per partition,
and readers dispatch per file. Formats:

  ``.parquet``          — the default; Spark's vectorized reader with
                          Catalyst filter/projection pushdown.
  ``.csv`` / ``.csv.gz``— the reference's CsvSerializer contract
                          (/root/reference/plateau/serialization/_csv.py:33-118):
                          ``;`` separator, UTF-8, header row, gzip when
                          compressed. Types come from the dataset's
                          commit-file schema (stronger than the
                          reference's pandas re-inference).
  ``.json``/``.json.gz``— EXTENSION beyond the reference: JSON-lines,
                          the raw-crawl interchange format for LLM
                          corpus ingest. Types restored from the
                          commit-file schema on read (JSON itself is
                          stringly); gzip when compressed.
  ``.orc``              — EXTENSION beyond the reference: ORC, the
                          other Spark-native columnar format
                          (vectorized reader, predicate pushdown);
                          snappy when compressed.

Reading is still one distributed plan: surviving partition files are
grouped by format, each group becomes one scan, groups union —
Catalyst handles each source's pushdown independently.
"""

from __future__ import annotations

import uuid
from functools import reduce
from typing import Sequence

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.fs as pafs
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, DataFrameReader, SparkSession

from plateau_spark.core import naming
from plateau_spark.core.urlencode import escape_path_name

CSV_OPTIONS = {"sep": ";", "header": "true", "encoding": "UTF-8"}


def format_of(key: str) -> str:
    """Format name for a payload file key (suffix dispatch)."""
    if key.endswith(naming.PARQUET_SUFFIX):
        return "parquet"
    if key.endswith(naming.CSV_SUFFIXES):
        return "csv"
    if key.endswith(naming.JSON_SUFFIXES):
        return "json"
    if key.endswith(naming.ORC_SUFFIX):
        return "orc"
    raise ValueError(f"The specified file format for '{key}' is not supported")


def is_payload_file(key: str) -> bool:
    return key.endswith(
        (naming.PARQUET_SUFFIX, naming.ORC_SUFFIX)
        + naming.CSV_SUFFIXES
        + naming.JSON_SUFFIXES
    )


HIVE_NULL_DIR = "__HIVE_DEFAULT_PARTITION__"


def write_staged(
    df: "DataFrame | pa.Table",
    url: str,
    partition_on: Sequence[str],
    *,
    file_format: str = "parquet",
    compress: bool = True,
) -> None:
    """Write a commit's payload files into the staging prefix ``url``. A
    DataFrame is one Spark write job, format-dispatched. An Arrow table
    is the driver placement of a keyed parquet write
    (``plans/harvest.py`` ``driver_write``; ``url`` is a pyarrow
    location): one snappy parquet file per partition key, laid out as
    Spark lays it out (see ``_write_arrow``)."""
    if isinstance(df, pa.Table):
        _write_arrow(df, url, partition_on)
        return
    writer = df.write.mode("append")
    if partition_on:
        writer = writer.partitionBy(*partition_on)
    if file_format == "parquet":
        writer.parquet(url)
    elif file_format == "csv":
        w = writer.options(**CSV_OPTIONS)
        if compress:
            w = w.option("compression", "gzip")
        w.csv(url)
    elif file_format == "json":
        w = writer
        if compress:
            w = w.option("compression", "gzip")
        w.json(url)
    elif file_format == "orc":
        writer.option("compression", "snappy" if compress else "none").orc(url)
    else:
        raise ValueError(f"Unsupported file_format: {file_format!r}")


def _hive_dir(column: str, value) -> str:
    """The ``column=value`` directory Spark names for one key value."""
    if value is None or value == "":
        text = HIVE_NULL_DIR
    elif isinstance(value, bool):
        text = "true" if value else "false"
    else:  # an int, a str or a datetime.date (isoformat)
        text = escape_path_name(str(value))
    return f"{escape_path_name(column)}={text}"


def statistics_columns(table: pa.Table) -> list[str]:
    """The columns whose footer statistics are written: every top-level
    atomic column but a float one holding a NaN. pyarrow leaves NaN out
    of min/max, and Spark's parquet reader would then skip a row group
    on a ``>`` filter that its NaN rows satisfy; Spark's own writer
    records the NaN bound instead, which no reader prunes on."""
    return [
        f.name for f in table.schema
        if not pa.types.is_nested(f.type)
        and not (pa.types.is_floating(f.type) and pc.any(pc.is_nan(table[f.name])).as_py())
    ]


def _write_arrow(table: pa.Table, location: str, partition_on: Sequence[str]) -> None:
    """One file per distinct key of ``partition_on`` under hive
    directories named as Spark's partitioned writer names them: each key
    and value escaped like ``escapePathName``, a NULL or empty-string
    value as ``__HIVE_DEFAULT_PARTITION__``, the key columns left out of
    the file. Rows keep their order within a key."""
    fs, root = pafs.FileSystem.from_uri(location)
    keys = list(partition_on)
    groups = (
        table.select(keys)
        .append_column("__row__", pa.array(range(table.num_rows), pa.int64()))
        .group_by(keys, use_threads=False)
        .aggregate([("__row__", "list")])
    )
    rows = groups.column("__row___list").combine_chunks()
    data = table.drop_columns(keys)
    job = uuid.uuid4()
    for i, key in enumerate(groups.select(keys).to_pylist()):
        part = data.take(rows[i].values)
        directory = f"{root}/" + "/".join(_hive_dir(c, key[c]) for c in keys)
        fs.create_dir(directory, recursive=True)
        pq.write_table(
            part, f"{directory}/part-{i:05d}-{job}.c000.snappy.parquet", filesystem=fs,
            compression="snappy", write_statistics=statistics_columns(part),
            store_schema=False,  # readers take types from the commit schema
        )


def _reader(spark: SparkSession, schema, base: str) -> DataFrameReader:
    # schema=None: reference-written dataset whose commit file carries no
    # inline schema — parquet self-describes, and basePath lets Spark
    # derive the hive partition columns from the explicit path list
    rdr = spark.read.option("basePath", base)
    return rdr if schema is None else rdr.schema(schema)


def read_files(
    spark: SparkSession,
    schema,
    base: str,
    file_keys_to_urls: dict[str, str],
) -> DataFrame:
    """Format-dispatched scan over explicit file paths → one DataFrame."""
    groups: dict[str, list[str]] = {}
    for key, url in file_keys_to_urls.items():
        groups.setdefault(format_of(key), []).append(url)
    parts: list[DataFrame] = []
    for fmt, urls in sorted(groups.items()):
        rdr = _reader(spark, schema, base)
        if fmt == "parquet":
            parts.append(rdr.parquet(*urls))
        elif fmt == "csv":
            parts.append(rdr.options(**CSV_OPTIONS).csv(urls))
        elif fmt == "orc":
            # DataFrameReader.orc takes one path-or-list (not varargs)
            parts.append(rdr.orc(urls))
        else:
            parts.append(rdr.json(urls))
    return reduce(lambda a, b: a.unionByName(b), parts)
