"""Write placement parity: a keyed parquet write staged on the driver
from one Arrow collect (``plans/harvest.py`` ``driver_write``) leaves
the same dataset behind as the Spark shuffle and write job — the same
rows over a type matrix, the same hive directories and ``key_values``,
the same index and Bloom sidecars, the same zone maps (timestamps
aside: Spark writes them as INT96, which records no statistics) and
the same errors. The Spark placement is forced the way the sidecar
tests force their Spark tier, by patching ``DRIVER_MAX_BYTES`` to 0."""

from __future__ import annotations

import datetime
import posixpath
from decimal import Decimal

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

import plateau_spark.plans.harvest as harvest_mod
from plateau_spark.core.metadata import DatasetMetadata
from plateau_spark.core.urlencode import escape_path_name
from plateau_spark.plans.blooms import read_bloom_table
from plateau_spark.plans.index import SecondaryIndex
from plateau_spark.sources.dataset import (
    ConstraintViolationError,
    read_table,
    store_dataframe_as_dataset,
    update_dataset_from_dataframe,
)

PLACEMENTS = ("driver", "spark")
WRITER = {"driver": "parquet-cpp-arrow", "spark": "parquet-mr"}

MATRIX = (
    "p int, k long, b tinyint, sh smallint, i int, l long, f float, d double,"
    " dec decimal(12,3), s string, bin binary, bo boolean, dt date, ts timestamp,"
    " tsn timestamp_ntz, arr array<int>, m map<string,int>, st struct<x:int,y:string>"
)
ZONE_MAPS = ["b", "sh", "i", "l", "f", "d", "bo", "dt", "ts", "tsn"]
NAN_KEY = 2  # the only key whose files hold a NaN


def _matrix_rows(lo: int, hi: int) -> list[tuple]:
    def _v(n, k, value):  # every column is NULL on one row in five
        return None if n % 5 == k else value

    rows = []
    for n in range(lo, hi):
        p = n % 3
        nan = p == NAN_KEY and n % 9 == 2
        rows.append((
            p, n,
            _v(n, 0, n % 128 - 64), _v(n, 1, n * 300 - 9000), _v(n, 2, n * 70_001),
            _v(n, 3, n * 10**12),
            float("nan") if nan else _v(n, 4, n / 8),
            float("nan") if nan else _v(n, 0, n / 3 - 5),
            _v(n, 1, Decimal(f"{n}.125")),
            ["", "ü€ß", None, f"s{n % 7}"][n % 4],
            _v(n, 2, bytes([n % 256, 0, 255])),
            _v(n, 3, n % 2 == 0),
            _v(n, 4, datetime.date(2020, 1, 1) + datetime.timedelta(days=n)),
            _v(n, 0, datetime.datetime(2024, 1, 1, 3) + datetime.timedelta(minutes=n)),
            _v(n, 1, datetime.datetime(2023, 6, 1) + datetime.timedelta(seconds=n)),
            _v(n, 2, [n, None, -n]),
            _v(n, 3, {"a": n, "b": None}),
            _v(n, 4, (n, f"y{n}")),
        ))
    return rows


def _local(spark, rows: list[tuple], ddl: str):
    """``rows`` as a frame over one ``LocalRelation``, as a pandas or
    Arrow batch arrives: the optimizer sizes it, so a small write takes
    the driver placement (a frame over Python rows is an RDD scan of
    unknown size). Built from Arrow so a NaN stays NaN."""
    struct = T.StructType.fromDDL(ddl)
    schema = to_arrow_schema(struct)
    table = pa.table(
        [pa.array([r[i] for r in rows], f.type) for i, f in enumerate(schema)], schema=schema
    )
    # Arrow has no TIMESTAMP_NTZ of its own: cast back to the DDL's types
    return spark.createDataFrame(table).select(
        *(F.col(f.name).cast(f.dataType) for f in struct.fields)
    )


def _store(spark, store, monkeypatch, placement, uuid, df, *, update=None, **kw):
    """Store ``df`` (then append ``update``) with the write in
    ``placement``; returns the loaded commit."""
    with monkeypatch.context() as m:
        if placement == "spark":
            m.setattr(harvest_mod, "DRIVER_MAX_BYTES", 0)
        store_dataframe_as_dataset(spark, store, uuid, df, **kw)
        if update is not None:
            update_dataset_from_dataframe(spark, store, uuid, update)
    meta = DatasetMetadata.load(store, uuid)
    writers = {
        pq.ParquetFile(store.path(p.file)).metadata.created_by.split()[0]
        for p in meta.partitions.values()
    }
    assert writers == {WRITER[placement]}
    return meta


def _dir(label: str) -> str:
    return posixpath.dirname(label)


def _rows(spark, store, uuid, predicates=None) -> list[str]:
    # repr: NaN != NaN, so rows compare by their printed form
    return sorted(map(repr, read_table(spark, store, uuid, predicates=predicates).collect()))


def _by_dir(meta, attr) -> dict:
    out: dict = {}
    for p in meta.partitions.values():
        out.setdefault(_dir(p.label), []).append(getattr(p, attr))
    return out


def _sidecars(store, meta) -> tuple[dict, dict]:
    indices = {
        col: {
            v: sorted(_dir(label) for label in labels)
            for v, labels in SecondaryIndex.load(store, key, col).index_dct.items()
        }
        for col, key in meta.indices.items()
    }
    blooms = {}
    for col, entry in meta.blooms.items():
        t = read_bloom_table(store, entry["key"])
        blooms[col] = sorted(
            (w, _dir(label), b)
            for w, label, b in zip(*(t.column(c).to_pylist() for c in ("word", "label", "bits")))
        )
    return indices, blooms


def test_type_matrix_reads_sidecars_and_zone_maps_match(spark, store, monkeypatch):
    out = {}
    for placement in PLACEMENTS:
        uuid = f"m_{placement}"
        meta = _store(
            spark, store, monkeypatch, placement, uuid,
            _local(spark, _matrix_rows(0, 90), MATRIX),
            update=_local(spark, _matrix_rows(90, 120), MATRIX),
            partition_on=["p"], secondary_indices=["s", "l"],
            bloom_filter_columns=["i", "s"], zone_map_columns=ZONE_MAPS,
        )
        out[placement] = {
            "rows": _rows(spark, store, uuid),
            # NaN satisfies ``>`` in Spark: no placement may prune it away
            "nan_rows": _rows(spark, store, uuid, [[("d", ">", 1000.0)]]),
            "keys": _by_dir(meta, "key_values"),
            "stats": _by_dir(meta, "stats"),
            "sidecars": _sidecars(store, meta),
        }
    driver, spark_ = out["driver"], out["spark"]
    assert len(driver["rows"]) == 120 and driver["rows"] == spark_["rows"]
    nans = sum(r[7] != r[7] for r in _matrix_rows(0, 120))
    assert len(driver["nan_rows"]) == nans > 0 and driver["nan_rows"] == spark_["nan_rows"]
    assert driver["keys"] == spark_["keys"]
    assert driver["sidecars"] == spark_["sidecars"]
    assert set(driver["stats"]) == set(spark_["stats"])
    for directory, files in driver["stats"].items():
        def first(stats):  # the stored file's rows come before the appended one's
            return sorted(stats, key=lambda st: st["l"][0])

        for got, want in zip(first(files), first(spark_["stats"][directory]), strict=True):
            assert got.keys() == want.keys() == set(ZONE_MAPS)
            for col in ZONE_MAPS:
                if col == "ts":  # INT96 on the Spark side: no bounds there
                    assert want[col][:2] == [None, None] and None not in got[col]
                elif col in ("f", "d") and directory == f"p={NAN_KEY}":
                    # a NaN leaves the file unbounded on both sides
                    assert got[col][:2] == want[col][:2] == [None, None]
                else:
                    assert got[col] == want[col], (directory, col)


@pytest.mark.parametrize(
    "ddl, values",
    [
        ("int", [-1, 0, 7]),
        ("date", [datetime.date(2024, 1, 2), datetime.date(1999, 12, 31)]),
        ("boolean", [True, False]),
        ("string", ["a/b", "x=y", "50%", "ü", " "]),
    ],
)
def test_key_directories_and_key_values_match(spark, store, monkeypatch, ddl, values):
    rows = [(v, n) for n in range(12) for v in values]
    got = {}
    for placement in PLACEMENTS:
        df = _local(spark, rows, f"key {ddl}, n long")
        meta = _store(spark, store, monkeypatch, placement, f"k_{placement}", df,
                      partition_on=["key"], sort_partitions_by=["n"])
        got[placement] = sorted(
            (_dir(p.label), sorted(p.key_values.items())) for p in meta.partitions.values()
        )
        # one file per key, sorted within it
        assert len(meta.partitions) == len(values)
        for p in meta.partitions.values():
            assert pq.read_table(store.path(p.file))["n"].to_pylist() == list(range(12))
    assert got["driver"] == got["spark"]
    assert sorted(v for _, kv in got["driver"] for _, v in kv) == sorted(values)


def test_sort_puts_nulls_first_and_nan_last(spark, store, monkeypatch):
    rows = [(1, v) for v in (2.0, None, float("nan"), -1.0, None, 0.5)]
    got = {}
    for placement in PLACEMENTS:
        meta = _store(spark, store, monkeypatch, placement, f"s_{placement}",
                      _local(spark, rows, "p int, x double"),
                      partition_on=["p"], sort_partitions_by=["x"])
        (p,) = meta.partitions.values()
        got[placement] = repr(pq.read_table(store.path(p.file))["x"].to_pylist())
    assert got["driver"] == got["spark"] == "[None, None, -1.0, 0.5, 2.0, nan]"


def test_escape_path_name_matches_spark(spark):
    utils = spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    text = "".join(chr(c) for c in range(1, 256)) + "ü€ a/b x=y 50%"
    assert escape_path_name(text) == utils.escapePathName(text)


@pytest.mark.parametrize(
    "bad, error",
    [
        ("null_key", ValueError),
        ("empty_key", ValueError),
        ("check", ConstraintViolationError),
    ],
)
def test_errors_match(spark, store, monkeypatch, bad, error):
    """A NULL or empty-string key and a CHECK violation raise the same
    error on both placements, and leave nothing staged."""
    key = {"null_key": None, "empty_key": ""}.get(bad, "x")
    df = _local(spark, [("a", 1), (key, -5 if bad == "check" else 2)], "p string, v long")
    assert harvest_mod.driver_write(
        df, ["p"], file_format="parquet", bucketed=False, repartition=True
    )
    messages = {}
    for placement in PLACEMENTS:
        uuid = f"e_{placement}"
        with monkeypatch.context() as m:
            if placement == "spark":
                m.setattr(harvest_mod, "DRIVER_MAX_BYTES", 0)
            with pytest.raises(error) as raised:
                store_dataframe_as_dataset(
                    spark, store, uuid, df, partition_on=["p"],
                    check_constraints={"positive": "v > 0"},
                )
        messages[placement] = str(raised.value)
        assert not DatasetMetadata.exists(store, uuid)
        assert list(store.iter_keys(f"{uuid}/")) == []
    assert messages["driver"] == messages["spark"]


def test_metadata_callable_reads_observation_of_driver_write(spark, store):
    obs = Observation("rows_written")
    df = _local(spark, [(n % 3, n) for n in range(30)], "p int, v long")
    df = df.observe(obs, F.count(F.lit(1)).alias("n"), F.sum("v").alias("total"))
    assert harvest_mod.driver_write(
        df, ["p"], file_format="parquet", bucketed=False, repartition=True
    )
    store_dataframe_as_dataset(
        spark, store, "obs", df, partition_on=["p"],
        metadata=lambda: {"n": obs.get["n"], "total": obs.get["total"]},
    )
    meta = DatasetMetadata.load(store, "obs")
    assert meta.metadata["n"] == 30 and meta.metadata["total"] == sum(range(30))
    assert len(meta.partitions) == 3
