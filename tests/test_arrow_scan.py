"""iceberg_scan(io="arrow"): pyarrow-native batch reads must be
row-for-row identical to the default Spark-native reads, including
positional deletes, schema evolution, and moved paths.

Reference goldens: 51,793 (lineitem_iceberg latest) and 6,592 (the
8-step mutated MoR table), BASELINE.md / iceberg_scan.test:17-32.
"""

import os

import pytest
from conftest import REFERENCE_DATA, requires_reference

from duckdb_iceberg_spark import iceberg_scan

B = REFERENCE_DATA


@requires_reference
def test_arrow_io_golden_counts(spark):
    assert (
        iceberg_scan(spark, f"{B}/lineitem_iceberg", allow_moved_paths=True, io="arrow").count()
        == 51793
    )
    assert (
        iceberg_scan(
            spark, f"{B}/generated_spec2_0_001/pyspark_iceberg_table", allow_moved_paths=True, io="arrow"
        ).count()
        == 6592
    )


@requires_reference
def test_arrow_io_rows_equal_spark_io(spark):
    """Full-row parity on the MoR table: positional deletes applied
    in-reader, field-id resolution, INT->BIGINT widening, add-column
    NULLs + initial-default — all must match the default path."""
    p = f"{B}/generated_spec2_0_001/pyspark_iceberg_table"
    a = iceberg_scan(spark, p, allow_moved_paths=True, io="arrow").orderBy("uuid").collect()
    b = iceberg_scan(spark, p, allow_moved_paths=True).orderBy("uuid").collect()
    assert a == b


@requires_reference
def test_arrow_io_where_filters_and_prunes(spark):
    p = f"{B}/generated_spec2_0_001/pyspark_iceberg_table"
    w = "l_extendedprice_double < 20000 AND l_partkey_int >= 100"
    a = iceberg_scan(spark, p, allow_moved_paths=True, io="arrow", where=w).count()
    b = iceberg_scan(spark, p, allow_moved_paths=True, where=w).count()
    assert a == b


@requires_reference
def test_arrow_io_time_travel(spark):
    got = iceberg_scan(
        spark, f"{B}/lineitem_iceberg", allow_moved_paths=True, io="arrow",
        snapshot_id=3776207205136740581,
    ).count()
    assert got == 60175


def test_arrow_io_equality_deletes_match_spark_io(spark, tmp_path):
    """MoR-equality golden through io='arrow': a table carrying
    equality-delete files (plus a post-delete append that must NOT be
    affected — sequence scoping) reads row-identical on both paths."""
    from duckdb_iceberg_spark import IcebergTable

    sf = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
    df = spark.read.parquet(f"{sf}/customer.parquet")
    t = IcebergTable.create(spark, str(tmp_path / "eqarrow"), df)
    n0 = df.count()
    victims = df.filter("c_custkey % 10 = 3").select("c_custkey")
    n_victims = victims.count()
    t.delete_where_equality(victims)
    revived = df.filter("c_custkey % 10 = 3").limit(5)
    t.append(revived)
    path = str(tmp_path / "eqarrow")
    a = iceberg_scan(spark, path, io="arrow")
    assert a.count() == n0 - n_victims + 5
    assert a.filter("c_custkey % 10 = 3").count() == 5
    got = sorted(a.collect())
    want = sorted(iceberg_scan(spark, path).collect())
    assert got == want


def test_arrow_io_rejects_bad_mode(spark):
    with pytest.raises(ValueError, match="io must be"):
        iceberg_scan(spark, f"{B}/lineitem_iceberg", allow_moved_paths=True, io="duck")


def test_bad_io_rejected_before_metadata_io(spark, tmp_path):
    """An unknown io= is refused up front: in list_files mode and on a
    table with no data files (both returned early before the check
    moved), and on a path with no table at all — the argument is
    checked before any metadata is resolved."""
    from duckdb_iceberg_spark import IcebergTable

    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    full = str(tmp_path / "full")
    empty = str(tmp_path / "empty")
    IcebergTable.create(spark, full, df)
    IcebergTable.create(spark, empty, df.limit(0))
    msg = "io must be 'spark' or 'arrow', got 'duck'"
    for path, kw in [
        (full, {"mode": "list_files"}),
        (empty, {}),
        (str(tmp_path / "missing"), {}),
    ]:
        with pytest.raises(ValueError, match="io must be") as e:
            iceberg_scan(spark, path, io="duck", **kw)
        assert str(e.value) == msg, (path, kw)
    # the valid values still read both tables
    files = iceberg_scan(spark, full, mode="list_files").collect()
    assert files and {r.type for r in files} == {"data"}
    assert iceberg_scan(spark, empty).count() == 0
    assert iceberg_scan(spark, empty, io="arrow").count() == 0


def test_arrow_io_credentials_never_in_plan(spark, monkeypatch):
    """AWS secrets must NOT appear in the query plan / explain output:
    the 'plan' data source option is not redacted by Spark, so secrets
    ride in separately named options matching the redaction regex
    (s3.secret_key / s3.session_token) and are merged back only inside
    the reader."""
    from pyspark.sql import types as T

    from duckdb_iceberg_spark.plans.manifests import DeleteFileIndex, EntryStatus, FileContent, ManifestEntry
    from duckdb_iceberg_spark.sources.arrow_scan import (
        IcebergArrowDataSource,
        arrow_scan_df,
    )

    monkeypatch.setenv("AWS_ACCESS_KEY_ID", "AKIAFAKEFAKE")
    monkeypatch.setenv("AWS_SECRET_ACCESS_KEY", "SUPERSECRETVALUE123")
    monkeypatch.setenv("AWS_SESSION_TOKEN", "TOKENTOKEN456")

    class Col:
        def __init__(self, fid, name):
            self.field_id, self.name = fid, name

    class Sch:
        columns = [Col(1, "x")]

        def to_struct_type(self):
            return T.StructType([T.StructField("x", T.LongType())])

    data = ManifestEntry(EntryStatus.ADDED, FileContent.DATA, "s3://bkt/a.parquet", "PARQUET", 1, sequence_number=1)
    df = arrow_scan_df(spark, Sch(), [data], DeleteFileIndex([]))
    qe = df._jdf.queryExecution().toString()
    assert "SUPERSECRETVALUE123" not in qe
    assert "TOKENTOKEN456" not in qe

    # and the executor side gets them back through the named options
    import json as _json

    plan = {"schema": _json.loads(T.StructType().json()), "fs_conf": {"endpoint": None}}
    ds = IcebergArrowDataSource(
        options={
            "plan": _json.dumps(plan),
            "s3.secret_key": "SUPERSECRETVALUE123",
            "s3.session_token": "TOKENTOKEN456",
        }
    )
    reader = ds.reader(None)
    assert reader.plan["fs_conf"]["secret_key"] == "SUPERSECRETVALUE123"
    assert reader.plan["fs_conf"]["session_token"] == "TOKENTOKEN456"
