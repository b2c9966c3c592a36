"""Pure-Python metadata layer tests (no Spark) against the reference's
read-only data trees — version resolution, snapshot selection, schema
parse, avro manifests. Mirrors reference test/sql/iceberg_snapshots.test
and iceberg_metadata.test coverage. One Spark test checks that the
snapshot and history listings carry the metadata's instants."""

import pytest
from conftest import REFERENCE_DATA, requires_reference

from duckdb_iceberg_spark.plans.manifests import load_table_scan, read_manifest_list
from duckdb_iceberg_spark.plans.table_metadata import (
    load_table_metadata,
    parse_iceberg_type,
    resolve_metadata_path,
)
from pyspark.sql import types as T

LI = f"{REFERENCE_DATA}/lineitem_iceberg"
LI_GZ = f"{REFERENCE_DATA}/lineitem_iceberg_gz"
LI_NO_HINT = f"{REFERENCE_DATA}/lineitem_iceberg_no_hint"
GEN2 = f"{REFERENCE_DATA}/generated_spec2_0_001/pyspark_iceberg_table"


@requires_reference
def test_resolve_via_version_hint():
    assert resolve_metadata_path(LI).endswith("metadata/v2.metadata.json")


@requires_reference
def test_resolve_explicit_version():
    assert resolve_metadata_path(LI, version="1").endswith("v1.metadata.json")


@requires_reference
def test_resolve_gzip_codec():
    p = resolve_metadata_path(LI_GZ, metadata_compression_codec="gzip")
    assert p.endswith("v2.gz.metadata.json")


@requires_reference
def test_wrong_codec_errors():
    # reference: iceberg_metadata.test:36-40 asserts this error text shape
    with pytest.raises(FileNotFoundError, match="not found for table version"):
        resolve_metadata_path(LI_GZ)


@requires_reference
def test_no_hint_guessing_gate():
    with pytest.raises(FileNotFoundError, match="version-hint"):
        resolve_metadata_path(LI_NO_HINT)
    p = resolve_metadata_path(LI_NO_HINT, unsafe_enable_version_guessing=True)
    assert p.endswith(".metadata.json")


def test_nonexistent_dir_errors():
    with pytest.raises(FileNotFoundError):
        resolve_metadata_path("/nonexistent/table/path")


@requires_reference
def test_snapshot_selection():
    meta = load_table_metadata(LI)
    assert len(meta.snapshots) == 2
    latest = meta.latest_snapshot()
    assert latest.snapshot_id == 7635660646343998149
    assert meta.snapshot_by_id(3776207205136740581).sequence_number == 1
    with pytest.raises(ValueError, match="Could not find snapshot with id"):
        meta.snapshot_by_id(123)
    # timestamp before first snapshot errors — verbatim reference
    # message shape (iceberg_scan.test:59-62)
    with pytest.raises(ValueError, match="Could not find latest snapshots for timestamp"):
        meta.snapshot_by_timestamp(1)
    # reference formats the timestamp human-readably, millis included
    with pytest.raises(ValueError, match=r"timestamp 1970-01-01 00:00:01\.503"):
        meta.snapshot_by_timestamp(1503)
    s = meta.snapshot_by_timestamp(1676473675000)  # between snap1 and snap2
    assert s.snapshot_id == 3776207205136740581


@requires_reference
def test_schema_parse_types():
    assert parse_iceberg_type("decimal(9,2)") == T.DecimalType(9, 2)
    assert parse_iceberg_type("uuid") == T.StringType()
    assert parse_iceberg_type("timestamptz") == T.TimestampType()
    assert parse_iceberg_type("timestamp") == T.TimestampNTZType()
    assert parse_iceberg_type("fixed[16]") == T.BinaryType()
    assert parse_iceberg_type({"type": "list", "element": "long"}) == T.ArrayType(T.LongType(), False)
    meta = load_table_metadata(LI)
    st = meta.schemas[meta.current_schema_id].to_struct_type()
    assert st["l_orderkey"].dataType == T.IntegerType()
    assert st["l_shipdate"].dataType == T.DateType()
    assert st["l_orderkey"].metadata["parquet.field.id"] == 1


@requires_reference
def test_manifest_walk_counts():
    meta = load_table_metadata(LI)
    scan = load_table_scan(meta, meta.latest_snapshot(), LI, allow_moved_paths=True)
    assert scan.data_cardinality() == 51793
    data = scan.data_files()
    assert len(data) == 1 and data[0].file_path.startswith(LI)


@requires_reference
def test_mor_delete_files_found():
    meta = load_table_metadata(GEN2)
    scan = load_table_scan(meta, meta.latest_snapshot(), GEN2, allow_moved_paths=True)
    assert len(scan.positional_delete_files()) > 0
    assert scan.delete_cardinality() == 11452  # BASELINE.md total-position-deletes


@requires_reference
def test_v1_manifest_list_defaults():
    meta = load_table_metadata(LI, version="1")
    snap = meta.latest_snapshot()
    from duckdb_iceberg_spark.plans.table_metadata import rebase_path

    ml = rebase_path(snap.manifest_list, LI, True)
    manifests = read_manifest_list(ml, meta.format_version)
    assert all(m.content.value in (0, 1) for m in manifests)


@requires_reference
def test_error_message_parity_verbatim():
    """Pin the exact reference error strings the .test corpus asserts
    (iceberg_scan.test:62,67; iceberg_metadata.test:44,54;
    iceberg_snapshots.test:29,44)."""
    import pytest

    from duckdb_iceberg_spark.plans.table_metadata import resolve_metadata_path

    with pytest.raises(FileNotFoundError) as e:
        resolve_metadata_path("data/iceberg/lineitem_iceberg_nonexistent")
    assert (
        str(e.value)
        == 'Cannot open "data/iceberg/lineitem_iceberg_nonexistent": Metadata directory does not exist'
    )

    gz = LI_GZ
    with pytest.raises(FileNotFoundError) as e:
        resolve_metadata_path(gz)  # codec defaults to none
    assert str(e.value) == (
        "Iceberg metadata file not found for table version '2' using 'none' "
        "compression and format(s): 'v%s%s.metadata.json,%s%s.metadata.json'"
    )
    with pytest.raises(FileNotFoundError) as e:
        resolve_metadata_path(
            gz, metadata_compression_codec="blarg", version_name_format="blat%s%s"
        )
    assert str(e.value) == (
        "Iceberg metadata file not found for table version '2' using 'blarg' "
        "compression and format(s): 'blat%s%s'"
    )
    li = LI
    with pytest.raises(FileNotFoundError) as e:
        resolve_metadata_path(li, version="1", version_name_format="v%s%s.metadata.gz")
    assert str(e.value) == (
        "Iceberg metadata file not found for table version '1' using 'none' "
        "compression and format(s): 'v%s%s.metadata.gz'"
    )


def test_listing_timestamps_are_metadata_instants_in_any_host_zone(spark, tmp_path):
    """iceberg_snapshots.timestamp_ms and iceberg_history.made_current_at
    hold the metadata's timestamp-ms instant exactly, even when the
    Python process runs in a non-UTC zone. (Python-side collect() shows
    them in the process's zone, as it does every Spark TimestampType
    column; unix_millis reads the stored instant.)"""
    import os
    import time

    from duckdb_iceberg_spark.sources.iceberg import iceberg_history, iceberg_snapshots
    from duckdb_iceberg_spark.writer import IcebergTable

    path = str(tmp_path / "t")
    t = IcebergTable.create(spark, path, spark.range(3).selectExpr("id AS k"))
    t.append(spark.range(3, 5).selectExpr("id AS k"))
    raw = load_table_metadata(path).raw
    want_snaps = sorted((s["snapshot-id"], s["timestamp-ms"]) for s in raw["snapshots"])
    want_hist = sorted((h["snapshot-id"], h["timestamp-ms"]) for h in raw["snapshot-log"])

    old_tz = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        snaps = iceberg_snapshots(spark, path).selectExpr("snapshot_id", "unix_millis(timestamp_ms)")
        hist = iceberg_history(spark, path).selectExpr("snapshot_id", "unix_millis(made_current_at)")
        got_snaps = sorted(map(tuple, snaps.collect()))
        got_hist = sorted(map(tuple, hist.collect()))
    finally:
        if old_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old_tz
        time.tzset()
    assert got_snaps == want_snaps
    assert got_hist == want_hist
