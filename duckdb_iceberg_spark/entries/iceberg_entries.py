"""Iceberg parity + streaming entries: scan family, time travel,
metadata tables, writer pipelines (DML/DDL), foreign-writer interop,
structured-streaming sources/sinks."""
from __future__ import annotations

import os
import re
from collections.abc import Callable  # noqa: F401  (re-exported for the contract)

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from duckdb_iceberg_spark import iceberg_scan
from duckdb_iceberg_spark.functions import text as TX
from duckdb_iceberg_spark.functions.text import lang_id_sql
from duckdb_iceberg_spark.operators import dedup as DD
from duckdb_iceberg_spark.operators import lm as LM
from duckdb_iceberg_spark.operators import multimodal as MM
from duckdb_iceberg_spark.operators import packing as PK
from duckdb_iceberg_spark.operators import sampling as SA
from duckdb_iceberg_spark.operators import similarity as SIM
from duckdb_iceberg_spark.sources.iceberg import _local_df

from duckdb_iceberg_spark.entries.pipeline import *  # noqa: F401,F403

# ---------------------------------------------------------------------------
# iceberg parity entries
# ---------------------------------------------------------------------------

_ICE_COLS = ["uuid", "l_partkey_int", "l_suppkey_long", "l_extendedprice_double", "schema_evol_added_col_1"]


def _iceberg_scan_generated(spark, sf):
    df = iceberg_scan(spark, f"{GEN2}/pyspark_iceberg_table", allow_moved_paths=True)
    return df.select(*_ICE_COLS)


_ICEBERG_SCAN_SQL = f"""
SELECT {", ".join(_ICE_COLS)}
FROM read_parquet('{GEN2}/expected_results/last/data/*.parquet')
"""


def _iceberg_arrow_scan(spark, sf):
    """Same scan as iceberg_scan_generated but through the
    pyarrow-native batch reader (io='arrow'): executor-side pyarrow
    reads with field-id resolution and in-reader positional deletes —
    the path that batch-queries object-store tables without a JVM
    connector. Must be value-identical to the default path."""
    df = iceberg_scan(spark, f"{GEN2}/pyspark_iceberg_table", allow_moved_paths=True, io="arrow")
    return df.select(*_ICE_COLS)


def _iceberg_scan_where(spark, sf):
    """where= pushes an exact row filter AND prunes files from
    zone-maps/partitions before the scan."""
    df = iceberg_scan(
        spark,
        f"{GEN2}/pyspark_iceberg_table",
        allow_moved_paths=True,
        where="l_extendedprice_double < 20000 AND l_partkey_int >= 100",
    )
    return df.groupBy("l_orderkey_bool").agg(
        F.count("*").alias("n"),
        F.sum(_dec("l_extendedprice_double")).cast("double").alias("sum_price"),
    )


def _stamped_entry_table(spark, sf, name: str, src_table: str, build) -> str:
    """Deterministic on-disk cache for entry-materialized Iceberg
    tables that are LINEITEM-scale: keyed by (fixture dir, source
    mtime) like the layout overlay, built once EVER per fixture and
    re-attached by every later process. Without this, each bench pass
    and each sweep process re-wrote a full fact-table copy into a
    fresh mkdtemp — at sf100 that is 14 GB per build, and three bench
    passes exhausted the disk mid-run (the round-7 sf100 lesson:
    scratch-space is a first-class capacity line)."""
    import tempfile

    key_dir = os.path.abspath(sf)
    src = os.path.join(key_dir, f"{src_table}.parquet")
    stamp = int(os.path.getmtime(src)) if os.path.exists(src) else 0
    sfx = re.sub(r"[^0-9a-zA-Z]+", "_", os.path.basename(key_dir.rstrip("/")))
    base = os.path.join(tempfile.gettempdir(), "spark_graft_entry_tables")
    loc = os.path.join(base, f"{sfx}_{name}_{stamp}")
    path = os.path.join(loc, "t")
    done = os.path.join(loc, "_DONE")
    if not os.path.exists(done):
        import shutil

        shutil.rmtree(loc, ignore_errors=True)  # partial build from a dead run
        os.makedirs(loc, exist_ok=True)
        build(path)
        with open(done, "w") as f:
            f.write("ok")
    return path


def _pruned_table(spark, sf) -> str:
    """One hidden-partitioned (years(l_shipdate)) Iceberg table per
    fixture, stamp-cached on disk — bench timings measure the pruned
    READ; the one-time write is layout prep."""
    from duckdb_iceberg_spark import IcebergTable

    return _stamped_entry_table(
        spark,
        sf,
        "pruned_years",
        "lineitem",
        lambda path: IcebergTable.create(
            spark, path, _t(spark, sf, "lineitem"), partition_by=["years(l_shipdate)"]
        ),
    )


def _iceberg_pruned_scan(spark, sf):
    """Partition-pruned aggregate over a years(l_shipdate)-partitioned
    table: the where= predicate prunes non-1997 files at the manifest
    level, so Spark schedules ~1/7 of the tasks a full scan would.
    (The reference reads manifests but never prunes — SURVEY §4.)"""
    t = _pruned_table(spark, sf)
    df = iceberg_scan(
        spark,
        t,
        where="l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'",
    )
    # exact-cents policy (_rev_cents docstring): l_extendedprice carries
    # exactly 2 decimals, so a long-cents sum equals the decimal(18,2)
    # sum bit-for-bit after the double cast — and skips per-row decimal
    # allocation in the aggregate hot loop.
    return df.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        (F.sum(_cents("l_extendedprice")).cast("double") / F.lit(100.0)).alias("sum_price"),
    )


_ICEBERG_PRUNED_SQL = """
SELECT l_returnflag, COUNT(*) AS n,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY 1
"""


def _iceberg_zorder(spark, sf):
    """Z-order compaction roundtrip: Morton-clustered rewrite must
    preserve contents exactly (aggregate fingerprint vs raw parquet
    oracle); multi-dimension pruning selectivity is asserted in
    tests/test_partitioning.py::test_zorder_compaction_prunes_both_dims."""
    from duckdb_iceberg_spark import IcebergTable

    def build(path):
        li = _t(spark, sf, "lineitem").select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
        tt = IcebergTable.create(spark, path, li)
        tt.rewrite_data_files(target_file_size_bytes=4 * 1024 * 1024, zorder_by=["l_partkey", "l_suppkey"])

    t = IcebergTable(spark, _stamped_entry_table(spark, sf, "zorder", "lineitem", build))
    return (
        t.scan()
        .groupBy((F.col("l_partkey") % 10).alias("bucket"))
        .agg(
            F.count("*").alias("n"),
            F.sum("l_orderkey").alias("sum_ok"),
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
        )
        .orderBy("bucket")
    )


_ICEBERG_ZORDER_SQL = """
SELECT l_partkey % 10 AS bucket, COUNT(*) AS n, CAST(SUM(l_orderkey) AS BIGINT) AS sum_ok,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM lineitem GROUP BY 1 ORDER BY 1
"""


def _iceberg_overwrite_partition(spark, sf):
    """Dynamic partition overwrite: replace one lang partition with
    re-scored rows; untouched partitions carried by metadata only.
    Oracle simulates the same replacement on raw parquet."""
    import tempfile

    from duckdb_iceberg_spark import IcebergTable

    docs = _t(spark, sf, "documents")
    t = IcebergTable.create(
        spark, tempfile.mkdtemp(prefix="ow_entry_") + "/t", docs, partition_by=["lang"]
    )
    target = docs.select(F.min("lang")).first()[0]
    repl = docs.filter(F.col("lang") == target).withColumn("n_chars", F.col("n_chars") + 1000000)
    t.overwrite_partitions(repl)
    return (
        t.scan()
        .groupBy("lang")
        .agg(F.count("*").alias("n"), F.sum("n_chars").alias("sum_chars"))
        .orderBy("lang")
    )


_ICEBERG_OVERWRITE_SQL = """
WITH target AS (SELECT MIN(lang) AS tl FROM documents)
SELECT lang, COUNT(*) AS n,
  CAST(SUM(CASE WHEN lang = (SELECT tl FROM target) THEN n_chars + 1000000 ELSE n_chars END) AS BIGINT) AS sum_chars
FROM documents GROUP BY lang ORDER BY lang
"""


def _iceberg_partitions_q(spark, sf):
    """`partitions` metadata table on the years(l_shipdate) table:
    manifest-derived per-partition record counts must equal the
    data-derived counts (oracle groups the raw parquet by year).
    Partition value is the Iceberg years-transform ordinal
    (year - 1970)."""
    from duckdb_iceberg_spark.sources.iceberg import iceberg_partitions

    t = _pruned_table(spark, sf)
    return (
        iceberg_partitions(spark, t)
        .select(
            F.element_at("partition", "l_shipdate_year").cast("int").alias("year_off"),
            "record_count",
        )
        .orderBy("year_off")
    )


_ICEBERG_PARTITIONS_SQL = """
SELECT CAST(year(l_shipdate) - 1970 AS INT) AS year_off, COUNT(*) AS record_count
FROM lineitem GROUP BY 1 ORDER BY 1
"""


_ICEBERG_WHERE_SQL = f"""
SELECT l_orderkey_bool, COUNT(*) AS n, CAST(SUM(CAST(l_extendedprice_double AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM read_parquet('{GEN2}/expected_results/last/data/*.parquet')
WHERE l_extendedprice_double < 20000 AND l_partkey_int >= 100
GROUP BY 1
"""


_LI_TABLE = f"{REFERENCE_ICEBERG}/lineitem_iceberg"
_LI_GZ = f"{REFERENCE_ICEBERG}/lineitem_iceberg_gz"

# Entries whose query and oracle both read the reference tables under
# REFERENCE_ICEBERG (through GEN2, _LI_TABLE or _LI_GZ).
_REFERENCE_ENTRIES = frozenset(
    {
        "iceberg_arrow_scan",
        "iceberg_history",
        "iceberg_list_files",
        "iceberg_metadata_entries",
        "iceberg_scan_generated",
        "iceberg_scan_where",
        "iceberg_snapshots",
        "iceberg_time_travel",
    }
)


def _iceberg_snapshots_q(spark, sf):
    from duckdb_iceberg_spark import iceberg_snapshots

    df = iceberg_snapshots(spark, _LI_TABLE)
    return df.select(
        "sequence_number",
        "snapshot_id",
        F.date_format("timestamp_ms", "yyyy-MM-dd HH:mm:ss.SSS").alias("ts"),
        F.substring_index("manifest_list", "/", -1).alias("manifest_file"),
    )


_ICEBERG_SNAPSHOTS_SQL = """
SELECT * FROM (VALUES
  (CAST(1 AS BIGINT), CAST(3776207205136740581 AS BIGINT), '2023-02-15 15:07:54.504',
   'snap-3776207205136740581-1-cf3d0be5-cf70-453d-ad8f-48fdc412e608.avro'),
  (CAST(2 AS BIGINT), CAST(7635660646343998149 AS BIGINT), '2023-02-15 15:08:14.730',
   'snap-7635660646343998149-1-10eaca8a-1e1c-421e-ad6d-b232e5ee23d3.avro')
) AS t(sequence_number, snapshot_id, ts, manifest_file)
"""


def _iceberg_history_q(spark, sf):
    """Snapshot-log ancestry (Spark `.history` metadata-table schema);
    oracle is DuckDB's read_json + recursive CTE over the SAME
    metadata.json — a true cross-engine check of the metadata parser."""
    from duckdb_iceberg_spark import iceberg_history

    df = iceberg_history(spark, _LI_TABLE)
    return df.select(
        F.date_format("made_current_at", "yyyy-MM-dd HH:mm:ss.SSS").alias("made_current_at"),
        "snapshot_id",
        "parent_id",
        "is_current_ancestor",
    )


_ICEBERG_HISTORY_SQL = f"""
WITH RECURSIVE meta AS (
  SELECT * FROM read_json('{_LI_TABLE}/metadata/v2.metadata.json')
),
parents AS (
  SELECT s."snapshot-id" AS sid, s."parent-snapshot-id" AS pid
  FROM (SELECT unnest(snapshots) AS s FROM meta)
),
anc AS (
  SELECT "current-snapshot-id" AS sid FROM meta
  UNION ALL
  SELECT parents.pid FROM anc JOIN parents ON parents.sid = anc.sid
  WHERE parents.pid IS NOT NULL
),
log AS (SELECT unnest("snapshot-log") AS sl FROM meta)
SELECT strftime(to_timestamp(sl."timestamp-ms" / 1000.0) AT TIME ZONE 'UTC', '%Y-%m-%d %H:%M:%S.%g') AS made_current_at,
  sl."snapshot-id" AS snapshot_id,
  (SELECT pid FROM parents WHERE sid = sl."snapshot-id") AS parent_id,
  sl."snapshot-id" IN (SELECT sid FROM anc) AS is_current_ancestor
FROM log
"""


def _iceberg_time_travel(spark, sf):
    """Counts across every snapshot-selection mechanism (reference
    iceberg_scan.test:17-82 golden values)."""
    import datetime

    def cnt(label, df):
        return df.agg(F.count("*").alias("n")).select(F.lit(label).alias("sel"), "n")

    latest = iceberg_scan(spark, _LI_TABLE, allow_moved_paths=True)
    snap1 = iceberg_scan(spark, _LI_TABLE, snapshot_id=3776207205136740581, allow_moved_paths=True)
    ver1 = iceberg_scan(spark, _LI_TABLE, version="1", allow_moved_paths=True)
    asof = iceberg_scan(
        spark, _LI_TABLE, timestamp=datetime.datetime(2023, 2, 15, 15, 8, 0, tzinfo=datetime.timezone.utc), allow_moved_paths=True
    )
    gz = iceberg_scan(spark, _LI_GZ, metadata_compression_codec="gzip", allow_moved_paths=True)
    return (
        cnt("latest", latest)
        .union(cnt("snapshot_id", snap1))
        .union(cnt("version", ver1))
        .union(cnt("timestamp", asof))
        .union(cnt("gzip", gz))
    )


_ICEBERG_TT_SQL = """
SELECT * FROM (VALUES
  ('latest', CAST(51793 AS BIGINT)),
  ('snapshot_id', CAST(60175 AS BIGINT)),
  ('version', CAST(60175 AS BIGINT)),
  ('timestamp', CAST(60175 AS BIGINT)),
  ('gzip', CAST(111968 AS BIGINT))
) AS t(sel, n)
"""


def _iceberg_list_files(spark, sf):
    """mode='list_files' (reference A23) at both versions."""
    v2 = iceberg_scan(spark, _LI_TABLE, mode="list_files", allow_moved_paths=True)
    v1 = iceberg_scan(spark, _LI_TABLE, version="1", mode="list_files", allow_moved_paths=True)
    tail = F.substring_index("file", "/", -1)
    return v2.select(F.lit("v2").alias("v"), tail.alias("file"), "type").union(
        v1.select(F.lit("v1").alias("v"), tail.alias("file"), "type")
    )


_ICEBERG_LF_SQL = """
SELECT * FROM (VALUES
  ('v2', '00041-414-f3c73457-bbd6-4b92-9c15-17b241171b16-00001.parquet', 'data'),
  ('v1', '00000-411-0792dcfe-4e25-4ca3-8ada-175286069a47-00001.parquet', 'data')
) AS t(v, file, type)
"""


def _iceberg_metadata_entries(spark, sf):
    """8-column manifest/entry listing (reference iceberg_metadata.test:14-18)."""
    from duckdb_iceberg_spark import iceberg_metadata

    df = iceberg_metadata(spark, _LI_TABLE, allow_moved_paths=True)
    return df.select(
        F.substring_index("manifest_path", "/", -1).alias("manifest"),
        "manifest_sequence_number",
        "manifest_content",
        "status",
        "content",
        F.substring_index("file_path", "/", -1).alias("file"),
        "file_format",
        "record_count",
    )


_ICEBERG_MD_SQL = """
SELECT * FROM (VALUES
  ('10eaca8a-1e1c-421e-ad6d-b232e5ee23d3-m1.avro', CAST(2 AS BIGINT), 'DATA', 'ADDED', 'EXISTING',
   '00041-414-f3c73457-bbd6-4b92-9c15-17b241171b16-00001.parquet', 'PARQUET', CAST(51793 AS BIGINT)),
  ('10eaca8a-1e1c-421e-ad6d-b232e5ee23d3-m0.avro', CAST(2 AS BIGINT), 'DATA', 'DELETED', 'EXISTING',
   '00000-411-0792dcfe-4e25-4ca3-8ada-175286069a47-00001.parquet', 'PARQUET', CAST(60175 AS BIGINT))
) AS t(manifest, manifest_sequence_number, manifest_content, status, content, file, file_format, record_count)
"""


def _rest_catalog_commit(spark, sf):
    """Catalog-managed writes end-to-end: create (registerTable) ->
    commit_append THROUGH the REST catalog (spec commit body:
    assert-ref-snapshot-id requirement + add-snapshot/set-snapshot-ref
    updates, applied by the pointer-owning server) -> scan through the
    catalog's new metadata-location. Extends the reference's read-only
    REST CI flow (scripts/start-rest-catalog.sh) with the write half a
    real lakehouse user needs; oracle = the full supplier table (the
    two halves committed must land exactly once each)."""
    import tempfile

    from duckdb_iceberg_spark.sources.rest_catalog import RestCatalog
    from duckdb_iceberg_spark.sources.rest_server import LocalRestCatalogServer

    srv = LocalRestCatalogServer()
    srv.start()
    try:
        cat = RestCatalog(srv.uri, credential="dev:secret")
        s = _t(spark, sf, "supplier").select("s_suppkey", "s_name", "s_nationkey")
        base = tempfile.mkdtemp(prefix="ice_rest_")
        cat.create_table(
            spark, "default", "sup", s.filter(F.col("s_suppkey") % 2 == 0), base + "/sup"
        )
        cat.commit_append(spark, "default", "sup", s.filter(F.col("s_suppkey") % 2 == 1))
        # scan resolves the catalog pointer + manifests eagerly; the
        # parquet data path needs no server afterwards
        return cat.scan(spark, "default", "sup").select("s_suppkey", "s_name", "s_nationkey")
    finally:
        srv.stop()


_REST_COMMIT_SQL = "SELECT s_suppkey, s_name, s_nationkey FROM supplier"


def _rest_catalog_listing(spark, sf):
    """Catalog ENUMERATION with spec pagination + auth: register one
    table per region across two namespaces on the local REST server
    (require_auth — the client's OAuth2 client-credentials exchange is
    on the path), then drain list_namespaces/list_tables with tiny
    page sizes so next-page-token is actually followed. The reference
    exercises only load-by-name (scripts/start-rest-catalog.sh:14-27);
    real catalogs cap page sizes server-side, so a non-paginating
    client silently truncates the catalog. Rows = (namespace,
    table_name) exactly as the catalog returned them."""
    from duckdb_iceberg_spark.sources.rest_catalog import RestCatalog
    from duckdb_iceberg_spark.sources.rest_server import LocalRestCatalogServer

    srv = LocalRestCatalogServer(require_auth=True)
    srv.start()
    try:
        cat = RestCatalog(srv.uri, credential="dev:secret")
        for r in _t(spark, sf, "region").select("r_regionkey", "r_name").collect():
            ns = "mkt_a" if r.r_regionkey % 2 == 0 else "mkt_b"
            cat.register_table(
                ns, r.r_name.lower(), f"/tmp/unused/{r.r_name}/metadata/v1.metadata.json"
            )
        rows = [
            (".".join(ns), t)
            for ns in cat.list_namespaces(page_size=1)
            for t in cat.list_tables(".".join(ns), page_size=2)
        ]
    finally:
        srv.stop()
    return (
        _local_df(spark, rows, "namespace string, table_name string")
        .orderBy("namespace", "table_name")
    )


_REST_LISTING_SQL = """
SELECT CASE WHEN r_regionkey % 2 = 0 THEN 'mkt_a' ELSE 'mkt_b' END AS namespace,
       lower(r_name) AS table_name
FROM region
ORDER BY namespace, table_name
"""


def _iceberg_write_pipeline(spark, sf):
    """Native write surface end-to-end: CTAS -> UPDATE-to-NULL ->
    self-INSERT -> DELETE -> ADD COLUMN DEFAULT -> computed UPDATE ->
    widen INT->BIGINT, then scan. Mirrors reference updates_v2/q01-q08
    (its generator does these through Spark; we do them natively)."""
    import tempfile

    from duckdb_iceberg_spark import IcebergTable

    path = tempfile.mkdtemp(prefix="ice_wp_") + "/t"
    df = _t(spark, sf, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", F.col("s_acctbal").cast("double").alias("s_acctbal")
    )
    t = IcebergTable.create(spark, path, df)
    t.update_where("s_suppkey % 7 = 0", {"s_acctbal": F.lit(None).cast("double")})
    t.insert_sql("SELECT * FROM t WHERE s_suppkey % 13 = 0")
    t.delete_where("s_suppkey % 11 = 0")
    t.add_column("evolved", "int", default=42)
    t.update_where("s_suppkey % 5 = 0", {"evolved": "CAST(s_suppkey AS INT)"})
    t.alter_column_type("evolved", "long")
    return t.scan().select("s_suppkey", "s_name", "s_nationkey", F.round("s_acctbal", 2).alias("s_acctbal"), "evolved")


_ICEBERG_WP_SQL = """
WITH base AS (
  SELECT s_suppkey, s_name, s_nationkey,
         CASE WHEN s_suppkey % 7 = 0 THEN NULL ELSE CAST(s_acctbal AS DOUBLE) END AS s_acctbal
  FROM supplier),
ins AS (
  SELECT * FROM base UNION ALL SELECT * FROM base WHERE s_suppkey % 13 = 0),
del AS (
  SELECT * FROM ins WHERE s_suppkey % 11 <> 0)
SELECT s_suppkey, s_name, s_nationkey, ROUND(s_acctbal, 2) AS s_acctbal,
       CAST(CASE WHEN s_suppkey % 5 = 0 THEN s_suppkey ELSE 42 END AS BIGINT) AS evolved
FROM del
"""


def _iceberg_row_lineage(spark, sf):
    """Iceberg v3 ROW LINEAGE: every committed data file gets the
    _row_id of its first row (spec field 142, chained off the table's
    next-row-id); the scan inherits per-row ids from a broadcast
    per-file map (zero shuffle) and exposes _row_id /
    _last_updated_sequence_number virtual columns. Built: two appends
    (nation split at key 10) then a DV delete — ids must be unique,
    stable under the delete, and grouped by committing snapshot.
    The reference has no v3 support at all."""
    import tempfile

    from duckdb_iceberg_spark.writer import IcebergTable

    n = _t(spark, sf, "nation")
    path = tempfile.mkdtemp(prefix="ice_lin_") + "/t"
    t = IcebergTable.create(spark, path, n.limit(0), format_version=3)
    t.append(n.filter("n_nationkey < 10").orderBy("n_nationkey").coalesce(1))
    t = IcebergTable(spark, path)
    t.append(n.filter("n_nationkey >= 10").orderBy("n_nationkey").coalesce(1))
    t = IcebergTable(spark, path)
    t.delete_where("n_nationkey % 4 = 0")
    df = iceberg_scan(spark, path, row_lineage=True)
    return df.select(
        "_row_id",
        F.dense_rank()
        .over(Window.orderBy("_last_updated_sequence_number"))
        .alias("commit_no"),
        "n_nationkey",
    ).orderBy("_row_id")


_ICEBERG_LINEAGE_SQL = """
WITH base AS (
  SELECT n_nationkey, CASE WHEN n_nationkey < 10 THEN 1 ELSE 2 END AS grp FROM nation),
ids AS (
  SELECT n_nationkey, grp,
         ROW_NUMBER() OVER (PARTITION BY grp ORDER BY n_nationkey) - 1
         + CASE WHEN grp = 1 THEN 0
                ELSE (SELECT COUNT(*) FROM base WHERE grp = 1) END AS _row_id
  FROM base)
SELECT _row_id, CAST(grp AS INT) AS commit_no, n_nationkey FROM ids
WHERE n_nationkey % 4 <> 0 ORDER BY _row_id
"""


def _iceberg_table_stats(spark, sf):
    """Puffin TABLE STATISTICS round-trip: compaction writes one
    exact-NDV blob per column into a stats Puffin file registered in
    metadata.json `statistics` (Iceberg spec "Table statistics"); the
    metadata table reads the ndv back — payload-verified against the
    blob property — all driver-side KB-scale I/O. These are the
    numbers iceberg_join's broadcast decision consumes. The reference
    neither writes nor reads statistics."""
    import tempfile

    from duckdb_iceberg_spark import iceberg_table_statistics
    from duckdb_iceberg_spark.writer import IcebergTable

    p = _t(spark, sf, "part")
    path = tempfile.mkdtemp(prefix="ice_stats_") + "/t"
    t = IcebergTable.create(spark, path, p)
    t.rewrite_data_files(collect_statistics=True)
    return (
        iceberg_table_statistics(spark, path, verify_payload=True)
        .select(F.col("column").alias("col_name"), "ndv")
        .orderBy("col_name")
    )


_ICEBERG_STATS_SQL = """
SELECT col_name, ndv FROM (
  SELECT 'p_partkey' AS col_name, COUNT(DISTINCT p_partkey) AS ndv FROM part
  UNION ALL SELECT 'p_name', COUNT(DISTINCT p_name) FROM part
  UNION ALL SELECT 'p_brand', COUNT(DISTINCT p_brand) FROM part
  UNION ALL SELECT 'p_type', COUNT(DISTINCT p_type) FROM part
  UNION ALL SELECT 'p_size', COUNT(DISTINCT p_size) FROM part
  UNION ALL SELECT 'p_retailprice', COUNT(DISTINCT p_retailprice) FROM part
) ORDER BY col_name
"""


def _rest_mutation_pipeline(spark, sf):
    """REST-catalog twin of iceberg_write_pipeline (reference
    updates_v2/q01-q08 shapes): every mutation step commits THROUGH
    the catalog — the client diffs table metadata before/after and
    POSTs spec update types (add-schema + set-current-schema for the
    DDL steps, add-snapshot + set-snapshot-ref for the DML, with
    assert-ref-snapshot-id / assert-current-schema-id requirements) —
    and the final scan resolves the metadata-location FROM the
    catalog, so the result validates the SERVER-side apply logic, not
    just the local writer. The reference only ever loads through REST
    (scripts/start-rest-catalog.sh:14-27); committing through it is a
    deliberate extension."""
    import tempfile

    from duckdb_iceberg_spark.sources.rest_catalog import RestCatalog
    from duckdb_iceberg_spark.sources.rest_server import LocalRestCatalogServer

    srv = LocalRestCatalogServer()
    srv.start()
    try:
        cat = RestCatalog(srv.uri)
        df = _t(spark, sf, "supplier").select(
            "s_suppkey", "s_name", "s_nationkey", F.col("s_acctbal").cast("double").alias("s_acctbal")
        )
        loc = tempfile.mkdtemp(prefix="ice_rmp_") + "/t"
        cat.create_table(spark, "default", "sup", df, loc)
        steps = [
            lambda t: t.update_where("s_suppkey % 7 = 0", {"s_acctbal": F.lit(None).cast("double")}),
            lambda t: t.insert_sql("SELECT * FROM t WHERE s_suppkey % 13 = 0"),
            lambda t: t.delete_where("s_suppkey % 11 = 0"),
            lambda t: t.add_column("evolved", "int", default=42),
            lambda t: t.update_where("s_suppkey % 5 = 0", {"evolved": "CAST(s_suppkey AS INT)"}),
            lambda t: t.alter_column_type("evolved", "long"),
        ]
        for step in steps:
            cat.commit(spark, "default", "sup", step)
        return cat.scan(spark, "default", "sup").select(
            "s_suppkey", "s_name", "s_nationkey", F.round("s_acctbal", 2).alias("s_acctbal"), "evolved"
        )
    finally:
        srv.stop()


def _iceberg_mixed_formats(spark, sf):
    """One Iceberg table, three data-file formats in the same
    snapshot: parquet (written natively), ORC (adopted via add_files,
    read by spark.read.orc), AVRO (adopted via add_files, decoded
    executor-side by the pure-Python codec with synthesized row
    positions). The manifests' per-file file_format routes each file
    to its reader. The reference parses file_format
    (src/common/iceberg.cpp) but assumes PARQUET and would mis-read
    this table. Oracle = the supplier rows regardless of which format
    holds them."""
    import glob
    import tempfile

    from duckdb_iceberg_spark import IcebergTable, iceberg_scan
    from duckdb_iceberg_spark.plans.avro import write_avro_file

    s = _t(spark, sf, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    base = tempfile.mkdtemp(prefix="ice_mixed_")
    path = base + "/t"
    t = IcebergTable.create(spark, path, s.filter("s_suppkey % 3 = 0"))
    orc_dir = base + "/orc"
    s.filter("s_suppkey % 3 = 1").coalesce(1).write.orc(orc_dir)
    t = IcebergTable(spark, path)
    t.add_files(glob.glob(orc_dir + "/part-*.orc"), file_format="ORC")
    avro_schema = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "s_suppkey", "type": "long"},
            {"name": "s_name", "type": "string"},
            {"name": "s_nationkey", "type": "long"},
        ],
    }
    recs = [
        {"s_suppkey": r.s_suppkey, "s_name": r.s_name, "s_nationkey": r.s_nationkey}
        for r in s.filter("s_suppkey % 3 = 2").orderBy("s_suppkey").collect()
    ]
    avro_file = base + "/tail.avro"
    write_avro_file(avro_file, avro_schema, recs)
    t = IcebergTable(spark, path)
    t.add_files([avro_file], file_format="AVRO")
    return iceberg_scan(spark, path)


_ICEBERG_MIXED_SQL = """
SELECT s_suppkey, s_name, s_nationkey FROM supplier
"""


def _rest_catalog_ddl(spark, sf):
    """Catalog DDL lifecycle against the local REST server (the
    surface the reference's CI catalog — tabulario/iceberg-rest,
    scripts/docker-compose.yml — serves but its extension never
    drives): create-namespace x2 -> CTAS under `stage` -> renameTable
    across namespaces -> dropTable + dropNamespace, with the
    spec's failure modes asserted inline (409 duplicate namespace,
    409 non-empty namespace, 404 after drop). The returned rows are
    the table scanned through its POST-RENAME identifier, so the
    oracle check proves the pointer survived the whole lifecycle."""
    import tempfile
    import urllib.error

    from duckdb_iceberg_spark.sources.rest_catalog import RestCatalog
    from duckdb_iceberg_spark.sources.rest_server import LocalRestCatalogServer
    from duckdb_iceberg_spark.writer import CommitConflictError

    srv = LocalRestCatalogServer()
    srv.start()
    try:
        cat = RestCatalog(srv.uri)
        cat.create_namespace("stage", {"owner": "etl"})
        cat.create_namespace("warehouse")
        try:
            cat.create_namespace("stage")
            raise AssertionError("duplicate namespace must 409")
        except CommitConflictError:
            pass
        n = _t(spark, sf, "nation").select("n_nationkey", "n_name", "n_regionkey")
        loc = tempfile.mkdtemp(prefix="ice_ddl_") + "/nat"
        cat.create_table(spark, "stage", "nat", n, loc)
        cat.rename_table("stage", "nat", "warehouse", "nat_final")
        assert cat.list_tables("stage") == []
        assert cat.list_tables("warehouse") == ["nat_final"]
        out = cat.scan(spark, "warehouse", "nat_final").withColumn(
            "resolved", F.lit("warehouse.nat_final")
        )
        try:
            cat.drop_namespace("warehouse")  # still holds nat_final
            raise AssertionError("non-empty namespace must 409")
        except CommitConflictError:
            pass
        cat.drop_table("warehouse", "nat_final")
        try:
            cat.load_table("warehouse", "nat_final")
            raise AssertionError("dropped table must 404")
        except urllib.error.HTTPError as e:
            assert e.code == 404
        cat.drop_namespace("warehouse")
        cat.drop_namespace("stage")
        return out  # scan resolved its manifests before the drops
    finally:
        srv.stop()


_REST_DDL_SQL = """
SELECT n_nationkey, n_name, n_regionkey, 'warehouse.nat_final' AS resolved
FROM nation
"""


def _rest_two_table_transaction(spark, sf):
    """Atomic MULTI-TABLE commit (`POST /v1/transactions/commit`, the
    spec's commitTransaction — beyond the reference, whose REST flow
    is read-only): two tables each stage an append on an `audit`
    branch THROUGH the catalog (main untouched — asserted), then ONE
    transaction fast-forwards both branches, so the two publishes are
    all-or-nothing. Rows = the union of both tables after publish."""
    import tempfile

    from duckdb_iceberg_spark.sources.rest_catalog import RestCatalog
    from duckdb_iceberg_spark.sources.rest_server import LocalRestCatalogServer

    srv = LocalRestCatalogServer()
    srv.start()
    try:
        cat = RestCatalog(srv.uri)
        n = _t(spark, sf, "nation").select("n_nationkey", "n_name")
        r = _t(spark, sf, "region").select("r_regionkey", "r_name")
        base = tempfile.mkdtemp(prefix="ice_txn_")
        cat.create_table(spark, "default", "nat", n.filter("n_nationkey < 10"), base + "/nat")
        cat.create_table(spark, "default", "reg", r.filter("r_regionkey < 2"), base + "/reg")
        # stage the rest of each table on an audit branch, through the
        # catalog (set-snapshot-ref audit, main unchanged)
        cat.commit(
            spark, "default", "nat", lambda t: t.append(n.filter("n_nationkey >= 10"), to_branch="audit")
        )
        cat.commit(
            spark, "default", "reg", lambda t: t.append(r.filter("r_regionkey >= 2"), to_branch="audit")
        )
        assert cat.scan(spark, "default", "nat").count() == n.filter("n_nationkey < 10").count()
        assert cat.scan(spark, "default", "reg").count() == 2
        # ONE transaction publishes both
        cat.commit_transaction(
            spark,
            [
                ("default", "nat", lambda t: t.fast_forward("audit")),
                ("default", "reg", lambda t: t.fast_forward("audit")),
            ],
        )
        nat = cat.scan(spark, "default", "nat").select(
            F.lit("nation").alias("src"), F.col("n_nationkey").cast("long").alias("key")
        )
        reg = cat.scan(spark, "default", "reg").select(
            F.lit("region").alias("src"), F.col("r_regionkey").cast("long").alias("key")
        )
        return nat.unionByName(reg)
    finally:
        srv.stop()


_REST_TXN_SQL = """
SELECT 'nation' AS src, CAST(n_nationkey AS BIGINT) AS key FROM nation
UNION ALL
SELECT 'region' AS src, CAST(r_regionkey AS BIGINT) AS key FROM region
"""


def _iceberg_wap_branch(spark, sf):
    """Write-audit-publish: stage two appends on an 'audit' branch
    (invisible to plain reads — asserted), then fast_forward publishes
    both atomically. Oracle = the published end state."""
    import tempfile

    from duckdb_iceberg_spark import IcebergTable

    path = tempfile.mkdtemp(prefix="ice_wap_") + "/t"
    n = _t(spark, sf, "nation").select("n_nationkey", "n_name", "n_regionkey")
    t = IcebergTable.create(spark, path, n.filter("n_nationkey % 3 = 0"))
    staged_before = t.scan().count()
    t.append(n.filter("n_nationkey % 3 = 1"), to_branch="audit")
    t.append(n.filter("n_nationkey % 3 = 2"), to_branch="audit")
    # the audit gate: staged rows invisible until publish
    assert t.scan().count() == staged_before
    t.fast_forward("audit")
    return t.scan()


_ICEBERG_WAP_SQL = """
SELECT n_nationkey, n_name, n_regionkey FROM nation
"""


def _streaming_from_iceberg_source(spark, sf):
    """Iceberg table as a STREAMING SOURCE (PySpark 4 Python Data
    Source API): commits become micro-batches scoped by
    sequence-number offsets, data files read executor-side via Arrow.
    Two commits drained into a memory sink must equal the table."""
    import tempfile

    from duckdb_iceberg_spark import IcebergTable
    from duckdb_iceberg_spark.streaming.iceberg_source import read_table_stream

    path = tempfile.mkdtemp(prefix="ice_srcq_") + "/t"
    n = _t(spark, sf, "nation").select("n_nationkey", "n_name", "n_regionkey")
    t = IcebergTable.create(spark, path, n.filter("n_nationkey % 2 = 0"))
    t.append(n.filter("n_nationkey % 2 = 1"))
    stream = read_table_stream(spark, path)
    ckpt = tempfile.mkdtemp(prefix="ice_srcq_ckpt_")
    q = (
        stream.writeStream.format("memory")
        .queryName("ice_src_entry")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.table("ice_src_entry")


_ICEBERG_SRC_SQL = """
SELECT n_nationkey, n_name, n_regionkey FROM nation
"""


def _iceberg_equality_deletes(spark, sf):
    """Native equality-delete write + sequence-scoped read (the
    reference reads such tables incorrectly; we do it per spec)."""
    import tempfile

    from duckdb_iceberg_spark import IcebergTable

    path = tempfile.mkdtemp(prefix="ice_eq_") + "/t"
    part = _t(spark, sf, "part")
    t = IcebergTable.create(spark, path, part)
    t.delete_where_equality(part.filter("p_partkey % 4 = 1").select("p_partkey"))
    t.delete_where_equality(part.filter("p_size > 45").select("p_brand", "p_size"))
    return t.scan().select("p_partkey", "p_name", "p_brand", "p_size")


_ICEBERG_EQ_SQL = """
SELECT p_partkey, p_name, p_brand, p_size FROM part p
WHERE p_partkey % 4 <> 1
  AND NOT EXISTS (SELECT 1 FROM part x
                  WHERE x.p_size > 45 AND x.p_brand = p.p_brand AND x.p_size = p.p_size)
"""


def _iceberg_foreign_eq_deletes(spark, sf):
    """FOREIGN-writer interop: scan a v2 table laid down by an
    independent construction path mimicking Java/pyiceberg conventions
    (plans/foreign_fixture.py — zstandard manifests, version-guessed
    pyiceberg metadata naming, mixed partition specs, percent-encoded
    partition dirs, inherited sequence numbers, mid-history equality
    deletes that must NOT touch later appends). The reference's own
    interop fixtures are Spark-written (scripts/test_data_generator/
    generate_iceberg.py:33-39); this goes one engine-style further."""
    import tempfile

    from duckdb_iceberg_spark.plans.foreign_fixture import write_foreign_table

    path = tempfile.mkdtemp(prefix="ice_foreign_") + "/t"
    write_foreign_table(os.path.join(sf, "part.parquet"), path)
    return iceberg_scan(spark, path, unsafe_enable_version_guessing=True)


# predicate mirrors foreign_fixture.DELETE_SIZES / DELETE_BRAND and the
# mod-3 commit split: group C (p_partkey%3=2) commits AFTER the delete
# (higher sequence number), so the deletes never apply to it.
_ICEBERG_FOREIGN_EQ_SQL = """
SELECT p_partkey, p_brand, p_size, p_retailprice FROM part
WHERE (p_partkey % 3 = 2)
   OR NOT (p_size IN (1,2,3,48,49,50) OR p_brand = 'Brand#33')
"""


def _iceberg_deletion_vectors(spark, sf):
    """Iceberg V3 deletion vectors (Puffin roaring-bitmap blobs, spec
    fields 143-145) read alongside a leftover v2 positional-delete
    parquet — the state of an upgraded table. DV blobs decode
    EXECUTOR-side (mapInPandas over (path, offset, size) rows) into the
    same (file_path, pos) anti-join classic deletes use. Beyond the
    reference entirely: it has no v3 support (and mishandles even v2
    equality deletes, iceberg_scan.cpp:167-169)."""
    import tempfile

    from duckdb_iceberg_spark.plans.foreign_fixture import write_dv_table

    path = tempfile.mkdtemp(prefix="ice_dv_") + "/t"
    write_dv_table(os.path.join(sf, "part.parquet"), path)
    return iceberg_scan(spark, path).select(
        "p_partkey", "p_brand", "p_size"
    ).orderBy("p_partkey")


# mirrors write_dv_table: file 0 (%3=0) loses its DELETE_SIZES rows via
# a DV, file 1 (%3=1) loses its FIRST five row positions (rows are
# written p_partkey-ascending => the 5 smallest keys), file 2 (%3=2)
# loses its LAST three positions via a classic positional delete.
_ICEBERG_DV_SQL = """
WITH p AS (
  SELECT p_partkey, p_brand, p_size,
         ROW_NUMBER() OVER (PARTITION BY p_partkey % 3 ORDER BY p_partkey) AS rn,
         COUNT(*) OVER (PARTITION BY p_partkey % 3) AS cnt
  FROM part)
SELECT p_partkey, p_brand, p_size FROM p
WHERE NOT (p_partkey % 3 = 0 AND p_size IN (1,2,3,48,49,50))
  AND NOT (p_partkey % 3 = 1 AND rn <= 5)
  AND NOT (p_partkey % 3 = 2 AND rn > cnt - 3)
ORDER BY p_partkey
"""


def _iceberg_variant(spark, sf):
    """Iceberg v3 VARIANT round-trip: a semi-structured payload column
    (Spark 4 VariantType <-> Iceberg v3 `variant`) written into a v3
    table by the native writer, DV-deleted, scanned back, and shredded
    with variant_get. Oracle computes the same projections straight
    from the source columns. Emerging-spec stretch the reference has
    no notion of (r9 VERDICT gap #6)."""
    import tempfile

    from duckdb_iceberg_spark.writer import IcebergTable

    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 200)
    df = d.select(
        "doc_id",
        F.parse_json(
            F.to_json(F.struct(F.col("lang"), F.col("source"), F.col("n_chars")))
        ).alias("payload"),
    )
    path = tempfile.mkdtemp(prefix="ice_var_") + "/t"
    t = IcebergTable.create(spark, path, df, format_version=3)
    t.delete_where("doc_id % 5 = 0")
    return (
        iceberg_scan(spark, path)
        .select(
            "doc_id",
            F.variant_get("payload", "$.lang", "string").alias("lang"),
            F.variant_get("payload", "$.source", "string").alias("source"),
            F.variant_get("payload", "$.n_chars", "long").alias("n_chars"),
        )
        .orderBy("doc_id")
    )


_ICEBERG_VARIANT_SQL = """
SELECT doc_id, lang, source, n_chars FROM documents
WHERE doc_id < 200 AND doc_id % 5 <> 0 ORDER BY doc_id
"""


def _iceberg_variant_arrow(spark, sf):
    """Arrow-path twin of iceberg_variant: pyarrow cannot parse
    Spark's VARIANT parquet annotation, so io='arrow' reads the file
    through in-process DuckDB and REASSEMBLES the shredded groups
    (metadata / residual value / typed_value) into canonical variant
    binaries via the pure-Python codec (plans/variant,
    VariantShredding.md reader algorithm) — variant_get then shreds
    identically to the default path, composing with the v3 deletion
    vectors. Same oracle as iceberg_variant: both paths must agree
    with the source columns."""
    import tempfile

    from duckdb_iceberg_spark.writer import IcebergTable

    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 200)
    df = d.select(
        "doc_id",
        F.parse_json(
            F.to_json(F.struct(F.col("lang"), F.col("source"), F.col("n_chars")))
        ).alias("payload"),
    )
    path = tempfile.mkdtemp(prefix="ice_vararw_") + "/t"
    t = IcebergTable.create(spark, path, df, format_version=3)
    t.delete_where("doc_id % 5 = 0")
    return (
        iceberg_scan(spark, path, io="arrow")
        .select(
            "doc_id",
            F.variant_get("payload", "$.lang", "string").alias("lang"),
            F.variant_get("payload", "$.source", "string").alias("source"),
            F.variant_get("payload", "$.n_chars", "long").alias("n_chars"),
        )
        .orderBy("doc_id")
    )


def _iceberg_arrow_dv(spark, sf):
    """The DV fixture (mixed v3 deletion vectors + leftover v2
    positional parquet) read through io='arrow': DV blobs ranged-read
    via plans/fs.read_range and applied IN-READER next to the classic
    deletes — the JVM-free path for v3 object-store tables. Same
    oracle as the default-path entry (results must be identical)."""
    import tempfile

    from duckdb_iceberg_spark.plans.foreign_fixture import write_dv_table

    path = tempfile.mkdtemp(prefix="ice_dva_") + "/t"
    write_dv_table(os.path.join(sf, "part.parquet"), path)
    return (
        iceberg_scan(spark, path, io="arrow")
        .select("p_partkey", "p_brand", "p_size")
        .orderBy("p_partkey")
    )


def _iceberg_dv_roundtrip(spark, sf):
    """Native v3 WRITE round-trip: create a format_version=3 table,
    append supplier, DELETE (s_suppkey % 7 = 0) then UPDATE
    (s_suppkey % 7 = 3 -> s_acctbal = -999.99) — both mutations emit
    Puffin DELETION VECTORS (merge rule applied, zero position-delete
    parquet) via writer._write_position_deletes — and read the result
    back through the executor-side DV decode path. The reference
    cannot write OR read v3 tables at all."""
    import tempfile

    from duckdb_iceberg_spark.writer import IcebergTable

    s = spark.read.parquet(os.path.join(sf, "supplier.parquet"))
    path = tempfile.mkdtemp(prefix="ice_dvw_") + "/t"
    t = IcebergTable.create(spark, path, s.limit(0), format_version=3)
    t.append(s)
    t = IcebergTable(spark, path)
    t.delete_where("s_suppkey % 7 = 0")
    t = IcebergTable(spark, path)
    t.update_where("s_suppkey % 7 = 3", {"s_acctbal": "CAST(-999.99 AS DOUBLE)"})
    return (
        iceberg_scan(spark, path)
        .select(
            "s_suppkey",
            "s_name",
            F.round(F.col("s_acctbal"), 2).alias("acctbal"),
        )
        .orderBy("s_suppkey")
    )


_ICEBERG_DV_RT_SQL = """
SELECT s_suppkey, s_name,
       ROUND(CASE WHEN s_suppkey % 7 = 3 THEN -999.99 ELSE s_acctbal END, 2) AS acctbal
FROM supplier
WHERE s_suppkey % 7 <> 0
ORDER BY s_suppkey
"""


_SALT_TUNE: dict[str, int] = {}


def _join_salted(spark, sf):
    """Skew-resilient salted join — result must equal the plain join.
    Auto-tuned fan-out: uniform TPC-H keys tune to 1 (no salt cost);
    a genuinely hot key would widen (tests plant one). The tuning
    sample is one pass per dataset, memoized — skew is a property of
    the data, not of the query, so a pipeline profiles it once."""
    from duckdb_iceberg_spark.operators.skew import salted_join, tune_n_salts

    li = _t(spark, sf, "lineitem")
    p = _t(spark, sf, "part").select("p_partkey", "p_brand")
    if sf not in _SALT_TUNE:
        _SALT_TUNE[sf] = tune_n_salts(li, "l_partkey")
    pli, pp = _t_proj(spark, sf, "lineitem", "l_partkey"), _t_proj(spark, sf, "part", "p_partkey")
    if _SALT_TUNE[sf] <= 1 and pli is not None and "p_brand" in pli.columns:
        # no skew detected and the projection denormalizes p_brand:
        # the join is a no-op — scan + aggregate (IS NOT NULL keeps
        # inner-join semantics for dangling partkeys)
        joined = pli.filter(F.col("p_brand").isNotNull())
    elif _SALT_TUNE[sf] <= 1 and pli is not None and pp is not None:
        # no skew detected -> salting is a no-op, so take the best
        # available physical path: the partkey projections join
        # co-located (salting exists for when layout CAN'T save you —
        # a hot key concentrates within one bucket all the same)
        joined = pli.join(
            pp.hint("SHUFFLE_HASH").withColumnRenamed("p_partkey", "l_partkey"), "l_partkey"
        )
    else:
        joined = salted_join(
            li, p.withColumnRenamed("p_partkey", "l_partkey"), on="l_partkey", n_salts=_SALT_TUNE[sf]
        )
    # exact-cents policy (module doc): quantity carries 2 decimals, so
    # the long-cents sum is exact and order-independent, and one double
    # division at output is IEEE-exact — ~15% cheaper than a
    # decimal(18,2) sum at sf10
    return joined.groupBy("p_brand").agg(
        F.count("*").alias("n"),
        (F.sum(F.round(F.col("l_quantity") * 100).cast("long")).cast("double") / F.lit(100.0)).alias("qty"),
    )


_JOIN_SALTED_SQL = """
SELECT p_brand, COUNT(*) AS n, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY p_brand
"""


def _iceberg_merge_upsert(spark, sf):
    """MERGE INTO (update matched + insert unmatched in one snapshot)."""
    import tempfile

    from duckdb_iceberg_spark import IcebergTable

    path = tempfile.mkdtemp(prefix="ice_mg_") + "/t"
    sup = _t(spark, sf, "supplier").select("s_suppkey", "s_name", F.col("s_acctbal").cast("double").alias("s_acctbal"))
    t = IcebergTable.create(spark, path, sup)
    src = sup.filter("s_suppkey % 3 = 0").select(
        "s_suppkey", F.lit("MERGED").alias("s_name"), (F.col("s_acctbal") + 1000).alias("s_acctbal")
    ).union(
        sup.filter("s_suppkey % 3 = 0").select(
            (F.col("s_suppkey") + 1000000).alias("s_suppkey"),
            F.lit("NEW").alias("s_name"),
            F.lit(0.0).alias("s_acctbal"),
        )
    )
    t.merge(
        src,
        on="s_suppkey",
        when_matched_update={"s_name": "src.s_name", "s_acctbal": "src.s_acctbal"},
        when_not_matched_insert=True,
    )
    return t.scan().select("s_suppkey", "s_name", F.round("s_acctbal", 2).alias("s_acctbal"))


_ICEBERG_MERGE_SQL = """
SELECT s_suppkey,
       CASE WHEN s_suppkey % 3 = 0 THEN 'MERGED' ELSE s_name END AS s_name,
       ROUND(CASE WHEN s_suppkey % 3 = 0 THEN s_acctbal + 1000 ELSE s_acctbal END, 2) AS s_acctbal
FROM supplier
UNION ALL
SELECT s_suppkey + 1000000, 'NEW', 0.0 FROM supplier WHERE s_suppkey % 3 = 0
"""


def _iceberg_compaction(spark, sf):
    """MoR deletes followed by rewrite_data_files + expire_snapshots +
    remove_orphan_files; live rows must be unchanged by maintenance."""
    import tempfile

    from duckdb_iceberg_spark import IcebergTable

    path = tempfile.mkdtemp(prefix="ice_cp_") + "/t"
    t = IcebergTable.create(spark, path, _t(spark, sf, "nation"))
    t.delete_where("n_nationkey % 5 = 0")
    t.rewrite_data_files()
    t.expire_snapshots(keep_last=1)
    t.remove_orphan_files()
    return t.scan()


_ICEBERG_CP_SQL = "SELECT * FROM nation WHERE n_nationkey % 5 <> 0"


def _iceberg_rewrite_manifests(spark, sf):
    """Three appends + a MoR delete build a 4-manifest tree; the
    rewrite_manifests procedure merges it to one manifest per content
    type (pure metadata, zero data movement) and the scan must be
    byte-identical after."""
    import tempfile

    from duckdb_iceberg_spark import IcebergTable

    n = _t(spark, sf, "nation")
    path = tempfile.mkdtemp(prefix="ice_rm_") + "/t"
    t = IcebergTable.create(spark, path, n.filter("n_nationkey < 10"))
    t.append(n.filter("n_nationkey >= 10 AND n_nationkey < 20"))
    t.append(n.filter("n_nationkey >= 20"))
    t.delete_where("n_nationkey % 7 = 0")
    t.rewrite_manifests()
    return t.scan()


_ICEBERG_RM_SQL = "SELECT * FROM nation WHERE n_nationkey % 7 <> 0"


def _iceberg_refs(spark, sf):
    """`refs` metadata surface: a tag pinned before a delete and a
    branch created after must resolve (via ref= time travel) to the
    pre- and post-delete row counts respectively."""
    import tempfile

    from duckdb_iceberg_spark import IcebergTable, iceberg_scan

    path = tempfile.mkdtemp(prefix="ice_refs_") + "/t"
    t = IcebergTable.create(spark, path, _t(spark, sf, "nation"))
    t.create_tag("v1")
    t.delete_where("n_nationkey % 3 = 0")
    t.create_branch("dev")
    rows = [
        (name, t.refs()[name]["type"], iceberg_scan(spark, path, ref=name).count())
        for name in ("v1", "dev")
    ]
    return _local_df(spark, rows, "ref_name string, ref_type string, row_count long")


_ICEBERG_REFS_SQL = """
SELECT 'v1' AS ref_name, 'tag' AS ref_type, COUNT(*) AS row_count FROM nation
UNION ALL
SELECT 'dev', 'branch', COUNT(*) FROM nation WHERE n_nationkey % 3 <> 0
"""


def _iceberg_changelog(spark, sf):
    """Net row-level CDC between two snapshots (append + MoR delete in
    the window), computed from the manifest diff — unchanged files are
    never read."""
    import tempfile

    from duckdb_iceberg_spark import IcebergTable

    n = _t(spark, sf, "nation")
    path = tempfile.mkdtemp(prefix="ice_cl_") + "/t"
    t = IcebergTable.create(spark, path, n.filter("n_nationkey < 15"))
    base = t.meta.latest_snapshot().snapshot_id
    t.append(n.filter("n_nationkey >= 15"))
    t.delete_where("n_nationkey % 4 = 0")
    return t.scan_changelog(base)


_ICEBERG_CL_SQL = """
SELECT 'insert' AS change_type, * FROM nation
WHERE n_nationkey >= 15 AND n_nationkey % 4 <> 0
UNION ALL
SELECT 'delete', * FROM nation WHERE n_nationkey < 15 AND n_nationkey % 4 = 0
"""


def _iceberg_partition_evolution(spark, sf):
    """Partition evolution: unpartitioned -> add identity(lang) ->
    append; a mixed-spec predicate read (old files row-filtered, new
    files pruned) must be row-exact."""
    import tempfile

    from duckdb_iceberg_spark import IcebergTable

    docs = _t(spark, sf, "documents").select("doc_id", "lang", "source")
    path = tempfile.mkdtemp(prefix="ice_pe_") + "/t"
    t = IcebergTable.create(spark, path, docs.filter("doc_id < 250"))
    t.add_partition_field("lang")
    t.append(docs.filter("doc_id >= 250"))
    return t.scan(where="lang = 'en'")


_ICEBERG_PE_SQL = """
SELECT doc_id, lang, source FROM documents WHERE lang = 'en'
"""



# Re-export EVERYTHING (including underscore names) down the entries
# star-import chain: layout -> relational -> pipeline -> iceberg ->
# __spark_entry__. The chain reproduces the pre-split single-module
# namespace exactly, so entry functions keep referencing helpers and
# SQL constants unqualified and module state (e.g. _BUCKETED_OVERLAY)
# stays ONE shared object.
__all__ = [_n for _n in list(globals()) if not _n.startswith("__")]
