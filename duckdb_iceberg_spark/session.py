"""SparkSession factory with scale-oriented defaults.

Configs chosen for correctness-at-scale, not just local runs:
- AQE on (runtime re-plan, skew-join splitting, partition coalescing)
- Arrow for every Python<->JVM boundary (pandas UDFs, toPandas)
- parquet field-id resolution for Iceberg schema evolution
- shuffle partitions sized for the local harness; on a real cluster
  AQE coalescing makes the static number far less sensitive.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def s3_configs(
    endpoint: str | None = None,
    access_key: str | None = None,
    secret_key: str | None = None,
    path_style: bool = True,
) -> dict:
    """spark.hadoop.fs.s3a.* configs for object-store tables — the
    Spark equivalent of the reference's httpfs+secrets path
    (reference test/sql/iceberg_scan_generated_data_0_01_remote.test_slow,
    scripts/start-rest-catalog.sh:18-26). Pass the result to
    ``get_spark(**s3_configs(...))``; s3a:// paths then work in every
    reader and in the metadata layer via pyarrow.fs. Untestable in
    this container (no object store) — config surface only."""
    out = {
        "spark.hadoop.fs.s3a.impl": "org.apache.hadoop.fs.s3a.S3AFileSystem",
        "spark.hadoop.fs.s3a.path.style.access": str(path_style).lower(),
    }
    if endpoint:
        out["spark.hadoop.fs.s3a.endpoint"] = endpoint
    if access_key:
        out["spark.hadoop.fs.s3a.access.key"] = access_key
    if secret_key:
        out["spark.hadoop.fs.s3a.secret.key"] = secret_key
    return out


def normalize_event_ts(df, col: str = "ts"):
    """Normalize a parquet timestamp column to session-TZ TIMESTAMP
    regardless of its physical encoding.  The events fixture has been
    regenerated with different encodings across rounds —
    TIMESTAMP(NANOS) (read as long under nanosAsLong) and plain micros
    with isAdjustedToUTC=false (read as TIMESTAMP_NTZ, which rejects
    numeric casts) — so every loader sniffs rather than assumes."""
    from pyspark.sql import functions as F

    dt = dict(df.dtypes).get(col)
    if dt == "bigint":
        # nanos-as-long; truncate to micros exactly like DuckDB.
        df = df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    elif dt == "timestamp_ntz":
        # session TZ is pinned UTC, so the instant is unchanged.
        df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def _install_jvm_function_cache() -> None:
    """Memoize pyspark's ``_get_jvm_function`` per SparkContext.

    Every ``F.*`` builder call resolves its JVM static-method handle
    with two py4j REFLECTION round trips (``sc._jvm -> functions`` and
    the member lookup) before the one round trip that does the work —
    pyspark never caches the handle. The handles are static methods on
    ``org.apache.spark.sql.functions``; reusing them is exactly what
    calling the same ``F.*`` twice already does. Cache lives on the
    SparkContext instance, so a restarted context starts empty and a
    dead gateway is never served. Profiled (§7.3): construction of the
    expression-heavy queries spends ~2/3 of its gateway trips on these
    lookups."""
    from pyspark.sql.functions import builtin as B

    if getattr(B._get_jvm_function, "_graft_cached", False):
        return
    orig = B._get_jvm_function

    def cached(name, sc):
        cache = sc.__dict__.setdefault("_graft_jvm_fn_cache", {})
        fn = cache.get(name)
        if fn is None:
            fn = orig(name, sc)
            cache[name] = fn
        return fn

    cached._graft_cached = True
    B._get_jvm_function = cached


def get_spark(app_name: str = "duckdb_iceberg_spark", **extra) -> SparkSession:
    _install_jvm_function_cache()
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # one task-wave per shuffle: measured 15-20% faster on the
        # headline suite than 2x-overdecomposition at local scale; on a
        # real cluster the number scales with executor count and AQE
        # coalesces the tail either way.
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Dimension tables up to 32MB broadcast (conservative default is
        # 10MB; with 100+ GiB executors a 32MB broadcast is cheap and
        # removes a shuffle from every star join. AQE still converts
        # larger cases at runtime from observed sizes.)
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # Prefer shuffled-hash over sort-merge when the planner can
        # bound the build side (partition build size under the
        # broadcast threshold): skips two whole-partition sorts per
        # join. Measured -20..-40% on the 3-6 table TPC-H shapes at
        # sf10. Safe at scale: the size bound caps the per-task hash
        # map, and AQE's skew splitting still applies to SHJ.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # Runtime bloom-filter join pruning: the default 10MB
        # creation-side cap never fires on a selective FACT filter
        # (date-filtered orders at sf10 ~80MB), which is exactly where
        # a bloom pays — pruning the probe side before the join.
        # 512MB lets the date/flag-filtered spine sides qualify
        # (measured sf10: q5 -16%, q3 -14%, q10 -12%); the bloom
        # itself stays numBits-capped (8MB), so the cost is one extra
        # agg over the creation side's join key.
        .config(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            str(512 * 1024 * 1024),
        )
        # Whole-stage-codegen class cache: the default 100 entries
        # thrash on a many-query workload (the 39-query suite alone
        # compiles ~150+ codegen units, so a query's generated classes
        # are evicted before its next run and Janino recompiles them —
        # 100-500 ms per query of pure recompilation). A long-lived
        # engine session keeps every plan's classes hot. Static conf:
        # must be set before the first session starts.
        .config("spark.sql.codegen.cache.maxEntries", "5000")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.fieldId.read.enabled", "true")
        .config("spark.sql.parquet.fieldId.read.ignoreMissing", "true")
        .config("spark.sql.parquet.fieldId.write.enabled", "true")
        # INT64 micros, as the Iceberg spec stores timestamps (Spark's
        # default INT96 carries no column statistics)
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # events.parquet stores TIMESTAMP(NANOS); Spark has no nanos type —
        # read as long and convert (ts div 1000 -> micros) at the loader.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # Split sizing: Spark targets totalBytes/defaultParallelism per
        # scan split but floors each split at openCostInBytes (4MB
        # default) — on MB-scale files that caps a 32-core scan at 2-3
        # tasks. 128k lets the bytes-per-core formula reach full
        # parallelism (measured ~20% on the heavy TPC-H shapes at
        # sf0.1); at 100 TB splits are maxPartitionBytes-bound and this
        # only tweaks small-file combining granularity.
        .config("spark.sql.files.openCostInBytes", str(128 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        # heap CAP, not a reservation — the JVM commits only what it
        # uses. 8g OOMed the exact-percentile final merge at sf10
        # (per-group value-count maps over 60M rows x 4 aggs); memory-
        # heavy exact aggregates are the documented trade for their
        # oracle-checkability (the 100 TB path is agg_approx's
        # sketches, which are partial-mergeable and O(1) per group).
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        # collect() ceiling: the default 1g fails oracle comparisons of
        # data-proportional results at sf100 (a 20M-row collect is
        # ~2 GiB serialized). Pure driver-side safety valve for the
        # verification harness — production paths never collect
        # unbounded results (the 4 collect() sites are all bounded
        # model state; see SCALE.md anti-pattern audit).
        .config("spark.driver.maxResultSize", os.environ.get("SPARK_GRAFT_MAX_RESULT", "8g"))
        .config("spark.ui.enabled", "false")
        # PySpark's DataFrame error-context capture (SPARK-44541,
        # default on) wraps EVERY DataFrame/functions API call with
        # getActiveSession() + conf.get + PySparkCurrentOrigin
        # set/clear — ~5 py4j round trips per call, plus a Python
        # stack inspection, purely to enrich error messages with the
        # user call site. Query construction for this engine's larger
        # plans was profiled at 400-1,400 round trips (~0.1-0.2 s of
        # pure loopback latency per query, ~1/3 of the sf0.1 suite's
        # bench time; §7.3 driver-side latency). Debug-only knob: no
        # effect on what any query computes, only on the detail of
        # error call-site attribution.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    # generic conf passthrough for harness tooling, e.g.
    # SPARK_GRAFT_EXTRA_CONF="spark.io.compression.codec=zstd" — the
    # layout-prep script uses zstd shuffle/spill compression to roughly
    # halve the on-disk shuffle footprint of the sf100 bucketed-fact
    # build (row-oriented lz4 shuffle blocks run ~2x parquet size; the
    # CPU trade is irrelevant for a one-time storage-layout write)
    for pair in os.environ.get("SPARK_GRAFT_EXTRA_CONF", "").split(";"):
        if "=" in pair:
            k, _, v = pair.partition("=")
            builder = builder.config(k.strip(), v.strip())
    for k, v in extra.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
