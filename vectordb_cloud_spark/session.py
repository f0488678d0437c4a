"""SparkSession factory tuned for this engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default all cores); the
config is written for a real multi-executor cluster: AQE on (runtime
re-planning + skew-join handling), Arrow on (vectorized Python boundary),
shuffle partitions sized to the environment rather than the 200 default, and
UTC session time so results compare bit-for-bit against the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "vectordb-cloud-spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    At 100 TB these same settings matter more, not less: AQE coalesces the
    post-shuffle partition count to the data's actual size, skew-join splits
    hot tenant keys (the reference's ``user_id`` filter model concentrates
    data per tenant), and maxPartitionBytes keeps scan tasks ~128-256 MB so a
    1000-executor cluster gets even work distribution.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        n = os.cpu_count() or 8
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(min(64, 2 * n))))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # r14 (guide §2.2): coalesce post-shuffle partitions to TARGET SIZE
        # (advisoryPartitionSizeInBytes), not to the local core count. With
        # the default parallelismFirst=true, AQE keeps ~2×cores tiny
        # partitions however small the shuffle is — measured 1.5-2.3×
        # slower across every multi-exchange query at sf0.1 (pure task-
        # scheduling overhead: 22-exchange plans ran 64 near-empty tasks
        # per stage). Size-based coalescing is scale-adaptive by
        # construction: a 100 TB shuffle still gets thousands of
        # partitions from the same setting, which is why Spark's own
        # tuning guide recommends turning parallelismFirst off.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
                os.environ.get("SPARK_GRAFT_AQE_PARALLELISM_FIRST", "false"))
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
                os.environ.get("SPARK_GRAFT_ADVISORY_PARTITION_BYTES", "64m"))
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "268435456")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        # the driver's events table stores TIMESTAMP(NANOS); Spark reads it
        # as long ns-since-epoch (see read_events for the conversion)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # parquet timestamps without the UTC flag read as TIMESTAMP (LTZ),
        # not NTZ — NTZ can't take a watermark or cast to double, and native
        # reads keep filter pushdown on timestamp predicates
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # per-op Python call-site capture for error context (SPARK-47274)
        # costs 3-4 extra py4j round trips on EVERY DataFrame method —
        # ~3 ms/op measured, which multiplies into every serving request
        # and driver-loop plan build. A production session turns it off;
        # errors keep their JVM-side context.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    return builder.getOrCreate()


def parallelize_narrow(df):
    """Fan a narrow input out to the cluster before compute-heavy per-row
    stages. A single parquet file under maxPartitionBytes scans as ONE
    partition — hashing/regex/distance batteries would run single-threaded
    no matter how many cores exist. The small shuffle of raw rows buys full
    parallelism; on a real multi-file table this is a no-op.

    This is the repartition-pin counterpart to the session's
    ``parallelismFirst=false`` size-based AQE coalescing (ADVICE r14):
    tiny-bytes/heavy-compute stages must pin their own fan-out — use this
    helper (or an explicit hash repartition the downstream groupBy can
    reuse) in any new operator whose dominant compute follows a narrow or
    coalesced input."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() * 2 <= target:
        return df.repartition(target)
    return df


def local_df(spark: SparkSession, rows, schema):
    """JVM-held local relation from driver-side rows.

    ``createDataFrame(list)`` parks the data in a PYTHON RDD: the plan is
    ``Scan ExistingRDD`` and every downstream action re-runs a Python
    worker pass just to deserialize the fixture (measured ~0.5s per
    materialization at a few hundred rows — r14). Routing the same rows
    through pandas + Arrow ships them INTO the JVM once and plans as
    ``LocalTableScan`` (~0.07s, no Python at execution). Values are
    unchanged either way (Arrow carries exact doubles/longs/strings/
    binary); falls back to the classic path when pandas/Arrow can't
    represent the rows."""
    from pyspark.sql.types import StructType

    if isinstance(schema, str):
        from pyspark.sql.types import _parse_datatype_string

        schema = _parse_datatype_string(schema)
    if isinstance(schema, StructType) and len(rows):
        try:
            import pandas as pd

            names = schema.fieldNames()
            # object dtype end-to-end: a numeric pandas column with a None
            # would silently promote ints to float64 and corrupt large ids;
            # Arrow casts object cells straight to the schema's types
            data = {n: pd.Series([r[i] for r in rows], dtype=object)
                    for i, n in enumerate(names)}
            return spark.createDataFrame(pd.DataFrame(data), schema)
        except Exception:  # noqa: BLE001 - exotic types: classic path below
            pass
    return spark.createDataFrame(rows, schema)

