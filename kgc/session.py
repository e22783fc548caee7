"""SparkSession factory tuned for the KG-construction pipeline.

Local sandbox runs on local[N] (single JVM); on a real cluster the
same confs apply per-executor and the Iceberg catalog confs are added
by spark-submit --conf. Everything here is plain Apache Spark.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "kgc",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the pipeline's standard confs.

    * AQE on (runtime coalesce + skew-join splitting) — the north rule
      requires explicit skew handling; AQE covers joins, kgc.canon adds
      salting for aggregation-side skew.
    * Arrow on — every Python-side stage is an Arrow-batched pandas UDF.
    * shuffle partitions sized to the sandbox (32 cores); on a real
      cluster pass ~2-3x total executor cores.
    """
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[%d]" % _cpus())
    nparts = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
    )
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(nparts))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Long sessions compile thousands of Janino classes (one per
        # whole-stage-codegen subtree per query).  When the JVM code
        # cache fills, UseCodeCacheFlushing evicts hot methods and the
        # JIT throttles → every stage degrades 2-10× progressively
        # (round 1 measured minhash_pairs 10s fresh vs 870s aged with
        # the default 240m, and 512m still degraded 2-3×; 2g keeps a
        # 40-query bench flat — T0 4.1s → T2 0.7s per stage instead of
        # slowing down).  Operators also keep generated code O(1) in
        # lane count (lanes ride as data — see kgc.link.lsh_band_keys),
        # so this headroom is about query COUNT, not class size.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=2g -XX:+UseCodeCacheFlushing",
        )
        # Shuffle/spill scratch on tmpfs when available: on a real
        # cluster every executor writes shuffle blocks to its OWN local
        # SSD; in local[N] all "executors" share one disk, which
        # serializes shuffle I/O and poisons N-vs-4N scaling numbers
        # with an artifact the cluster doesn't have.  RAM-backed
        # scratch is the faithful stand-in (and our shuffles are a few
        # GB against 126G of tmpfs).  Override with SPARK_GRAFT_LOCAL_DIR.
        .config("spark.local.dir", _local_dir())
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark, rows, ddl: str) -> DataFrame:
    """A relation built on the driver as a DataFrame, and the only way
    kgc builds one from driver rows: ``rows`` (tuples in the column
    order of the DDL schema ``ddl``) ship to the JVM as one Arrow table,
    so the plan reads a LocalTableScan.  A row-list
    ``createDataFrame`` plans Scan ExistingRDD instead, and every read
    of it runs a Python-worker job: on a 4-core local[4] session,
    creating and collecting 10 rows took 0.41 s that way against 0.04 s
    through Arrow (medians of 5)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DataType

    schema = DataType.fromDDL(ddl)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow)
    return spark.createDataFrame(
        pa.table([pa.array(c, f.type) for c, f in zip(cols, arrow)], schema=arrow),
        schema,
    )


def _local_dir() -> str:
    d = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if d:
        return d
    shm = "/dev/shm"
    if os.path.isdir(shm) and os.access(shm, os.W_OK):
        return os.path.join(shm, "kgc-spark-local")
    return "/tmp"


def _cpus() -> int:
    try:
        n = int(os.environ.get("SPARK_GRAFT_CPUS", "0"))
        if n > 0:
            return n
    except ValueError:
        pass
    return os.cpu_count() or 8
