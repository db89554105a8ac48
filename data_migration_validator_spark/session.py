"""SparkSession factory.

Defaults follow the sandbox contract (local[$SPARK_GRAFT_CPUS], else one
task slot per core this process may run on) but every knob is
overridable; on a real cluster the same code runs under
``spark-submit --py-files`` with the master supplied externally.

AQE is always on: runtime coalescing + skew-join splitting are part of the
engine's skew story alongside the explicit salting in ``cdc.apply``
(north_rule: "partitioning / shuffle / skew handled explicitly").
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def default_cores() -> int:
    """$SPARK_GRAFT_CPUS, else the cores this process may run on (what
    ``nproc`` reports) — never a fixed count that oversubscribes a small
    host."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def local_frame(
    spark: SparkSession, rows: list[tuple], schema: str | StructType
) -> DataFrame:
    """A small driver-side frame through the Arrow path: the rows become
    one in-memory Arrow table, so the plan is a local relation and no
    Python worker runs (``createDataFrame`` of a list goes through
    ``parallelize`` and a Python-worker map)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    struct = (
        schema if isinstance(schema, StructType) else _parse_datatype_string(schema)
    )
    names = struct.fieldNames()
    table = pa.Table.from_pylist(
        [dict(zip(names, r)) for r in rows], schema=to_arrow_schema(struct)
    )
    return spark.createDataFrame(table, struct)


def submitted_conf() -> dict[str, str]:
    """The ``spark.*`` settings a ``spark-submit`` launch gave this driver
    (``--master``, ``--conf``, ``spark-defaults.conf``); empty when the
    driver runs under plain ``python``.  Job drivers pass them to
    :func:`get_spark` as ``extra_conf``, so its settings are the defaults
    and whatever was submitted still wins."""
    if "PYSPARK_GATEWAY_PORT" not in os.environ:  # not launched by spark-submit
        return {}
    from pyspark import SparkContext

    SparkContext._ensure_initialized()
    return {t._1(): t._2() for t in SparkContext._jvm.SparkConf(True).getAll()}


def get_spark(
    app_name: str = "data_migration_validator_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` pins ``local[cores]`` — used by the bench harness to evidence
    N-vs-4N scaling.  When None, :func:`default_cores`.
    """
    n = cores if cores is not None else default_cores()
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{n}]")
    sp = shuffle_partitions if shuffle_partitions is not None else max(n, 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # 16m advisory (not the 64m default): AQE otherwise coalesces
        # mid-size shuffles to a handful of fat partitions, starving high
        # core counts of tasks (measured on the CDC replay: 2-5-task stages
        # at local[4] with 64m).
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
        # zstd shuffle/spill blocks: redundant payloads (source text, logs)
        # compress 2-3x better than lz4 (measured 395 -> 147 MB per 1M-event
        # replay batch), trading well-scaling CPU for memory-bus bytes —
        # the right side of the trade on bandwidth-bound hosts and at
        # 100 TB shuffle volumes alike.
        .config("spark.io.compression.codec", "zstd")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.session.timeZone", "UTC")
        # standard micros timestamps, not legacy INT96: INT96 parquet
        # columns carry NO min/max statistics, which would blind the lake's
        # per-file data skipping (lake/stats.py) on every timestamp column
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # 8g, not bigger: the sandbox hypervisor overcommits memory and a
        # process whose resident set grows past ~20 GB triggers ballooning
        # that throttles the whole VM 4-5x (measured — see
        # scripts/scaling_bench.py docstring).  The JVM heap plus ~32
        # Arrow python workers must stay under that line; 8g is ample for
        # sf0.1 benches and 8M-event replays.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
