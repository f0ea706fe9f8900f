"""SparkSession factory.

The reference bootstraps a Glue-wrapped session with Kryo serialization
(processData.py:28-33); Kryo was a Hudi-jar requirement and is unnecessary
here. We instead pin the configs that matter for a deterministic,
scale-ready DataFrame engine:

* AQE on (runtime shuffle-partition coalescing + skew-join splitting — the
  modern replacement for the reference's hand-tuned
  ``hoodie.*.shuffle.parallelism``, processData.py:194,202,208).
* Arrow for all pandas UDF / applyInPandas exchange (extension operators).
* UTC session timezone so timestamp semantics match the DuckDB oracle and
  the reference's ``TIMESTAMP_MICROS`` fidelity (processData.py:210-211).
* ``spark.sql.caseSensitive=false`` left at default — the reference relies
  on case-insensitive resolution after lowercasing columns
  (processData.py:307-308, SURVEY §1.2).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "glue_hudi_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    hive_metastore_dir: str | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession configured for this engine.

    ``master`` defaults to ``local[N]`` with N from ``$SPARK_GRAFT_CPUS``
    (driver contract) or all cores. On a real cluster, pass ``master=None``
    and submit normally — every setting below is cluster-safe.

    ``hive_metastore_dir``: when set, enables Hive support with a durable
    (Derby-backed) metastore rooted there — catalog registrations made by
    the pipeline (``dl_<db>_<schema>.<table>``) then survive the session
    and are visible to any later session pointing at the same dir. This is
    the hive-sync durability the reference gets from the Glue Data Catalog
    (processData.py:160-169). On a real cluster, point
    ``hive.metastore.uris`` at the shared metastore instead.

    ``spark.sql.codegen.cache.maxEntries`` is 512, not Spark's 100: one
    commit round (a change-feed merge, its replica drain and an
    aggregate view refresh) generates about 184 distinct classes, so a
    100-entry cache evicts and recompiles 160-odd of them every round.
    The setting is static: it takes effect only when this call builds a
    new session, not when ``getOrCreate`` returns a running one.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Python Data Source filter pushdown (sources/datasource.py's
        # manifest-stats file pruning) — off by default in Spark 4.1
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.codegen.cache.maxEntries", "512")
    )
    if hive_metastore_dir:
        builder = (
            builder.config("spark.sql.warehouse.dir", f"{hive_metastore_dir}/warehouse")
            .config(
                "spark.driver.extraJavaOptions",
                f"-Dderby.system.home={hive_metastore_dir}",
            )
            .enableHiveSupport()
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
