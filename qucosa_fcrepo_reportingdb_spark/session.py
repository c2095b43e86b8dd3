"""SparkSession factory tuned for this engine.

Local testing runs on local[N]; the configs below are chosen so the same
logical plans scale to a multi-executor cluster:

- UTC session timezone: the reference is TZ-aware (multi-offset fixtures,
  PostgrePersistenceServiceTestIT.java:84-104) and the DuckDB oracle
  compares UTC-naive timestamps.
- AQE on: runtime coalescing, skew-join handling, dynamic join strategy
  switch — the knobs that keep a fixed plan healthy at 100 TB.
- Arrow on: every pandas-UDF boundary is Arrow-batched.
- shuffle.partitions sized to cores locally; on a real cluster this is
  overridden (or left to AQE's coalescing with a high initial value).
- codegen cache sized to hold a whole workload's generated classes
  (``CODEGEN_CACHE_ENTRIES``). Spark keys compiled whole-stage classes by
  their source text in a Guava cache of 100 entries by default. Guava
  splits that capacity over 4 LRU segments of 25, so a segment evicts as
  soon as its hash share of the working set passes 25 classes, well below
  100 distinct classes in total. Measured working sets on a 4-core host:
  123 distinct classes in a cold CDC cycle of the benchmark (harvest,
  enrich, report and the benchmark's own checks) and 246 in a pass of its
  analytics mix. At the default, a warm CDC cycle evicted nearly all of
  its classes before reuse and recompiled about 112 of them with Janino,
  most byte-identical to the previous cycle's. With 2000 entries each
  segment alone holds both working sets together, and a warm cycle
  compiles only the classes whose source changes between cycles (6-10,
  from inlined literals such as the retention cutoff).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# spark.sql.codegen.cache.maxEntries; a static conf, fixed per JVM (module
# docstring for the measurement it is sized from)
CODEGEN_CACHE_ENTRIES = 2000


def get_spark(app_name: str = "qucosa_fcrepo_reportingdb_spark",
              cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or min(
            os.cpu_count() or 4, 32
        )
    # Ship this package to the Python workers regardless of caller cwd:
    # pandas UDFs defined in the package unpickle by module name on the
    # worker side, so the repo root must be on the workers' PYTHONPATH.
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if repo_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{repo_root}{os.pathsep}{existing}" if existing else repo_root
        )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries",
                str(CODEGEN_CACHE_ENTRIES))
    )
    return builder.getOrCreate()


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, "object"]:
    """Register every testdata parquet table as a temp view and return
    {name: DataFrame}. Explicit parquet scans → full predicate pushdown
    and column pruning via Catalyst."""
    names = [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]
    from pyspark.sql import functions as F

    out = {}
    for name in names:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            df = spark.read.parquet(path)
            # Spark 4 infers parquet TIMESTAMP(isAdjustedToUTC=false) as
            # TIMESTAMP_NTZ; normalize to TIMESTAMP (identity under the
            # UTC session) so epoch arithmetic stays legal everywhere.
            for f in df.schema.fields:
                if f.dataType.simpleString() == "timestamp_ntz":
                    df = df.withColumn(f.name, F.col(f.name).cast("timestamp"))
            df.createOrReplaceTempView(name)
            out[name] = df
    return out
