"""SparkSession factory with scale-oriented defaults.

Defaults encode the production posture (AQE on, skew-join handling,
Arrow-batched pandas UDFs); tests/bench override parallelism via
``master`` / env vars. On a real cluster the same builder is used by
``spark-submit --py-files`` (no local[] master is forced unless asked).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Repo root containing the agraph_spark package. Python workers do NOT
# inherit the driver's sys.path, so the package must reach executors via
# PYTHONPATH (local mode) or spark-submit --py-files (cluster mode).
_PKG_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _export_pythonpath() -> None:
    pp = os.environ.get("PYTHONPATH", "")
    if _PKG_ROOT not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = _PKG_ROOT + (os.pathsep + pp if pp else "")


def get_spark(
    app_name: str = "agraph_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with AQE + Arrow tuned for the KG pipeline.

    - AQE enabled with skew-join splitting: hot entities / long conversations
      create skewed shuffle partitions; AQE splits them at runtime.
    - Arrow enabled: all Python-side kernels are pandas-vectorized
      (``mapInPandas``); one kernel invocation per Arrow record batch.
    - ``spark.sql.shuffle.partitions`` sized to local core count by default;
      on a cluster this should be ~2-3x total cores (set via extra_conf).
    """
    _export_pythonpath()
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER") and SparkSession.getActiveSession() is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        builder = builder.master(f"local[{cpus}]")

    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # unit of model/regex kernel invocation = one Arrow batch
        "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
        "spark.sql.session.timeZone": "UTC",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEM", "8g"),
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.ui.enabled": "false",
        # generated-class cache (JVM-wide, static), keyed by the generated
        # source. One build + write + dedup cycle compiles 160-180 distinct
        # classes; at the default 100 the LRU evicts them and every later
        # operation recompiles identical source. The class name would carry
        # the whole-stage codegen id, which AQE assigns in stage-completion
        # order, so a repeated query would still miss now and then.
        "spark.sql.codegen.cache.maxEntries": "1000",
        "spark.sql.codegen.useIdInClassName": "false",
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_df(spark: SparkSession, data, schema):
    """Arrow-backed LOCAL DataFrame (``LocalTableScan``) for driver-computed
    results — the adaptive-cutover mirrors, seed frontiers, broadcast query
    vectors — of ANY size, including empty.

    PySpark routes a NON-empty ``pandas.DataFrame`` through Arrow (driver
    converts, JVM reads the batch: zero python tasks), but an EMPTY pandas
    input and every plain-list input silently fall back to the pickled-RDD
    path (``Scan ExistingRDD``), whose python conversion tasks are the
    round-6 worker-stall surface: measured 3.8 s PER downstream action on
    an empty 32-slice frame during a host-stall window (q_d7_chain's
    zero-pair LSH leg paid it 2-3x = the 11 s sweep outlier). An empty
    pyarrow Table takes the local-relation path (``LocalTableScan
    <empty>``), which downstream scans fold away entirely.

    ``data`` may be a pandas DataFrame or a list of tuples; ``schema`` a
    StructType or DDL string. Every input goes through one pyarrow Table
    built here, so None (and pandas' NaN/NaT missing markers) arrive as SQL
    NULL in every column type, while a float NaN in a list stays NaN, as
    the plain createDataFrame path gives.
    """
    import pandas as pd
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    if isinstance(data, pd.DataFrame):
        data = data.astype(object).where(data.notna(), None)
        data = list(data.itertuples(index=False, name=None))
    columns = list(zip(*data)) or [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


def spread(df):
    """Guarantee enough input partitions before a CPU-heavy narrow stage.

    Small parquet inputs arrive as ONE partition (a 5k-doc corpus is one
    ~1.5 MB file), which serializes every downstream narrow operator —
    regex kernels, shingle explodes, signature hashing — onto a single
    core. A round-robin repartition of the RAW rows is almost free at that
    size and unlocks full parallelism. At 100 TB the input has orders of
    magnitude more partitions than cores and this is a no-op (the guard
    checks, never blindly shuffles).
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
