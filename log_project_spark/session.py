"""SparkSession factory tuned for this engine.

Local mode is a single JVM; on a real cluster the same configs hold
(AQE, Arrow, UTC timezone) and `spark.sql.shuffle.partitions` should be
sized to ~2-3x total executor cores. Everything here is public Spark
configuration (spark.apache.org/docs/latest/configuration.html).

On a local master the Python worker daemon is `pydaemon`, which imports
the installed, bytecode-cached pyspark instead of Spark's source-only
`pyspark.zip` when both are the same release. The package's own path
root goes on `spark.executorEnv.PYTHONPATH`, so the daemon can import
it before any task ships `--py-files`.
"""

from __future__ import annotations

import os
from collections.abc import Iterable, Sequence

import pyarrow as pa
from pyspark import SparkConf, SparkContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "log_project_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-appropriate defaults.

    - AQE on: runtime coalescing, skew-join splitting, dynamic join
      strategy switch — the runtime half of our skew story (the other
      half is explicit salting in `operators.aggregate`).
    - Arrow on: every pandas UDF exchange is columnar.
    - UTC session timezone: parity with DuckDB oracle comparisons.
    - maxRecordsPerBatch: bounds Arrow batch memory in the scoring UDFs.
    - Local masters start their Python workers from `pydaemon`.

    `master=None` keeps the master spark-submit was given, else runs
    `local[$SPARK_GRAFT_CPUS]`, else one local slot per host core.
    `extra_conf` is applied last and wins.
    """
    # one BLAS thread per python worker: with N workers on N cores,
    # nested OpenBLAS/MKL pools oversubscribe catastrophically
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    master = _master(master)
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
        )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
    )
    if master.startswith("local"):
        # the sys.path root this package came from (the checkout or the
        # --py-files zip): the daemon imports it before any task ships it
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        builder = (
            builder.config("spark.python.daemon.module", "log_project_spark.pydaemon")
            .config("spark.executorEnv.PYTHONPATH", root)
        )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows: Iterable[Sequence], ddl: str) -> DataFrame:
    """Small driver-side rows as a `LocalTableScan` DataFrame.

    `spark.createDataFrame(list_of_tuples, ddl)` plans as
    `Scan ExistingRDD`, a PythonRDD: every execution of a plan that
    reads it (each BroadcastExchange over a lookup table, for one) runs
    a Spark job whose tasks unpickle the rows in a Python worker. A
    pyarrow Table is converted on the driver into a LocalRelation, with
    `spark.sql.execution.arrow.pyspark.enabled` on or off (a pandas
    frame falls back to the PythonRDD scan when it is off), so its scan
    stays in the JVM. The schema is exactly the DDL's, `nullable=True`
    on every field.

    Only for lookup/summary-sized data: a LocalRelation embeds its rows
    in the plan. Hence `sources.formats` (data-sized lists) keeps
    `createDataFrame(list)`, and so does the >64-strata path of
    `sampling.stratified_sample`, whose schema is inferred from
    arbitrary key types.
    """
    schema = T.StructType.fromDDL(ddl)
    table = pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows], schema=to_arrow_schema(schema)
    )
    return spark.createDataFrame(table, schema)


def _master(master: str | None) -> str:
    if master is not None:
        return master
    if "PYSPARK_GATEWAY_PORT" in os.environ:
        # spark-submit started the JVM, with its --master, before Python:
        # connect to it (as getOrCreate would) and read that master
        SparkContext._ensure_initialized()
        submitted = SparkConf().get("spark.master", None)
        if submitted:
            return submitted
    return f"local[{os.environ.get('SPARK_GRAFT_CPUS') or os.cpu_count()}]"
