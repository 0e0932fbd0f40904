"""SparkSession factory with scale-oriented defaults.

Local testing runs ``local[N]`` in one JVM, but every default here is
chosen to survive a multi-executor cluster: AQE for runtime re-plans
(skew joins, partition coalescing), UTC session timezone so results
are oracle-comparable, Arrow for the pandas exchange paths.

Shuffle width has two owners. Batch plans start at
``spark.sql.adaptive.coalescePartitions.initialPartitionNum`` (the
``shuffle_partitions`` argument, else ``SPARK_GRAFT_SHUFFLE_PARTITIONS``,
else 32) and AQE coalesces from there. Structured Streaming turns AQE
off inside micro-batches, so stateful operators and ``foreachBatch``
shuffles run at ``spark.sql.shuffle.partitions``. A fresh session keeps
a value set for it in ``extra_conf``, spark-submit ``--conf`` or
spark-defaults; otherwise it sets the task slots (``defaultParallelism``)
capped at the batch width, so a stream is never wider than a batch plan
starts. A stateful query freezes that width into its checkpoint at its
first start; a restart keeps the checkpointed width whatever the
session says.
"""

from __future__ import annotations

import importlib.util
import os
import warnings

from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")
DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

_INITIAL_WIDTH = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"

# One BLAS thread per process (the primary pin lives in the package
# __init__, BEFORE pyspark→numpy load OpenBLAS — an after-load env is
# ignored by the already-initialized pool; see the rationale there).
# Re-assert here for direct `session` importers, and so the
# executorEnv twin below always has a value to ship.
for _v in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_v, "1")


def get_secret(scope: str, key: str, default: str | None = None) -> str:
    """Secrets access (SURVEY §2.1 S11). The reference reads its API
    key via ``dbutils.secrets.get(scope, key)``
    (/root/reference/02_aml_address_verification.py:45); the portable
    equivalent outside Databricks is environment variables —
    ``AML_SECRET_<SCOPE>_<KEY>`` (uppercased, dashes to underscores).
    Missing secrets raise at setup time (fail loudly, never embed a
    placeholder credential in a query)."""
    env = f"AML_SECRET_{scope}_{key}".upper().replace("-", "_")
    val = os.environ.get(env, default)
    if val is None:
        raise KeyError(f"secret {scope}/{key} not set (export {env})")
    return val


def get_spark(
    app_name: str = "aml_engine",
    master: str | None = None,
    shuffle_partitions: int | str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    On a real cluster, callers pass ``master=None`` and submit via
    spark-submit; locally we default to ``local[$SPARK_GRAFT_CPUS]``.
    ``shuffle_partitions`` is the batch shuffle width (see the module
    docstring); the stream width is the task slots, at most that.
    """
    conf = {
        "spark.app.name": app_name,
        "spark.master": master or f"local[{DEFAULT_CPUS}]",
        # batch width: with AQE coalescing on, SQLConf.numShufflePartitions
        # reads this, not spark.sql.shuffle.partitions (the stream width,
        # set below)
        _INITIAL_WIDTH: str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # custom Python DataSource readers may implement pushFilters
        # (sources/synthetic.py); without this flag Spark 4 refuses to
        # plan them at all rather than silently skipping pushdown
        "spark.sql.python.filterPushdown.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Keep Spark's 10 MB default broadcast threshold: dims (region,
        # nation, filtered orders/customer) broadcast, facts never do.
        # A larger threshold makes fact-fact self-joins broadcast at
        # small SF — a plan shape that collapses at cluster scale.
        "spark.sql.autoBroadcastJoinThreshold": str(10 * 1024 * 1024),
        "spark.ui.enabled": "false",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"),
        # parquet vectorized reader + pushdown are on by default; pin anyway
        "spark.sql.parquet.filterPushdown": "true",
        # Cluster-mode twin of the process-env BLAS pin above: executors
        # don't inherit the driver's environment, so ship the same
        # one-thread-per-worker contract via executorEnv. .get with the
        # same default so a harness that scrubs the environment after
        # import (monkeypatch.delenv) still gets a session.
        "spark.executorEnv.OPENBLAS_NUM_THREADS": os.environ.get("OPENBLAS_NUM_THREADS", "1"),
        "spark.executorEnv.OMP_NUM_THREADS": os.environ.get("OMP_NUM_THREADS", "1"),
        "spark.executorEnv.MKL_NUM_THREADS": os.environ.get("MKL_NUM_THREADS", "1"),
    }
    if extra_conf:
        conf.update(extra_conf)
    # Delta Lake auto-activation (the reference's storage format,
    # 01:245, 03:68): when the delta-spark package is importable, wire
    # the SQL extension + catalog so ``save_table``'s format("delta")
    # branch runs for real; without it the parquet fallback stays in
    # effect. Session-start-only confs, so this must happen here, not
    # at write time — tests/test_pipeline_sources.py gates on the same
    # importability check.
    if importlib.util.find_spec("delta") is not None:
        conf.setdefault("spark.sql.extensions", "io.delta.sql.DeltaSparkSessionExtension")
        conf.setdefault(
            "spark.sql.catalog.spark_catalog",
            "org.apache.spark.sql.delta.catalog.DeltaCatalog",
        )
    active = SparkSession.getActiveSession()
    if active is not None:
        # Reuse the live session (driver/pytest own the lifecycle) but
        # honor the runtime-settable confs the caller asked for; warn
        # about anything only a fresh session could apply.
        if shuffle_partitions is not None:
            active.conf.set(_INITIAL_WIDTH, str(shuffle_partitions))
        for k, v in (extra_conf or {}).items():
            try:
                active.conf.set(k, v)
            except Exception:
                warnings.warn(
                    f"get_spark: live session cannot apply conf {k!r}; "
                    "stop the session to change static confs",
                    stacklevel=2,
                )
        return active
    # The task slots are known once the SparkContext is up; passing the
    # stream width as a session option (not conf.set afterwards) leaves
    # the session state to build lazily at the first query. A width the
    # cluster conf pins (spark-submit --conf, spark-defaults) wins.
    sc = SparkContext.getOrCreate(SparkConf().setAll(list(conf.items())))
    width = min(sc.defaultParallelism, int(conf[_INITIAL_WIDTH]))
    conf.setdefault(
        "spark.sql.shuffle.partitions",
        sc.getConf().get("spark.sql.shuffle.partitions", str(width)),
    )
    spark = SparkSession.builder.config(map=conf).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
