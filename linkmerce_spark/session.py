"""SparkSession factory with scale-tuned defaults.

The reference engine pins a session timezone before every connection
(reference: src/linkmerce/common/load.py:327-332 ``SET TimeZone``); we do
the same via ``spark.sql.session.timeZone``. Everything else here is
Spark-first scale hygiene: AQE (runtime re-plan + skew-join splitting),
Arrow for any pandas exchange, a shuffle-partition count sized from the
environment, and a codegen cache that compiles each class once per JVM.

Designed for a 1000-executor cluster but testable on ``local[N]``: all
settings are cluster-neutral (AQE coalescing makes the shuffle-partition
count self-tuning at scale).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark", "stop_spark"]

# AQE coalesces these down at runtime; start high enough that a 100 TB
# shuffle has adequate parallelism when the same code runs on a cluster.
_DEFAULT_LOCAL_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "linkmerce_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    timezone: str = "UTC",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    Parameters
    ----------
    master:
        Defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default all cores)
        when no cluster master is configured. On a real cluster, leave
        ``None`` and submit with ``--master``.
    shuffle_partitions:
        Initial shuffle parallelism. AQE coalesces small partitions, so
        oversizing is safe; undersizing is not (spill at 100 TB).
    timezone:
        Session timezone for timestamp semantics (the reference pins the
        session TZ the same way; UTC keeps parity with the test oracle).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or "*"
    builder = SparkSession.builder.appName(app_name)
    is_local = True
    if master is not None:
        builder = builder.master(master)
        is_local = master.startswith("local")
    elif "SPARK_MASTER" not in os.environ:
        builder = builder.master(f"local[{cpus}]")
    else:
        is_local = os.environ["SPARK_MASTER"].startswith("local")

    n_shuffle = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", _DEFAULT_LOCAL_SHUFFLE_PARTITIONS)
    )

    conf = {
        "spark.sql.session.timeZone": timezone,
        "spark.sql.shuffle.partitions": str(n_shuffle),
        # Runtime re-planning: partition coalescing, skew-join splitting,
        # dynamic broadcast conversion — all essential at 100 TB.
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        # parallelismFirst (the default) refuses to coalesce a shuffle
        # below the cluster parallelism, so every dim-sized exchange
        # fans out to full width — measured 30%+ of wall time on the
        # mart catalog at sf0.1. false = respect the advisory size (2MB
        # locally, Spark's 64MB on a cluster; set below): small shuffles
        # collapse to a handful of tasks while a 100 TB shuffle still
        # gets thousands of partitions. This is also the setting Spark's
        # own docs recommend for busy clusters.
        "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # Arrow for every pandas_udf / mapInPandas / toPandas exchange.
        # (advisory partition size is set below, local-mode only)
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Dynamic partition overwrite: replace only the partitions present
        # in the incoming DataFrame (the reference's partitioned_table
        # materialization semantics; dbt_postgres/macros/partitioned_tables.sql).
        "spark.sql.sources.partitionOverwriteMode": "dynamic",
        # Parquet scans: vectorized reader + filter pushdown are on by
        # default; keep explicit so a misconfigured cluster can't lose them.
        "spark.sql.parquet.filterPushdown": "true",
        # Pandas-written parquet may carry TIMESTAMP(NANOS) columns that
        # Spark's reader rejects; surface them as long nanos and let
        # frames.load_star convert to timestamps (micro truncation, the
        # same thing DuckDB's reader does).
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.sql.parquet.enableVectorizedReader": "true",
        # ANSI off: the reference relies on TRY_CAST/NULL-on-error edges;
        # we use try_* functions explicitly and keep permissive casts.
        "spark.sql.ansi.enabled": "false",
        # PySpark 4 wraps EVERY DataFrame/Column op in a call-site
        # capture (getActiveSession + conf.get + JVM origin set/clear =
        # ~4 extra py4j round trips per op) purely to enrich error
        # messages. On deep mart chains that is the DOMINANT driver
        # cost: measured 2.6s -> 1.25s plan-construction time on the
        # deepest mart with it off. Error messages lose the Python
        # call-site line only; exceptions themselves are unchanged.
        "spark.python.sql.dataFrameDebugging.enabled": "false",
        # InferFiltersFromGenerate synthesizes `size(arr)>0 AND arr IS
        # NOT NULL` above every explode and pushdown then INLINES the
        # generator's child expression into that filter — when the
        # array is COMPUTED (tokenize->shingle pipelines, gram slices:
        # every generate in this engine), the whole interpreted
        # higher-order-function chain is re-evaluated per input row
        # inside the scan stage, below any repartition, single-threaded
        # on a narrow scan. Measured 6x on MinHash signing (3.6 s ->
        # 0.6 s for a 4.5k-doc corpus sign at sf0.1). The rule only
        # ever pays when the generator input is a STORED column (skip
        # fetching rows with empty arrays) — this engine stores text
        # and computes arrays, so it is a pure pessimization here.
        "spark.sql.optimizer.excludedRules": (
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
        ),
        # Constraint propagation re-derives IsNotNull/equality
        # constraints at every optimizer iteration — quadratic-ish in
        # plan depth x column count, and measured ~18% of wall time on
        # the deep mart chains (26-aggregate, 19-scan plans) while the
        # explicit filters the marts already carry make the inferred
        # ones redundant. Spark's own tuning guidance lists this as
        # the first knob for analyzer/optimizer-bound workloads.
        "spark.sql.constraintPropagation.enabled": "false",
        # Generated classes are cached per JVM, keyed by their source
        # text; Spark's default keeps 100. One pass of the four
        # perfbench marts generates ~330 classes (smartstore_sales_daily
        # alone ~140), so a refresh that re-runs them in a new session
        # per pass re-compiled all of them with Janino every pass. The
        # full catalog generates ~2,840 distinct classes over two passes
        # (2,745 cold); 4096 holds that with ~45% headroom for +18.5 MB
        # of Metaspace. Measured on 4 cores: warm marts passes compile
        # 4-20 classes instead of ~335, perfbench marts_refresh
        # pass_cpu_s 14.1 -> 11.2 s (10/10 pairs; tools/digests/
        # CODEGEN_CACHE.md). Plans, rows and memos are untouched: every
        # run still analyzes, plans, generates source and executes.
        "spark.sql.codegen.cache.maxEntries": "4096",
        "spark.ui.enabled": "false",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    }
    if is_local:
        # With parallelismFirst off, AQE sizes coalesced partitions by
        # shuffle BYTES against this advisory. The 64MB default exists
        # to amortize network fetch + disk IO on a real cluster; an
        # in-process local[N] shuffle has neither, and its scarce
        # resource is CORES — a 40MB shuffle feeding a window or
        # object-hash aggregate would coalesce onto one core and run
        # 3-5x slower (measured: allocation_proportional 2.7 -> 1.0 s,
        # smartstore_sales_daily 3.7 -> 2.2 s at sf0.1 with 2MB).
        # Twelve cold-JVM sessions confirmed it: warm session totals
        # 18.7 s at 2MB, 18.2 s at 8MB (noise), 24.1 s at 64MB
        # (tools/digests/ADVISORY_AB_r12.md). Cluster runs (SPARK_MASTER
        # / explicit master) keep Spark's 64MB default.
        conf["spark.sql.adaptive.advisoryPartitionSizeInBytes"] = "2MB"
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def stop_spark() -> None:
    """Stop the active session (test teardown helper)."""
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
