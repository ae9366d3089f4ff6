"""SparkSession factory: Arrow on, AQE on. Stage tables go through the
parquet shim in dedup/catalog.py; the session itself configures no catalog.

Design notes (scale): AQE handles runtime partition coalescing and skew-join
splitting; ``spark.sql.shuffle.partitions`` is a starting point that AQE
re-plans. Arrow batch size bounds Python-UDF memory per batch.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from dedup.config import DedupConfig, DEFAULT_CONFIG


def get_spark(
    app_name: str = "transcript-dedup",
    master: str | None = None,
    config: DedupConfig = DEFAULT_CONFIG,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or (
        f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    )
    if master.startswith("local-cluster"):
        # real multi-executor JVMs forked locally -- the honest sandbox
        # proxy for the north rule's "N vs 4N executors" criterion: each
        # executor gets its OWN heap (so GC pressure partitions like a real
        # cluster, instead of 32 task threads thrashing one shared heap)
        # and its own Python worker pool. Requires SPARK_HOME for the
        # worker launch scripts and PYTHONPATH so executor-side Python
        # workers can import this package.
        import pyspark as _pyspark

        os.environ.setdefault("SPARK_HOME", os.path.dirname(_pyspark.__file__))
        repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        prev = os.environ.get("PYTHONPATH", "")
        if repo_root not in prev.split(":"):
            os.environ["PYTHONPATH"] = f"{repo_root}:{prev}" if prev else repo_root
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(config.shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(config.arrow_batch_size),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    # GC policy for the local-mode driver JVM (which runs every task
    # thread): G1's pause-target heuristics collapse under 16+ task threads
    # allocating interpreted-expression arrays in one shared heap -- the
    # window-pair fan-out phase measured 48.7s under G1 vs 12.9s under the
    # throughput-oriented ParallelGC at local[16] on identical input (it
    # ANTI-scaled 4->16 cores under G1). Batch pipelines have no pause-time
    # requirement, so ParallelGC is the right default here; override or
    # extend via SPARK_GRAFT_DRIVER_JAVA_OPTS (e.g. to add -Xlog:gc). On a
    # real cluster executors size their own heaps and this matters far
    # less -- but the same flag belongs in spark.executor.extraJavaOptions
    # for array-heavy stages.
    # User opts are APPENDED after the ParallelGC default rather than
    # replacing it: a user adding e.g. -Xlog:gc must not silently revert
    # to the G1 default (the exact anti-scaling configuration documented
    # above). An explicit -XX:+UseG1GC in the user opts still wins because
    # the later flag takes precedence on the JVM command line.
    user_opts = os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS", "")
    java_opts = ("-XX:+UseParallelGC " + user_opts).strip()
    builder = builder.config("spark.driver.extraJavaOptions", java_opts)
    if master.startswith("local-cluster"):
        mem_mb = master.split(",")[-1].rstrip("]").strip()
        builder = (
            builder.config("spark.executor.memory", f"{mem_mb}m")
            .config(
                "spark.executorEnv.PYTHONPATH", os.environ.get("PYTHONPATH", "")
            )
        )
    return builder.getOrCreate()
