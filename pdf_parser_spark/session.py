"""SparkSession factory with the engine's required configuration."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Settings every session that runs the engine needs, whoever builds it
# (get_spark, or jobs/run_extraction.py under spark-submit):
#   - AQE on: runtime shuffle coalescing + skew-join splitting for the
#     giant-document tail;
#   - Arrow on: every Python crossing is an Arrow batch (zero per-row
#     Python at the Spark API level, per BASELINE.json input_hint);
#   - mapKeyDedupPolicy=LAST_WIN: the master-log page map replicates the
#     reference's dict last-write-wins (update_excel.py:46); master_log
#     is wrong without it;
#   - DataFrame call-site capture off: with it on, every DataFrame API
#     call walks the Python stack and tries to import IPython/ipykernel
#     (~0.5 s on the first call where IPython is installed). The
#     trade-off: DataFrame errors lose their Python call-site context.
ENGINE_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.mapKeyDedupPolicy": "LAST_WIN",
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


def get_spark(
    cores: int | None = None,
    app_name: str = "pdf_parser_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """local[k] session tuned for the extraction pipeline: ``ENGINE_CONF``
    plus local sizing. Shuffle partitions default to 2x cores locally; on
    a real cluster AQE's advisory partition bytes size them instead."""
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 4)
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .config("spark.executorEnv.PYTHONPATH", repo_root)
        .appName(app_name)
        .config(map=ENGINE_CONF)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or max(8, cores * 2)))
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.locality.wait", "0")
        .config("spark.local.dir", os.environ.get("SPARK_GRAFT_LOCAL_DIR", "/tmp"))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
