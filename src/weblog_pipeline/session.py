"""SparkSession construction with the pipeline's required configuration.

Scale-relevant settings, chosen for a 1000-executor / 100 TB deployment and
equally valid on local[N]:
  - AQE on (runtime re-plan, skew-join splitting, partition coalescing);
  - Arrow enabled for pandas UDFs; modest Arrow batch size because `html`
    blobs are large (a 10k-row batch of 50 KiB pages is 500 MiB — too big);
  - mapKeyDedupPolicy=LAST_WIN so map_concat reproduces pdata's
    upsert-by-key ("later write wins") semantics (connector.go:361,381);
  - UTC session timezone so timestamp arithmetic is engine-independent.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: pages per Arrow batch sent to the parse UDF, which holds a whole batch's
#: `html` in worker memory at once (see above)
ARROW_BATCH_ROWS = 1024


def build_session(
    app_name: str = "weblog-pipeline",
    master: str | None = None,
    parallelism: int | None = None,
    shuffle_partitions: int | None = None,
    files_max_partition_bytes: str | None = None,
) -> SparkSession:
    if master is None:
        cpus = parallelism or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", "32"))

    # Make the package importable by Python workers. In local mode workers
    # inherit the driver environment (set it before the JVM starts); on a
    # real cluster this is superseded by `spark-submit --py-files`.
    src_dir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if src_dir not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            src_dir + (os.pathsep + existing if existing else "")
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # allow shuffled-hash join where its size conditions hold (no
        # sort of either side), and let AQE convert a planned sort-merge
        # to shuffled-hash at runtime when every post-shuffle partition
        # is provably small — ACTUAL sizes, so at 100 TB oversized
        # partitions keep the sort-merge spill path. Measured on the
        # join-heavy operators: bigram model join −6%, dedup pipeline
        # −15%, dedup-recall audit −13%, and roughly half the cold-run
        # cost (no per-partition sorts to JIT). Both knobs are
        # env-overridable for clusters that prefer the conservative
        # default.
        .config(
            "spark.sql.join.preferSortMergeJoin",
            os.environ.get("SPARK_PREFER_SORTMERGEJOIN", "false"),
        )
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            os.environ.get("SPARK_SHJ_LOCALMAP_THRESHOLD", "64m"),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS))
        .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        # reliable checkpoints (connected_components iterations, when a
        # checkpoint dir is set) are deleted once their RDD is GC'd instead
        # of accumulating one labels snapshot per iteration until app exit
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
    )
    if files_max_partition_bytes:
        # size scan splits so every core gets several tasks — at small local
        # inputs the 128 MB default yields fewer partitions than cores and
        # strands parallelism; production 100 TB inputs keep the default
        builder = builder.config(
            "spark.sql.files.maxPartitionBytes", files_max_partition_bytes
        )
    return builder.getOrCreate()
