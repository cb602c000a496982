"""Job-queue processing as Structured Streaming (T3-T5, SURVEY.md §2.9).

The reference runs a Redis-priority-queue worker fleet: BRPOP across
``case_processing_queue:priority:{1,2,3}`` in priority order
(etl/worker.py:63-68,112-136), retries with retry_count+1 up to 3 then
routes to a failed_jobs DLQ (worker.py:208-250), and rate-limits to
max_jobs_per_hour (worker.py:283-305).

Spark-first, the queue is a file (or Kafka) stream of JSON job rows and the
worker fleet is ONE streaming query:

- priority ordering  → every file a micro-batch writes is in (priority,
  job_id) order (W4): done/dead parquet files are sorted within each
  file, and the retry file is sorted whole. A batch is settled as one
  set, so no global sort (and no second scan of its input) is needed;
  the reference's BRPOP scan order is per-poll too.
- retry + DLQ        → failed rows are re-appended to the queue dir with
  retry_count+1, and the next trigger of the same query reads them; rows
  exceeding MAX_RETRIES go to the DLQ sink (T4). A drain ends when a
  trigger finds no new file, which happens once every job is done or dead.
- rate limiting      → ``maxBytesPerTrigger`` bounds intake per micro-batch
  at one task wave of file bytes (``spark.sql.files.maxPartitionBytes`` ×
  ``defaultParallelism``), so a batch is sized from the data, not from a
  file count (T5; the streaming analog of max_jobs_per_hour). An explicit
  ``max_files_per_trigger`` switches back to file-count intake.

Everything inside the batch is DataFrame-native; at scale the same topology
runs on Kafka with ``maxOffsetsPerTrigger`` and a Delta DLQ.
"""

from __future__ import annotations

import json
import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

JOB_SCHEMA = StructType(
    [
        StructField("job_id", LongType()),
        StructField("entity_id", LongType()),
        StructField("change_type", StringType()),
        StructField("priority", IntegerType()),
        StructField("retry_count", IntegerType()),
    ]
)

MAX_RETRIES = 3


def jobs_from_reconciliation(detail: DataFrame) -> DataFrame:
    """Reconciliation detail → prioritized job rows (the enqueue step,
    etl/flows/sync_daily.py:246-317): new=1 (highest), update=2, rest=3."""
    return (
        detail.filter(F.col("change_type").isin("new", "update"))
        .select(
            F.col("entity_id").alias("job_id"),
            "entity_id",
            "change_type",
            F.when(F.col("change_type") == "new", 1)
            .when(F.col("change_type") == "update", 2)
            .otherwise(3)
            .cast("int")
            .alias("priority"),
            F.lit(0).cast("int").alias("retry_count"),
        )
    )


def _attempt():
    """The attempt a batch makes at each job: retry_count + 1, where a
    missing or negative retry_count counts as 0. Every failed attempt
    raises it, so each failing job reaches MAX_RETRIES and a drain ends."""
    return F.greatest(F.col("retry_count"), F.lit(0)) + 1


def process_job_batch(batch: DataFrame, fail_predicate=None) -> DataFrame:
    """Pure per-batch transform: attempt each job and tag the outcome.
    Row order is left to the sinks (``make_batch_handler``).
    ``fail_predicate`` is a Column predicate marking jobs that fail this
    attempt (tests inject deterministic failures)."""
    if fail_predicate is None:
        fail_predicate = F.lit(False)
    return batch.withColumn(
        "outcome",
        F.when(~fail_predicate, F.lit("done"))
        .when(_attempt() >= MAX_RETRIES, F.lit("dead"))
        .otherwise(F.lit("retry")),
    )


def kafka_queue_options(
    bootstrap_servers: str,
    topic: str,
    *,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
    fail_on_data_loss: bool = False,
    group_id_prefix: str | None = None,
) -> dict[str, str]:
    """Option map for the Kafka job-queue source — the transport a
    production deployment swaps in for the file queue (the reference's
    Redis BRPOP loop, etl/worker.py:112-136; Kafka is the durable
    at-least-once equivalent). Separated from the reader call so the
    contract is unit-testable without a broker or the
    spark-sql-kafka connector on the classpath.
    ``max_offsets_per_trigger`` is the Kafka analog of the file source's
    per-trigger intake bound (T5, see ``queue_source``)."""
    opts = {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
        "failOnDataLoss": str(fail_on_data_loss).lower(),
    }
    if max_offsets_per_trigger is not None:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    if group_id_prefix is not None:
        opts["groupIdPrefix"] = group_id_prefix
    return opts


def parse_job_records(records: DataFrame) -> DataFrame:
    """Kafka frames arrive as (key binary, value binary, topic, …): decode
    the JSON value into typed job rows against JOB_SCHEMA. Works on any
    frame with a ``value`` column (streaming or batch), so the parse
    contract is testable without a broker."""
    return records.select(
        F.from_json(F.col("value").cast("string"), JOB_SCHEMA).alias("job")
    ).select("job.*")


def _task_wave_bytes(spark: SparkSession) -> int:
    """File bytes one task wave reads: ``defaultParallelism`` splits of
    ``spark.sql.files.maxPartitionBytes`` each — the same sizing a batch
    scan of the queue directory would use."""
    java_utils = spark.sparkContext._jvm.org.apache.spark.network.util.JavaUtils
    per_task = java_utils.byteStringAsBytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes")
    )
    return per_task * spark.sparkContext.defaultParallelism


def queue_source(
    spark: SparkSession,
    mode: str = "files",
    *,
    queue_dir: str | None = None,
    max_files_per_trigger: int | None = None,
    **kafka_opts,
) -> DataFrame:
    """S10 queue source seam: one call site, two transports.

    ``files`` (default, sandbox-runnable) reads the JSON job directory.
    Intake per micro-batch is one task wave of bytes
    (``_task_wave_bytes``) unless ``max_files_per_trigger`` asks for a
    file count instead. ``kafka`` builds the Kafka reader from
    ``kafka_queue_options(**kafka_opts)`` and decodes values via
    ``parse_job_records`` — the swap a production deployment makes first
    (requires the spark-sql-kafka-0-10 package on the classpath)."""
    if mode == "files":
        if queue_dir is None:
            raise ValueError("files mode requires queue_dir=")
        reader = spark.readStream.schema(JOB_SCHEMA)
        if max_files_per_trigger is None:
            reader = reader.option("maxBytesPerTrigger", str(_task_wave_bytes(spark)))
        else:
            reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
        return reader.json(queue_dir)
    if mode == "kafka":
        raw = (
            spark.readStream.format("kafka")
            .options(**kafka_queue_options(**kafka_opts))
            .load()
        )
        return parse_job_records(raw)
    raise ValueError(f"unknown queue transport {mode!r}")


def kafka_sink_options(
    bootstrap_servers: str,
    topic: str,
    *,
    checkpoint_dir: str | None = None,
) -> dict[str, str]:
    """Option map for the Kafka job-queue SINK (the enqueue side of
    S9 — the reference's LPUSH, etl/flows/sync_daily.py:246-317).
    Unit-testable without a broker, like ``kafka_queue_options``."""
    opts = {"kafka.bootstrap.servers": bootstrap_servers, "topic": topic}
    if checkpoint_dir is not None:
        opts["checkpointLocation"] = checkpoint_dir
    return opts


def jobs_to_kafka_records(jobs: DataFrame) -> DataFrame:
    """Encode typed job rows as Kafka (key, value) pairs: key =
    entity id (stable partitioning → per-entity ordering in the topic,
    the property the reference's per-case queue discipline relies on),
    value = the JSON payload ``parse_job_records`` decodes. Round-trips
    with the source side by construction."""
    return jobs.select(
        F.col("entity_id").cast("string").cast("binary").alias("key"),
        # fields derived from JOB_SCHEMA so the Kafka encoding can never
        # drift from what parse_job_records decodes, and null fields kept
        # explicit so both transports emit identical bytes for the same
        # row (same guarantees the file-queue path gets via flows.JOB_COLS
        # and flows._job_json's ignoreNullFields=false)
        F.to_json(
            F.struct(*JOB_SCHEMA.fieldNames()), {"ignoreNullFields": "false"}
        )
        .cast("binary")
        .alias("value"),
    )


def enqueue_jobs_kafka(
    jobs: DataFrame,
    bootstrap_servers: str,
    topic: str,
    *,
    checkpoint_dir: str | None = None,
):
    """S9 Kafka enqueue, composed end-to-end: typed job rows →
    (key, value) records → a fully-configured Kafka writer. Returns the
    UNSTARTED writer (``DataStreamWriter`` for streaming inputs,
    ``DataFrameWriter`` for batch) so deployments call ``.start()`` /
    ``.save()`` themselves — and so the whole seam short of the broker
    handshake is unit-testable without the spark-sql-kafka connector."""
    records = jobs_to_kafka_records(jobs)
    opts = kafka_sink_options(
        bootstrap_servers, topic, checkpoint_dir=checkpoint_dir
    )
    if jobs.isStreaming:
        return records.writeStream.format("kafka").options(**opts)
    return records.write.format("kafka").options(**opts)


def make_batch_handler(
    queue_dir: str, out_dir: str, dlq_dir: str, fail_predicate=None
):
    """The foreachBatch body of the jobs stream, exposed so the
    crash-recovery test can wrap it (crash AFTER effects, BEFORE the
    checkpoint commit — the adversarial replay point). Every effect is
    REPLAY-EXACT: done/dead rows land in their own ``batch_id=N``
    partition via dynamic overwrite, retries write ONE deterministically
    named file per batch — a replayed batch overwrites its own outputs
    byte-for-byte instead of appending duplicates.

    One job per batch scans the input once: it counts the done rows
    and brings back the failed ones (retry and dead). A sink with no rows
    is not written at all. Every written file is in (priority, job_id)
    order; the retry rows are sorted in Python by (priority, job_id, then
    every column) with nulls first, as Spark's ascending sort does."""

    def handle_batch(batch: DataFrame, batch_id: int) -> None:
        processed = process_job_batch(batch, fail_predicate).cache()
        try:
            done = Observation()
            failed = (
                processed.observe(
                    done, F.count_if(F.col("outcome") == "done").alias("rows")
                )
                .filter(F.col("outcome") != "done")
                .withColumn("retry_count", _attempt())
                .collect()  # failed jobs only: small
            )
            outcomes = {r["outcome"] for r in failed}
            if done.get["rows"]:
                outcomes.add("done")
            for outcome, sink in (("done", out_dir), ("dead", dlq_dir)):
                if outcome not in outcomes:
                    continue
                (processed.filter(F.col("outcome") == outcome)
                    .drop("outcome")
                    .sortWithinPartitions("priority", "job_id")
                    .withColumn("batch_id", F.lit(batch_id))
                    .write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy("batch_id")
                    .parquet(sink))
            if "retry" in outcomes:
                key = ("priority", "job_id", *batch.columns)
                retries = sorted(
                    (r for r in failed if r["outcome"] == "retry"),
                    key=lambda r: [(r[c] is not None, r[c]) for c in key],
                )
                path = os.path.join(queue_dir, f"retry-{batch_id:06d}.json")
                with open(path, "w") as fh:
                    for r in retries:
                        fh.write(json.dumps({c: r[c] for c in batch.columns}) + "\n")
        finally:
            processed.unpersist()

    return handle_batch


def _jobs_writer(
    spark: SparkSession,
    queue_dir: str,
    out_dir: str,
    dlq_dir: str,
    checkpoint_dir: str,
    fail_predicate=None,
    max_files_per_trigger: int | None = None,
):
    """The jobs stream up to its trigger: queue source → ``foreachBatch``
    handler, checkpointed at ``checkpoint_dir``. Callers pick the trigger
    and start it."""
    os.makedirs(out_dir, exist_ok=True)
    os.makedirs(dlq_dir, exist_ok=True)
    stream = queue_source(
        spark,
        "files",
        queue_dir=queue_dir,
        max_files_per_trigger=max_files_per_trigger,
    )
    return stream.writeStream.foreachBatch(
        make_batch_handler(queue_dir, out_dir, dlq_dir, fail_predicate)
    ).option("checkpointLocation", checkpoint_dir)


def run_jobs_stream(
    spark: SparkSession,
    queue_dir: str,
    out_dir: str,
    dlq_dir: str,
    checkpoint_dir: str,
    fail_predicate=None,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """One availableNow pass over the job queue: process what is queued
    when the query starts, then stop. Returns the finished StreamingQuery.

    Each micro-batch: done → out_dir parquet; retry → re-enqueue into
    queue_dir (read by a later pass on the same checkpoint); dead →
    dlq_dir. Intake per micro-batch is ``queue_source``'s: one task wave
    of bytes, or ``max_files_per_trigger`` files when that is given.

    All three sinks are REPLAY-EXACT (foreachBatch is at-least-once):
    done/dead rows land in their own ``batch_id=N`` partition via dynamic
    overwrite, and retries write ONE deterministically named file per
    batch — a replayed batch overwrites its own outputs byte-for-byte
    instead of appending duplicates (which would double-complete jobs and
    double-consume retry budgets).
    """
    query = (
        _jobs_writer(
            spark, queue_dir, out_dir, dlq_dir, checkpoint_dir,
            fail_predicate, max_files_per_trigger,
        )
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return query


def drain_queue(
    spark: SparkSession,
    queue_dir: str,
    out_dir: str,
    dlq_dir: str,
    checkpoint_dir: str,
    fail_predicate=None,
) -> StreamingQuery:
    """Drain the job queue, retries included, in ONE streaming query — the
    worker's long-running poll loop — and return it once stopped.

    A retry file written by batch N is read by the query's next trigger,
    so retry rounds are just later micro-batches. Every attempt raises a
    job's retry_count and the job is dead-lettered at MAX_RETRIES, so the
    queue empties on its own; ``processAllAvailable`` returns when a
    trigger finds no new file. Spark documents that call as meant for
    testing because on an open stream "all available" is a moving target.
    Here that is the contract: the drain blocks while producers keep
    enqueuing, exactly as the worker loop keeps polling, and returns once
    the queue is quiet.

    The checkpoint holds the consumed-files log, so a later drain on the
    same checkpoint reads only files added since (no reprocessing, no
    duplicates), and a drain after a crash replays the uncommitted batch
    into its replay-exact sinks."""
    query = _jobs_writer(
        spark, queue_dir, out_dir, dlq_dir, checkpoint_dir, fail_predicate
    ).start()
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    return query
