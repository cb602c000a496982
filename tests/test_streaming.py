"""Streaming job pipeline (T3-T5): priority ordering, retry, DLQ routing —
end-to-end through a file-backed queue. ``drain_queue`` runs one streaming
query per drain whose later micro-batches read the retry files; every file
it writes is in (priority, job_id) order."""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq
import pyspark.sql.functions as F

from caseguarddatapipeline_spark.operators.reconcile import (
    crm_snapshot,
    reconcile,
    store_snapshot,
)
from caseguarddatapipeline_spark.streaming.jobs import (
    JOB_SCHEMA,
    MAX_RETRIES,
    drain_queue,
    jobs_from_reconciliation,
    make_batch_handler,
    process_job_batch,
    run_jobs_stream,
)


def test_jobs_from_reconciliation(spark, sf_dir):
    detail = reconcile(crm_snapshot(spark, sf_dir), store_snapshot(spark, sf_dir))
    jobs = jobs_from_reconciliation(detail)
    rows = jobs.collect()
    assert len(rows) > 0
    assert {r["priority"] for r in rows} <= {1, 2}
    assert all(r["retry_count"] == 0 for r in rows)
    new_jobs = [r for r in rows if r["change_type"] == "new"]
    assert all(r["priority"] == 1 for r in new_jobs)


def test_process_batch_outcomes(spark):
    batch = spark.createDataFrame(
        [(1, 1, "new", 1, 0), (2, 2, "update", 2, 0), (3, 3, "update", 2, MAX_RETRIES - 1)],
        ["job_id", "entity_id", "change_type", "priority", "retry_count"],
    )
    out = process_job_batch(batch, fail_predicate=F.col("entity_id") >= 2)
    outcomes = {r["job_id"]: r["outcome"] for r in out.collect()}
    assert outcomes == {1: "done", 2: "retry", 3: "dead"}


def test_drain_queue_end_to_end(spark, sf_dir, tmp_path):
    detail = reconcile(crm_snapshot(spark, sf_dir), store_snapshot(spark, sf_dir))
    jobs = jobs_from_reconciliation(detail)
    n_jobs = jobs.count()
    queue = str(tmp_path / "queue")
    out = str(tmp_path / "out")
    dlq = str(tmp_path / "dlq")
    ckpt = str(tmp_path / "ckpt")
    jobs.write.json(queue)

    # entity_id % 5 == 0 fails EVERY attempt -> must end in the DLQ;
    # everything else succeeds first try.
    drain_queue(
        spark, queue, out, dlq, ckpt,
        fail_predicate=(F.col("entity_id") % 5) == 0,
    )

    done = spark.read.parquet(out)
    dead = spark.read.parquet(dlq)
    n_done, n_dead = done.count(), dead.count()
    assert n_done + n_dead == n_jobs
    assert done.filter((F.col("entity_id") % 5) == 0).count() == 0
    assert dead.filter((F.col("entity_id") % 5) != 0).count() == 0
    # DLQ rows carry the exhausted retry count
    assert all(r["retry_count"] == MAX_RETRIES - 1 for r in dead.collect())
    # no job processed twice
    assert done.select("job_id").distinct().count() == n_done


def _write_queue(queue_dir: str, n_files: int = 10, per_file: int = 5) -> None:
    """Small JSON queue files; priorities cycle so (priority, job_id)
    order differs from job_id order."""
    os.makedirs(queue_dir)
    for f in range(n_files):
        with open(os.path.join(queue_dir, f"jobs-{f:03d}.json"), "w") as fh:
            for i in range(per_file):
                job_id = f * per_file + i
                fh.write(json.dumps({
                    "job_id": job_id,
                    "entity_id": job_id,
                    "change_type": "update" if job_id % 2 else "new",
                    "priority": 1 + job_id % 3,
                    "retry_count": job_id % 2,
                }) + "\n")


def _parquet_files(directory: str) -> list[str]:
    return [
        os.path.join(d, f)
        for d, _, fs in os.walk(directory)
        for f in fs if f.endswith(".parquet")
    ]


def _job_ids(directory: str) -> list[int]:
    return sorted(
        j for f in _parquet_files(directory)
        for j in pq.read_table(f, columns=["job_id"]).column(0).to_pylist()
    )


def _drain(spark, root, fail_predicate):
    """Drain a fresh 10-file queue under ``root``; returns the input rows
    of each micro-batch that read any and the done / dead job ids."""
    queue, out, dlq, ckpt = (os.path.join(root, d) for d in ("queue", "out", "dlq", "ckpt"))
    _write_queue(queue)
    query = drain_queue(spark, queue, out, dlq, ckpt, fail_predicate=fail_predicate)
    assert not query.isActive
    rows = [p["numInputRows"] for p in query.recentProgress if p["numInputRows"] > 0]
    return rows, _job_ids(out), _job_ids(dlq)


def test_drain_runs_one_microbatch_per_retry_round(spark, tmp_path):
    # job_id % 7 == 0 fails every attempt. Jobs enqueued with
    # retry_count 1 die on their second attempt, those with 0 on their
    # third. The first batch scans its 50 queued jobs once: a global sort
    # would read them twice (its range-partitioner sample is a scan too)
    rows, done, dead = _drain(spark, str(tmp_path), (F.col("job_id") % 7) == 0)
    assert len(rows) == MAX_RETRIES
    assert rows[0] == 50
    assert dead == [j for j in range(50) if j % 7 == 0]
    assert done == [j for j in range(50) if j % 7 != 0]


def test_lower_partition_bytes_splits_the_drain(spark, tmp_path):
    """The byte bound is live: shrinking the per-task split size shrinks
    each micro-batch, and the outcome is unchanged."""
    fail = (F.col("job_id") % 7) == 0
    rows, done, dead = _drain(spark, str(tmp_path / "wave"), fail)
    key = "spark.sql.files.maxPartitionBytes"
    before = spark.conf.get(key)
    # the queue is 10 files of ~440 B; 256 B x 4 task slots admits ~2 files
    spark.conf.set(key, "256")
    try:
        split_rows, split_done, split_dead = _drain(spark, str(tmp_path / "split"), fail)
    finally:
        spark.conf.set(key, before)
    assert len(rows) == MAX_RETRIES
    assert len(split_rows) > MAX_RETRIES
    assert split_rows[0] < 50
    assert (split_done, split_dead) == (done, dead)


def test_drain_of_all_failing_queue_ends_in_the_dlq(spark, tmp_path):
    """With every attempt failing the query still ends on its own: each
    job is dead-lettered once its retry budget is spent, and the trigger
    after that finds no new file."""
    rows, done, dead = _drain(spark, str(tmp_path), F.lit(True))
    assert len(rows) == MAX_RETRIES
    assert done == []
    assert dead == list(range(50))
    dlq = spark.read.parquet(str(tmp_path / "dlq"))
    assert {r.retry_count for r in dlq.select("retry_count").collect()} == {MAX_RETRIES - 1}


def test_job_without_retry_count_still_reaches_the_dlq(spark, tmp_path):
    """A missing or negative retry_count counts as 0, so a drain of jobs
    that fail every attempt still ends with them in the DLQ."""
    queue, out, dlq, ckpt = (str(tmp_path / d) for d in ("queue", "out", "dlq", "ckpt"))
    os.makedirs(queue)
    with open(os.path.join(queue, "jobs-000.json"), "w") as fh:
        for job in ({"job_id": 1, "priority": 1}, {"job_id": 2, "priority": 1, "retry_count": -5}):
            fh.write(json.dumps({"entity_id": job["job_id"], "change_type": "new", **job}) + "\n")
    query = drain_queue(spark, queue, out, dlq, ckpt, fail_predicate=F.lit(True))
    rows = [p["numInputRows"] for p in query.recentProgress if p["numInputRows"] > 0]
    assert rows == [2] * MAX_RETRIES
    assert _job_ids(out) == [] and _job_ids(dlq) == [1, 2]
    with open(os.path.join(queue, "retry-000000.json")) as fh:
        assert [json.loads(line)["retry_count"] for line in fh] == [1, 1]


def test_drain_of_empty_queue_writes_nothing(spark, tmp_path):
    queue, out, dlq, ckpt = (str(tmp_path / d) for d in ("queue", "out", "dlq", "ckpt"))
    os.makedirs(queue)
    query = drain_queue(spark, queue, out, dlq, ckpt)
    assert not query.isActive
    assert all(p["numInputRows"] == 0 for p in query.recentProgress)
    assert os.listdir(queue) == []
    assert os.listdir(out) == [] and os.listdir(dlq) == []


def test_every_done_file_is_in_priority_order(spark, tmp_path):
    """Priorities cycle with job_id, so a file holding more than one
    queue file's rows is in (priority, job_id) order only if it was
    sorted."""
    _drain(spark, str(tmp_path), (F.col("job_id") % 7) == 0)
    files = _parquet_files(str(tmp_path / "out"))
    assert files
    seen = 0
    for f in files:
        rows = pq.read_table(f, columns=["priority", "job_id"]).to_pylist()
        keys = [(r["priority"], r["job_id"]) for r in rows]
        assert keys == sorted(keys), f
        seen += len(keys)
    assert seen == 50 - len(range(0, 50, 7))


def test_all_failing_round_writes_no_done_partition(spark, tmp_path):
    queue, out, dlq, ckpt = (str(tmp_path / d) for d in ("queue", "out", "dlq", "ckpt"))
    _write_queue(queue)
    run_jobs_stream(spark, queue, out, dlq, ckpt, fail_predicate=F.lit(True))
    # every job fails with budget left: neither parquet sink is written
    assert os.listdir(out) == [] and os.listdir(dlq) == []
    with open(os.path.join(queue, "retry-000000.json")) as fh:
        assert len(fh.readlines()) == 50


def test_retry_file_matches_collect_path(spark, tmp_path):
    """The tally job's retry rows are written byte for byte as the plain
    collect of the priority-ordered retry rows would write them."""
    inbox = str(tmp_path / "inbox")
    _write_queue(inbox)
    batch = spark.read.schema(JOB_SCHEMA).json(inbox)
    fail = (F.col("job_id") % 3) != 0
    queue = str(tmp_path / "queue")
    os.makedirs(queue)
    make_batch_handler(queue, str(tmp_path / "out"), str(tmp_path / "dlq"), fail)(batch, 7)

    rows = (
        process_job_batch(batch, fail)
        .filter(F.col("outcome") == "retry")
        .drop("outcome")
        .withColumn("retry_count", F.col("retry_count") + 1)
        .orderBy("priority", "job_id")
        .collect()
    )
    expected = "".join(json.dumps(r.asDict()) + "\n" for r in rows).encode()
    with open(os.path.join(queue, "retry-000007.json"), "rb") as fh:
        written = fh.read()
    assert len(rows) > 10
    assert written == expected


def test_kafka_queue_option_contract():
    from caseguarddatapipeline_spark.streaming.jobs import kafka_queue_options

    opts = kafka_queue_options(
        "broker1:9092,broker2:9092",
        "case_processing_queue",
        starting_offsets="latest",
        max_offsets_per_trigger=5000,
        group_id_prefix="caseflow",
    )
    assert opts == {
        "kafka.bootstrap.servers": "broker1:9092,broker2:9092",
        "subscribe": "case_processing_queue",
        "startingOffsets": "latest",
        "failOnDataLoss": "false",
        "maxOffsetsPerTrigger": "5000",
        "groupIdPrefix": "caseflow",
    }


def test_kafka_value_parse_contract(spark):
    """parse_job_records decodes Kafka-shaped (value binary) frames into
    typed job rows — proven on a batch frame, no broker needed."""
    import json

    from caseguarddatapipeline_spark.streaming.jobs import parse_job_records

    payload = json.dumps(
        {"job_id": 7, "entity_id": 7, "change_type": "new",
         "priority": 1, "retry_count": 0}
    ).encode()
    frame = spark.createDataFrame(
        [(b"key-7", payload)], "key binary, value binary"
    )
    [row] = parse_job_records(frame).collect()
    assert (row["job_id"], row["priority"], row["change_type"]) == (7, 1, "new")


def test_queue_source_rejects_unknown_transport(spark):
    import pytest as _pytest

    from caseguarddatapipeline_spark.streaming.jobs import queue_source

    with _pytest.raises(ValueError, match="unknown queue transport"):
        queue_source(spark, "redis")


def test_kafka_sink_roundtrip_contract(spark):
    """jobs → kafka records → parse_job_records reproduces the rows:
    the enqueue and consume sides agree by construction."""
    from caseguarddatapipeline_spark.streaming.jobs import (
        jobs_to_kafka_records,
        kafka_sink_options,
        parse_job_records,
    )

    assert kafka_sink_options("b:9092", "jobs", checkpoint_dir="/tmp/ck") == {
        "kafka.bootstrap.servers": "b:9092",
        "topic": "jobs",
        "checkpointLocation": "/tmp/ck",
    }
    jobs = spark.createDataFrame(
        [(1, 1, "new", 1, 0), (2, 2, "update", 2, 1)],
        "job_id long, entity_id long, change_type string, priority int, retry_count int",
    )
    records = jobs_to_kafka_records(jobs)
    assert dict(records.dtypes) == {"key": "binary", "value": "binary"}
    back = sorted(
        (r["job_id"], r["entity_id"], r["change_type"], r["priority"], r["retry_count"])
        for r in parse_job_records(records).collect()
    )
    assert back == [(1, 1, "new", 1, 0), (2, 2, "update", 2, 1)]


def test_enqueue_jobs_kafka_builds_configured_writer(spark, tmp_path):
    """The composed S9 enqueue seam returns an unstarted, fully-configured
    writer for both batch and streaming inputs (no broker needed to build)."""
    from pyspark.sql.readwriter import DataFrameWriter
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    from caseguarddatapipeline_spark.streaming.jobs import (
        JOB_SCHEMA,
        enqueue_jobs_kafka,
    )

    batch = spark.createDataFrame(
        [(1, 1, "new", 1, 0)],
        "job_id long, entity_id long, change_type string, priority int, retry_count int",
    )
    w = enqueue_jobs_kafka(batch, "b:9092", "jobs")
    assert isinstance(w, DataFrameWriter)

    qdir = tmp_path / "queue"
    qdir.mkdir()
    stream = spark.readStream.schema(JOB_SCHEMA).json(str(qdir))
    sw = enqueue_jobs_kafka(
        stream, "b:9092", "jobs", checkpoint_dir=str(tmp_path / "ck")
    )
    assert isinstance(sw, DataStreamWriter)
