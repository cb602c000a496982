"""The benchmark's three workloads, driven through the engine's public entry
points only: ``catalog.build_catalog`` query functions, the serving profile
(``sources.tables.enable_warm_cache`` + ``session.enable_low_latency``),
``flows.sync_tenant_daily`` / ``flows.onboard_tenant`` and
``streaming.jobs.drain_queue``.

A workload runs in *units*: a serving round (every serving query once, in a
seeded order), a curation pass (every curation operator once, in a seeded
order) or a backfill cycle (sync, onboard, drain). Each call into the engine
is one ``Op``; every op's output is checked before the next op starts, and a
failed check or an exception marks the op failed.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import pyarrow.parquet as pq

FAMILIES = ("relational", "vector", "dedup", "text", "curation")
SERVING = [
    "a1_reconciliation_summary_sql", "q1_pricing_summary_sql",
    "q3_shipping_priority_sql", "q5_regional_volume_sql",
    "q18_large_orders_sql", "a5_group_stats", "w2_recent_events_per_entity",
    "e2_cosine_topk_vectorized", "e2_knn_per_query_vectorized",
    "e2_sq8_search_sql",
]
CURATION = [
    "e1_exact_dedup", "e1_minhash_lsh_vectorized", "e1_span_dedup_sql",
    "e1_dedup_clusters", "e3_quality_score", "e3_bpe_encode_sql",
    "e5_global_token_budget_sql", "e5_dedup_report",
]
SYNC_REFERENCE = "a1_reconciliation_summary"  # oracle the sync report is checked against
BATCH_SIZE = 500  # onboard queue batch size: 20k cases -> 40 queue files
FAIL_MOD = 20  # drain fails job ids in one residue class mod 20: ~5%
STATUSES = ["Active"] * 4 + ["Complete"]
CATEGORIES = ["Housing Disrepair", "Personal Injury", "Employment", "Debt"]


def family(query: str) -> str:
    prefix = query.split("_", 1)[0]
    if prefix == "e2":
        return "vector"
    return {"e1": "dedup", "e3": "text", "e5": "curation"}.get(prefix, "relational")


@dataclass
class Op:
    name: str
    family: str
    plan_s: float = 0.0
    exec_s: float = 0.0
    ok: bool = True
    detail: str = ""
    counters: dict = field(default_factory=dict)
    stats: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.plan_s + self.exec_s

    def fail(self, detail: str) -> None:
        self.ok = False
        self.detail = (self.detail + "; " if self.detail else "") + detail


class Run:
    """State of one benchmark run, shared by the workload functions."""

    def __init__(self, spark, queries, data_dir, work_dir, seed, tracer):
        self.spark = spark
        self.queries = queries
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.rng = random.Random(seed)
        self.seed = seed
        self.tracer = tracer
        self.counters = None  # SparkCounters while a traced window runs
        self.progress = None  # StreamProgress in traced runs
        self.refs = None
        self.own_s = 0.0  # time spent in the benchmark's own checks
        self._request = 0
        self.backfill: dict = {}

    @contextmanager
    def own(self):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.own_s += time.perf_counter() - t0

    def next_request(self) -> int:
        self._request += 1
        self.tracer.request = self._request
        return self._request

    def read_counters(self, op: Op, span: dict, groups: list[str]) -> None:
        """Attach the status-store counts of ``groups`` to the op and its span."""
        if self.counters is not None:
            with self.tracer.span("status_store", "trace"):
                op.counters = span["counters"] = self.counters.read(groups)


# ---------------------------------------------------------------- queries


def query_op(run: Run, name: str) -> Op:
    op = Op(name, family(name))
    rid = run.next_request()
    group = f"perfbench-{rid}"
    with run.tracer.span(name, "client") as span:
        if run.counters is not None:
            run.counters.set_group(group)
        rows = cols = None
        t0 = time.perf_counter()
        try:
            with run.tracer.span("plan", "operators"):
                df = run.queries[name](run.spark, run.data_dir)
            t1 = time.perf_counter()
            with run.tracer.span("exec", "operators"):
                rows = df.collect()
            t2 = time.perf_counter()
            cols = df.columns
            op.plan_s, op.exec_s = t1 - t0, t2 - t1
        except Exception as e:  # an engine failure is a measured outcome
            op.plan_s = time.perf_counter() - t0
            op.fail(f"{type(e).__name__}: {str(e)[:300]}")
        if rows is not None:
            with run.own(), run.tracer.span("check", "check"):
                problems = run.refs.check(name, cols, rows)
            if problems:
                op.fail("; ".join(problems))
        run.read_counters(op, span, [group])
    return op


def query_unit(run: Run, names: list[str]) -> list[Op]:
    order = list(names)
    run.rng.shuffle(order)
    return [query_op(run, n) for n in order]


def serving_profile(run: Run, cpus: int) -> None:
    """The serving profile the engine documents: warm table cache plus the
    low-latency session settings."""
    from caseguarddatapipeline_spark.session import enable_low_latency
    from caseguarddatapipeline_spark.sources.tables import enable_warm_cache

    enable_warm_cache(cpus)
    enable_low_latency(run.spark)


# ---------------------------------------------------------------- backfill


def prepare_backfill(run: Run, n_cases: int, corrupt: bool) -> None:
    """The tenant CSV and the failure residue, both from the seed, and the
    sync report expected from the reconciliation summary's oracle."""
    csv = os.path.join(run.work_dir, "tenant.csv")
    write_tenant_csv(csv, n_cases, run.seed)
    residue = run.rng.randrange(FAIL_MOD)
    run.backfill = {
        "csv": csv,
        "n_cases": n_cases,
        "residue": residue,
        # the smoke test's wrong reference: expect the neighbouring residue
        "expected_residue": (residue + 1) % FAIL_MOD if corrupt else residue,
        "sync": _expected_sync(run.refs.frame(SYNC_REFERENCE)),
        "cycle": 0,
    }


def write_tenant_csv(path: str, n_cases: int, seed: int) -> None:
    """One tenant's case list: unique seeded case references, 80% active."""
    rng = random.Random(seed)
    refs = rng.sample(range(1_000_000), n_cases)
    with open(path, "w") as fh:
        fh.write("Solicitor Reference,Status,Category,Client,Handler,Date Opened\n")
        for ref in refs:
            fh.write(
                f"NBC{ref:06d}.{rng.randrange(1, 4):03d},{rng.choice(STATUSES)},"
                f"{rng.choice(CATEGORIES)},Client {rng.randrange(5000)},"
                f"Handler {rng.randrange(40)},"
                f"{rng.randrange(1, 29):02d}/{rng.randrange(1, 13):02d}/{rng.randrange(2015, 2025)}\n"
            )


def _expected_sync(summary) -> dict:
    """``sync_tenant_daily``'s summary, quality gate and queued-job count,
    derived from the DuckDB reconciliation summary."""
    n = {r.change_type: int(r.n_entities) for r in summary.itertuples()}
    total = sum(n.values())
    changes = n.get("new", 0) + n.get("deactivated", 0) + n.get("update", 0)
    n_crm, n_store = total - n.get("deactivated", 0), total - n.get("new", 0)
    rate = changes / total if total else 0.0
    divergence = abs(n_crm - n_store) / max(n_crm, n_store) if max(n_crm, n_store) else 0.0
    ok = rate <= 0.2 and divergence <= 0.1
    return {
        "summary": {
            r.change_type: {"n_entities": int(r.n_entities), "total_events": int(r.total_events)}
            for r in summary.itertuples()
        },
        "quality": {
            "change_rate": round(rate, 6),
            "count_divergence": round(divergence, 6),
            "quality_ok": ok,
        },
        "jobs_queued": n.get("new", 0) + n.get("update", 0) if ok else 0,
    }


def _flow_op(run: Run, name: str, layer: str, fn) -> tuple[Op, object]:
    op = Op(name, layer)
    rid = run.next_request()
    group = f"perfbench-{rid}"
    result = None
    with run.tracer.span(name, layer) as span:
        if run.counters is not None:
            run.counters.set_group(group)
        first_run = len(run.progress.run_ids) if run.progress else 0
        t0 = time.perf_counter()
        try:
            result = fn()
        except Exception as e:  # an engine failure is a measured outcome
            op.fail(f"{type(e).__name__}: {str(e)[:300]}")
        op.exec_s = time.perf_counter() - t0
        if run.counters is not None:
            run.counters.drain_events()
        runs = run.progress.run_ids[first_run:] if run.progress else []
        run.read_counters(op, span, [group, *runs])
        op.stats["run_ids"] = runs
    return op, result


def backfill_unit(run: Run) -> list[Op]:
    from pyspark.sql import functions as F

    from caseguarddatapipeline_spark.flows import onboard_tenant, sync_tenant_daily
    from caseguarddatapipeline_spark.streaming.jobs import drain_queue

    bf = run.backfill
    bf["cycle"] += 1
    cyc = os.path.join(run.work_dir, f"cycle{bf['cycle']}")
    queue, out, dlq, ck = (os.path.join(cyc, d) for d in ("queue", "out", "dlq", "ck"))
    with run.tracer.span(f"cycle{bf['cycle']}", "bench"):
        sync, report = _flow_op(
            run, "flows.sync", "flows",
            lambda: sync_tenant_daily(run.spark, run.data_dir, os.path.join(cyc, "syncq")),
        )
        onboard, onboarded = _flow_op(
            run, "flows.onboard", "flows",
            lambda: onboard_tenant(run.spark, bf["csv"], queue, batch_size=BATCH_SIZE),
        )
        failing = F.pmod(F.col("job_id"), F.lit(FAIL_MOD)) == F.lit(bf["residue"])
        drain, _ = _flow_op(
            run, "streaming.drain", "streaming",
            lambda: drain_queue(run.spark, queue, out, dlq, ck, fail_predicate=failing),
        )
        with run.own(), run.tracer.span("check", "check"):
            _check_cycle(run, sync, report, onboard, onboarded, drain, queue, out, dlq, ck)
        if run.progress is not None:
            drain.stats.update(_stream_stats(run, drain.stats["run_ids"], queue, out, dlq))
        onboard.stats["queue_files"] = len(_files(queue, "backfill-"))
        shutil.rmtree(cyc, ignore_errors=True)
    return [sync, onboard, drain]


def _files(directory: str, prefix: str) -> list[str]:
    if not os.path.isdir(directory):
        return []
    return sorted(f for f in os.listdir(directory) if f.startswith(prefix))


def _parquet_files(directory: str) -> list[str]:
    return [
        os.path.join(r, f) for r, _, fs in os.walk(directory)
        for f in fs if f.endswith(".parquet")
    ]


def _job_ids(directory: str) -> list[int]:
    ids: list[int] = []
    for f in _parquet_files(directory):
        ids.extend(pq.read_table(f, columns=["job_id"]).column(0).to_pylist())
    return ids


def _consumed(checkpoint: str) -> set[str]:
    """File names the file-stream source recorded as consumed."""
    src = os.path.join(checkpoint, "sources", "0")
    names: set[str] = set()
    for f in _files(src, ""):
        if f.startswith("."):  # checksum files
            continue
        with open(os.path.join(src, f)) as fh:
            for line in fh:
                if line.startswith("{"):
                    names.add(os.path.basename(json.loads(line)["path"]))
    return names


def _check_cycle(run, sync, report, onboard, onboarded, drain, queue, out, dlq, ck):
    bf = run.backfill
    if sync.ok:
        got = {k: report.get(k) for k in bf["sync"]}
        if got != bf["sync"]:
            sync.fail(f"sync report {got} != expected {bf['sync']}")
    queued: list[int] = []
    for f in _files(queue, "backfill-"):
        with open(os.path.join(queue, f)) as fh:
            queued.extend(json.loads(line)["job_id"] for line in fh)
    if onboard.ok:
        if onboarded.get("jobs_queued") != bf["n_cases"]:
            onboard.fail(f"jobs_queued {onboarded.get('jobs_queued')} != {bf['n_cases']} CSV rows")
        if len(set(queued)) != bf["n_cases"]:
            onboard.fail(f"{len(set(queued))} distinct queued jobs != {bf['n_cases']} CSV rows")
    if not drain.ok:
        return
    done, dead = _job_ids(out), _job_ids(dlq)
    expected_dead = {j for j in queued if j % FAIL_MOD == bf["expected_residue"]}
    unconsumed = set(_files(queue, "retry-")) - _consumed(ck)
    problems = []
    if len(done) + len(dead) != len(queued):
        problems.append(f"done {len(done)} + dead {len(dead)} != queued {len(queued)}")
    if set(done) | set(dead) != set(queued) or set(done) & set(dead):
        problems.append("done and dead do not partition the queued jobs")
    if set(dead) != expected_dead:
        problems.append(f"dead set ({len(dead)}) != predicate set ({len(expected_dead)})")
    if unconsumed:
        problems.append(f"unconsumed retry files: {sorted(unconsumed)[:3]}")
    if problems:
        drain.fail("; ".join(problems))
    drain.stats["settled"] = len(done) + len(dead)


def _stream_stats(run, run_ids, queue, out, dlq) -> dict:
    batches = [b for b in run.progress.batches if b["run_id"] in set(run_ids)]
    rows_per_run = {r: 0 for r in run_ids}
    for b in batches:
        rows_per_run[b["run_id"]] += b["rows"]
    written = _parquet_files(out) + _parquet_files(dlq) + [
        os.path.join(queue, f) for f in _files(queue, "retry-")
    ]
    ms = [b["duration_ms"] for b in batches]
    return {
        "microbatches": len(batches),
        "batch_ms": [m.get("triggerExecution", 0) for m in ms],
        "add_batch_ms": [m.get("addBatch", 0) for m in ms],
        "commit_ms": [m.get("walCommit", 0) + m.get("commitOffsets", 0) for m in ms],
        "retry_rounds": max(sum(1 for n in rows_per_run.values() if n) - 1, 0),
        "files_written": len(written),
        "bytes_written": sum(os.path.getsize(f) for f in written),
    }
