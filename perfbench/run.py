"""Benchmark runner: one workload, one seed, one Python process.

    python3 perfbench/run.py --workload serving|curation|backfill \
        --seed N --seconds S --trace 0|1

Run from anywhere; the repo root is this file's parent directory. The runner
reads the engine's seed-42 sf0.1 test tables from ``perfbench/data/sf0.1``
(``--seed`` drives the request order, the tenant CSV and the failing jobs),
starts a fresh Spark session on ``local[$SPARK_GRAFT_CPUS]`` (default: the
CPUs this process may use), sets the workload up (the serving profile, then
untimed warm-up units), then times the number of whole units that
``--seconds`` holds (see UNIT_SECONDS). Every
engine call's output is checked (see workloads.py). The last line of standard
output is one JSON object ``{"correct", "attempted", "failed", "metrics"}``
with the end-to-end metrics of BENCHMARK.json (``--trace 0``) or its
per-layer metrics (``--trace 1``). A traced run records spans, Spark
status-store counters and streaming progress along the same schedule and
writes them to ``.perfbench/out/``. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import functools  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"
WORKLOADS = ("serving", "curation", "backfill")
# after a single warm-up cycle, backfill's first timed cycle still ran
# 20-40% slower than the later ones
WARMUP_UNITS = {"serving": 1, "curation": 1, "backfill": 2}
# A run times a fixed number of units: as many as ``--seconds`` holds at
# these unit times, measured on a 4-core VM. The JVM keeps getting faster
# over the first several units, so a count that followed the clock would
# time a slow run at an earlier, slower point of that curve than a fast one.
UNIT_SECONDS = {"serving": 5.0, "curation": 14.0, "backfill": 7.0}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # smaller inputs and a deliberately wrong reference, for perfbench/smoke.py
    p.add_argument("--data", type=Path, default=HERE / "data" / "sf0.1", help=argparse.SUPPRESS)
    p.add_argument("--cases", type=int, default=20_000, help=argparse.SUPPRESS)
    p.add_argument("--corrupt-reference", action="store_true", help=argparse.SUPPRESS)
    return p.parse_args(argv)


def _prepare_env(run_dir: Path) -> int:
    """Environment for Spark and its Python workers, set before the JVM
    starts: workers import the engine from this checkout, and scratch files
    stay inside it."""
    cpus = os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    tmp = run_dir / "tmp"
    for d in (tmp, run_dir / "spark-local"):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" '
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    return int(cpus)


def _data_key(data_dir: Path) -> str:
    """Names the reference cache of one dataset directory after its path and
    the size and modification time of each of its tables."""
    h = hashlib.sha256(str(data_dir.resolve()).encode())
    for f in sorted(data_dir.glob("*.parquet")):
        st = f.stat()
        h.update(f"{f.name}:{st.st_size}:{st.st_mtime_ns}".encode())
    return f"{data_dir.name}-{h.hexdigest()[:12]}"


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole box, from /proc/stat."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def _probe_ms() -> float:
    """Milliseconds one thread takes for a fixed loop: how fast the host ran
    this process, so a slow host can be told from a slow engine."""
    t0 = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i * i
    return (time.perf_counter() - t0) * 1000


def _git_commit() -> str | None:
    head = ROOT / ".git" / "HEAD"
    if not head.is_file():
        return None
    ref = head.read_text().strip()
    if not ref.startswith("ref: "):
        return ref
    ref_file = ROOT / ".git" / ref[5:]
    if ref_file.is_file():
        return ref_file.read_text().strip()
    packed = ROOT / ".git" / "packed-refs"
    if packed.is_file():
        for line in packed.read_text().splitlines():
            if line.endswith(" " + ref[5:]):
                return line.split()[0]
    return None


def _stop_spark(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM (and
    with it the Python workers it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        proc.wait(timeout=60)


def _quantile(values: list[float], q: int) -> float:
    """The q-th percentile (inclusive method; the sample itself when n=1)."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def _window(tracer, unit, units: int) -> tuple[list, float, dict]:
    """Times ``units`` whole units; returns the ops, the wall seconds and the
    window's span."""
    ops = []
    t0 = time.perf_counter()
    with tracer.span("measure", "bench") as span:
        for _ in range(units):
            ops.extend(unit())
    return ops, time.perf_counter() - t0, span


def end_to_end(workload: str, ops: list, units: int, n_docs: int) -> dict:
    """Medians over the window's whole units, so that every run averages
    the same mix of operations. A failed operation counts with the time it
    took; failures are reported through ``failed``.

    - serving: a round's mean request latency; its correct requests per second.
    - curation: a pass's mean operator latency; documents per pass second.
    - backfill: a cycle's sync + onboard + drain latency; jobs settled per
      second of onboard + drain.
    """
    per_unit = len(ops) // units
    unit_ops = [ops[i:i + per_unit] for i in range(0, len(ops), per_unit)]
    unit_s = [sum(op.seconds for op in u) for u in unit_ops]
    if workload == "backfill":
        latency_s = statistics.median(unit_s)
        # a cycle's ops are sync, onboard, drain
        items = statistics.median(
            u[2].stats.get("settled", 0) / (u[1].seconds + u[2].seconds) for u in unit_ops
        )
    else:
        latency_s = statistics.median(unit_s) / per_unit
        if workload == "serving":
            items = statistics.median(
                sum(op.ok for op in u) / s for u, s in zip(unit_ops, unit_s)
            )
        else:
            items = n_docs / statistics.median(unit_s)
    return {"latency_ms": latency_s * 1000, "items_per_s": items}


def per_layer(tracer, window: dict, ops: list, cpus: int, layers: dict) -> dict:
    import workloads

    m = dict(layers)
    lat_ms = [op.seconds * 1000 for op in ops if op.family in workloads.FAMILIES]
    m["requests.p50_ms"] = statistics.median(lat_ms) if lat_ms else 0.0
    m["requests.p90_ms"] = _quantile(lat_ms, 90) if lat_ms else 0.0
    for fam in workloads.FAMILIES:
        fops = [op for op in ops if op.family == fam]
        n = max(len(fops), 1)
        c = {k: sum(op.counters.get(k, 0.0) for op in fops) for k in
             ("jobs", "stages", "tasks", "shuffle_write_b", "gc_ms", "run_ms")}
        busy_s = sum(op.seconds for op in fops) * cpus
        m[f"operators.{fam}.plan_ms"] = sum(op.plan_s for op in fops) * 1000 / n
        m[f"operators.{fam}.exec_ms"] = sum(op.exec_s for op in fops) * 1000 / n
        m[f"operators.{fam}.jobs"] = c["jobs"] / n
        m[f"operators.{fam}.stages"] = c["stages"] / n
        m[f"operators.{fam}.tasks"] = c["tasks"] / n
        m[f"operators.{fam}.shuffle_mb"] = c["shuffle_write_b"] / 2**20 / n
        m[f"operators.{fam}.gc_ms"] = c["gc_ms"] / n
        m[f"operators.{fam}.busy_frac"] = c["run_ms"] / 1000 / busy_s if busy_s else 0.0
    for name in workloads.SERVING + workloads.CURATION:
        ex = [op.exec_s * 1000 for op in ops if op.name == name]
        m[f"query.{name}.exec_ms"] = statistics.median(ex) if ex else 0.0

    def med(values):
        return statistics.median(values) if values else 0.0

    sync = [op for op in ops if op.name == "flows.sync"]
    onboard = [op for op in ops if op.name == "flows.onboard"]
    drain = [op for op in ops if op.name == "streaming.drain"]
    m["flows.sync_s"] = med([op.seconds for op in sync])
    m["flows.sync.jobs"] = med([op.counters.get("jobs", 0) for op in sync])
    m["flows.sync.shuffle_mb"] = med([op.counters.get("shuffle_write_b", 0) / 2**20 for op in sync])
    m["flows.onboard_s"] = med([op.seconds for op in onboard])
    m["flows.onboard.jobs"] = med([op.counters.get("jobs", 0) for op in onboard])
    m["flows.queue_files"] = med([op.stats.get("queue_files", 0) for op in onboard])
    st = [op.stats for op in drain if "microbatches" in op.stats]
    m["streaming.drain_s"] = med([op.seconds for op in drain])
    m["streaming.microbatches"] = med([s["microbatches"] for s in st])
    m["streaming.batch_p50_ms"] = med([x for s in st for x in s["batch_ms"]])
    m["streaming.add_batch_ms"] = med([x for s in st for x in s["add_batch_ms"]])
    m["streaming.commit_ms"] = med([x for s in st for x in s["commit_ms"]])
    m["streaming.retry_rounds"] = med([s["retry_rounds"] for s in st])
    m["streaming.files_written"] = med([s["files_written"] for s in st])
    m["streaming.bytes_per_job"] = med([
        s["bytes_written"] / max(op.stats.get("settled", 0), 1)
        for op, s in zip(drain, st)
    ])

    wall = window["end"] - window["start"]
    self_s = tracer.self_seconds(window)
    for layer in ("operators", "flows", "streaming", "check", "trace"):
        m[f"self.{layer}_frac"] = self_s.pop(layer, 0.0) / wall
    m["self.other_frac"] = sum(self_s.values()) / wall
    # time the tracing itself added: status-store reads over the rest
    m["trace.overhead_frac"] = m["self.trace_frac"] / (1 - m["self.trace_frac"])
    return m


def main(argv=None) -> int:
    args = parse_args(argv)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    declared = spec["per_layer"] if args.trace else spec["end_to_end"]
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    try:
        import caseguarddatapipeline_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    run_dir = WORK / f"run-{os.getpid()}"
    cpus = _prepare_env(run_dir)
    (WORK / "out").mkdir(parents=True, exist_ok=True)
    box_start = (os.getloadavg()[0], _cpu_ticks())
    try:
        return _run(args, declared, run_dir, cpus, box_start)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, declared, run_dir, cpus, box_start) -> int:
    import duckdb
    import pyspark

    from caseguarddatapipeline_spark.catalog import build_catalog
    from caseguarddatapipeline_spark.session import get_spark

    import pyarrow.parquet as pq

    import oracle
    import spans
    import workloads as wl

    tracer = spans.Tracer(enabled=bool(args.trace))
    layers: dict[str, float] = {}
    data_dir = str(args.data)

    t0 = time.perf_counter()
    with tracer.span("session.start", "session"):
        spark = get_spark(f"perfbench-{args.workload}")
    layers["session.start_s"] = time.perf_counter() - t0
    try:
        spark.sparkContext.setLogLevel("ERROR")
        t0 = time.perf_counter()
        with tracer.span("catalog.build", "catalog"):
            queries, oracles = build_catalog()
        layers["catalog.build_s"] = time.perf_counter() - t0
        run = wl.Run(spark, queries, data_dir, str(run_dir), args.seed, tracer)
        names = {"serving": wl.SERVING, "curation": wl.CURATION}.get(args.workload)
        with run.own():
            refs_dir = WORK / "refs" / _data_key(args.data)
            run.refs = oracle.References(ROOT, data_dir, str(refs_dir), oracles)
            run.refs.load(names or [wl.SYNC_REFERENCE])
            if names and args.corrupt_reference:
                run.refs.corrupt(names[0])
            if not names:
                wl.prepare_backfill(run, args.cases, args.corrupt_reference)
        counters = spans.SparkCounters(spark)
        if args.trace:
            run.counters = counters
            run.progress = spans.StreamProgress()
            spark.streams.addListener(run.progress)

        if names is None:
            unit = functools.partial(wl.backfill_unit, run)
        else:
            unit = functools.partial(wl.query_unit, run, names)
        if args.workload == "serving":
            wl.serving_profile(run, cpus)
        # untimed units first: for serving they fill the warm cache; for every
        # workload they start the Python workers and compile the plans
        t0, own0 = time.perf_counter(), run.own_s
        with tracer.span("warmup", "sources" if args.workload == "serving" else "bench"):
            warm_ops = [op for _ in range(WARMUP_UNITS[args.workload]) for op in unit()]
        warm_s = time.perf_counter() - t0 - (run.own_s - own0)
        layers["sources.warm_s"] = warm_s if args.workload == "serving" else 0.0
        layers["sources.cached_mb"] = counters.cached_mb()
        setup_s = time.perf_counter() - T_START - run.own_s

        units = max(1, round(args.seconds / UNIT_SECONDS[args.workload]))
        ops, wall, window = _window(tracer, unit, units)
        all_ops = warm_ops + ops
        if args.trace:
            layers["session.jvm_peak_rss_mb"] = counters.jvm_peak_rss_mb()
            result = per_layer(tracer, window, ops, cpus, layers)
            stem = WORK / "out" / f"{args.workload}-seed{args.seed}"
            tracer.write(f"{stem}-spans.json")
            untraced = WORK / "out" / f"{args.workload}-seed{args.seed}-trace0.json"
            summary = {"per_layer": result, "window_s": wall, "units": units}
            before = json.loads(untraced.read_text()) if untraced.is_file() else {}
            if before.get("window_s"):
                summary["window_s_untraced"] = before["window_s"] * units / before["units"]
                summary["overhead_vs_untraced"] = wall / summary["window_s_untraced"] - 1
            Path(f"{stem}-layers.json").write_text(json.dumps(summary, indent=1))
        else:
            result = {
                "setup_s": setup_s,
                **end_to_end(
                    args.workload, ops, units,
                    pq.ParquetFile(args.data / "documents.parquet").metadata.num_rows,
                ),
            }
    finally:
        _stop_spark(spark)

    failed = [op for op in all_ops if not op.ok]
    metrics = {}
    for m in declared:
        if m["name"] not in result:
            raise KeyError(f"metric {m['name']} declared in BENCHMARK.json was not measured")
        metrics[m["name"]] = {"value": result[m["name"]], "unit": m["unit"]}
    (steal0, total0), (steal1, total1) = box_start[1], _cpu_ticks()
    box = {
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": cpus,
        "loadavg_1m_start": box_start[0],
        "loadavg_1m_end": os.getloadavg()[0],
        # share of CPU time the hypervisor gave to other guests during the run
        "steal_frac": round((steal1 - steal0) / max(total1 - total0, 1), 4),
        "probe_ms": round(_probe_ms(), 1),
        "git_commit": _git_commit(),
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
    }
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "data": args.data.name, "box": box, "units": units,
        "window_s": wall,
        "samples": len(ops), "metrics": metrics,
        "failures": [f"{op.name}: {op.detail}" for op in failed],
        "ops": [[op.name, round(op.plan_s, 6), round(op.exec_s, 6), op.ok] for op in all_ops],
    }
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    (WORK / "out" / name).write_text(json.dumps(record, indent=1))

    print(f"workload {args.workload} seed {args.seed}: {units} units, "
          f"{len(ops)} timed operations, {len(all_ops)} checked, {len(failed)} failed")
    print("box " + " ".join(f"{k}={v}" for k, v in box.items()))
    for f in record["failures"][:10]:
        print(f"FAILED {f}")
    for k, v in metrics.items():
        print(f"{k} = {v['value']:.6g} {v['unit']}")
    print(json.dumps({
        "correct": not failed,
        "attempted": len(all_ops),
        "failed": len(failed),
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
