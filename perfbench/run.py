"""Benchmark of the engine: gate workloads and arrival-driven ingestion.

Run from the repository root:

    python3 perfbench/run.py --workload gates_sf01 --seed 1 --seconds 16 --trace 0

Each invocation is one fresh process on ``local[$(nproc)]`` with the
engine's shipped session defaults. It generates its inputs from the seed
(untimed), then sets up: starts the session, prepares the workload and runs
an untimed warm-up (``setup_s``). It then times a fixed amount of work sized
from ``--seconds`` in passes (``wall_s`` is the median pass), checks the
outputs, and prints one JSON line last.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` is a separate
run that records spans around the calls into each layer, writes a Spark
event log and parses it offline, and prints the per-layer metrics.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

import eventlog  # noqa: E402
from gates import GATES_SF01, GATES_SF1, GateWorkload  # noqa: E402
from ingest import IngestWorkload  # noqa: E402
from phases import PhaseListener  # noqa: E402
from spans import Spans  # noqa: E402
from stats import failed_frac, tail  # noqa: E402


def metric_units() -> tuple[dict[str, str], dict[str, str]]:
    """``(end_to_end, per_layer)`` name -> unit, as BENCHMARK.json lists them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return tuple({m["name"]: m["unit"] for m in spec[k]} for k in ("end_to_end", "per_layer"))


def workloads():
    return {
        "gates_sf01": GateWorkload("gates_sf01", 0.1, GATES_SF01, pass_s=3.9),
        "gates_sf1": GateWorkload("gates_sf1", 1.0, GATES_SF1, pass_s=4.6),
        "ingest_arrivals": IngestWorkload(pass_s=1.7),
    }


def program_present() -> bool:
    return os.path.isfile(
        os.path.join(ROOT, "python_tool_setup_spark", "__init__.py")
    ) and os.path.isfile(os.path.join(ROOT, "tools", "make_fixtures.py"))


def configure_env(cache: str) -> None:
    """Shipped session defaults on every core; scratch space in the checkout."""
    local = os.path.join(cache, "spark-local")
    tmp = os.path.join(cache, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count())
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ.pop("SPARK_GRAFT_DRIVER_MEM", None)
    os.environ.pop("SPARK_MASTER", None)


def session_conf(cache: str, eventlog_dir: str | None) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # JVM temp files in the checkout; perf counters in memory, not /tmp
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(cache, 'tmp')} -XX:+PerfDisableSharedMem"
        ),
        "spark.sql.warehouse.dir": os.path.join(cache, "warehouse"),
    }
    if eventlog_dir:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file:" + eventlog_dir,
                "spark.eventLog.logStageExecutorMetrics": "true",
                # sample executor memory per task, not only per heartbeat
                "spark.executor.metrics.pollingInterval": "100ms",
                # one plain JSON-lines file per application, parsed offline
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.compress": "false",
            }
        )
    return conf


def shutdown(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def program_digest() -> str:
    """Hash of the engine, fixture generator and benchmark sources."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "tools", "make_fixtures.py")]
    for top in ("python_tool_setup_spark", "perfbench"):
        for d, _, names in os.walk(os.path.join(ROOT, top)):
            files += [os.path.join(d, n) for n in names if n.endswith(".py")]
    for path in sorted(files):
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def reference_key(args) -> dict:
    return {"seed": args.seed, "seconds": args.seconds, "program": program_digest()}


def untraced_reference(cache: str, args) -> float:
    """wall_s of an untraced run of this workload, seed, size and program.

    Taken from the checkout's latest untraced run when that run matches;
    otherwise one is run first (as a child process, before this run starts
    its JVM).
    """
    path = os.path.join(cache, "untraced", f"{args.workload}.json")
    ref = None
    if os.path.exists(path):
        with open(path) as f:
            ref = json.load(f)
    if ref is None or ref.get("key") != reference_key(args):
        subprocess.run(
            [
                sys.executable,
                os.path.abspath(__file__),
                "--workload",
                args.workload,
                "--seed",
                str(args.seed),
                "--seconds",
                str(args.seconds),
                "--trace",
                "0",
            ],
            check=True,
            stdout=subprocess.DEVNULL,
        )
        with open(path) as f:
            ref = json.load(f)
    return ref["wall_s"]


def run(args) -> dict:
    from python_tool_setup_spark.session import get_spark

    cache = os.path.join(ROOT, ".bench_cache")
    configure_env(cache)
    wl = workloads()[args.workload]
    passes = max(1, round(args.seconds / wl.pass_s))
    detail: dict = {"workload": args.workload, "seed": args.seed, "passes": passes}
    # before this run makes its inputs: the reference run makes its own
    reference_wall = untraced_reference(cache, args) if args.trace else None
    detail.update(wl.make_inputs(ROOT, cache, args.seed, passes))
    log_dir = None
    if args.trace:
        log_dir = os.path.join(cache, "eventlog", f"{args.workload}-{os.getpid()}")
        os.makedirs(log_dir, exist_ok=True)
    conf = session_conf(cache, log_dir)

    spans = Spans()
    t_setup = time.perf_counter()
    spark = get_spark(extra_conf=conf)
    session_start = time.perf_counter() - t_setup
    try:
        sc = spark.sparkContext
        wl.prepare(spark)
        wl.warm(spark)
        setup = time.perf_counter() - t_setup

        if args.trace:
            _wrap_layers(spans)
            listener = PhaseListener(spark)
            listener.start()
        ops = wl.ops(passes)
        per_pass = len(ops) // passes
        latencies, pass_walls, failed_ops = [], [], set()
        for p in range(passes):
            t_pass, traced_s = time.perf_counter(), 0.0
            for i in range(p * per_pass, (p + 1) * per_pass):
                t0 = time.perf_counter()
                try:
                    ok = wl.run_op(spark, f"timed.{i}", ops[i], spans, bool(args.trace))
                except Exception as exc:  # noqa: BLE001 — a failing op is a result
                    ok = False
                    print(f"op {i} ({ops[i]}) raised {type(exc).__name__}: {exc}", file=sys.stderr)
                latencies.append(time.perf_counter() - t0)
                if not ok:
                    failed_ops.add(i)
                if args.trace:
                    t0 = time.perf_counter()
                    wl.after_op(spark, i, spans)
                    traced_s += time.perf_counter() - t0
            pass_walls.append(time.perf_counter() - t_pass - traced_s)
        wall, timed_s = median(pass_walls), sum(pass_walls)
        if args.trace:
            spans.unwrap_all()
            for name, seconds in listener.stop().seconds.items():
                spans.add(name, seconds)

        jvm_pid = sc._jvm.java.lang.ProcessHandle.current().pid()
        peak_rss = vm_hwm_mb(jvm_pid) + vm_hwm_mb(os.getpid())

        # output checks, untimed, after the timed pass
        t0 = time.perf_counter()
        failed_ops |= wl.check(spark, ops)
        detail["check_s"] = time.perf_counter() - t0
        rows = sum(wl.op_rows(op) for op in ops)
        layer = wl.layer_metrics() if args.trace else {}
        app_id = sc.applicationId
    finally:
        shutdown(spark)

    tail_v, tail_pct, tail_beyond = tail(latencies)
    failed = len(failed_ops)
    detail.update(
        {
            "ops": len(ops),
            "failed": failed,
            "failed_frac": failed_frac(len(ops), failed),
            "failed_gates": getattr(wl, "failed_gates", {}),
            "gate_check_s": getattr(wl, "check_s", {}),
            "mismatch": getattr(wl, "mismatch", None),
            "pass_s": pass_walls,
            "op_s": [round(x, 4) for x in latencies],
            "tail_percentile": tail_pct,
            "tail_ops_beyond": tail_beyond,
            "session_start_s": session_start,
            "rows": rows,
            "peak_rss_mb": peak_rss,
        }
    )
    result = {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
    }
    e2e_units, layer_units = metric_units()
    if not args.trace:
        metrics = {
            "setup_s": setup,
            "wall_s": wall,
            "op_p50_s": median(latencies),
            "op_tail_s": tail_v,
            "rows_per_s": rows / passes / wall,
        }
        os.makedirs(os.path.join(cache, "untraced"), exist_ok=True)
        with open(os.path.join(cache, "untraced", f"{args.workload}.json"), "w") as f:
            json.dump({"wall_s": wall, "key": reference_key(args)}, f)
        units = e2e_units
    else:
        metrics = dict.fromkeys(layer_units, 0.0)
        metrics.update(layer)
        metrics.update(
            _traced_metrics(
                log_dir, app_id, spans, wl, len(ops), timed_s, session_start
            )
        )
        metrics["process.peak_rss_mb"] = peak_rss
        metrics["trace.wall_s"] = wall
        metrics["trace.overhead_s"] = wall - reference_wall
        units = layer_units
    unlisted = set(metrics) - set(units)
    if unlisted:
        raise RuntimeError(f"metrics missing from BENCHMARK.json: {sorted(unlisted)}")
    result["metrics"] = {k: {"value": metrics[k], "unit": u} for k, u in units.items()}
    print(json.dumps(detail, default=str))
    return result


def _wrap_layers(spans: Spans) -> None:
    """Time the ingestion commit path at the names its callers look up."""
    import python_tool_setup_spark.ingestion.base as base
    import python_tool_setup_spark.streaming.autoloader as autoloader

    spans.wrap(base, "replace_dir", "sources.fs.replace_dir")
    spans.wrap(autoloader, "load_or_evolve_schema", "streaming.schema_infer")


def _traced_metrics(log_dir, app_id, spans, wl, n_ops, timed_s, start_s):
    with open(os.path.join(log_dir, app_id)) as f:
        per_group, peak_heap = eventlog.parse(f)
    shutil.rmtree(log_dir)
    timed = eventlog.total(per_group, lambda g: g.startswith("timed."))
    build = eventlog.total(
        per_group, lambda g: g.startswith("timed.") and g.endswith(".build")
    )
    s = spans.seconds
    covered = sum(s.get(name, 0.0) for name in wl.top_spans) + s.get("trace.catalyst", 0.0)
    return {
        "session.start_s": start_s,
        "queries.build_s": s.get("queries.build", 0.0),
        "queries.build_jobs": build["jobs"],
        "catalyst.analysis_s": s.get("catalyst.analysis", 0.0),
        "catalyst.optimization_s": s.get("catalyst.optimization", 0.0),
        "catalyst.planning_s": s.get("catalyst.planning", 0.0),
        "spark.exec_s": s.get("spark.exec", 0.0),
        "scheduler.jobs": timed["jobs"],
        "scheduler.stages": timed["stages"],
        "scheduler.tasks": timed["tasks"],
        "scheduler.jobs_per_op": timed["jobs"] / n_ops,
        "executor.run_s": timed["run_ms"] / 1e3,
        "executor.cpu_s": timed["cpu_ns"] / 1e9,
        "executor.gc_s": timed["gc_ms"] / 1e3,
        "executor.input_bytes": timed["input_bytes"],
        "executor.shuffle_read_bytes": timed["shuffle_read_bytes"],
        "executor.shuffle_write_bytes": timed["shuffle_write_bytes"],
        "executor.spill_bytes": timed["spill_bytes"],
        "executor.slot_busy_frac": timed["task_ms"] / 1e3 / (timed_s * os.cpu_count()),
        "executor.peak_heap_mb": peak_heap / 2**20,
        "ingestion.stream_s": s.get("ingestion.stream", 0.0),
        "ingestion.merge_s": s.get("ingestion.merge", 0.0),
        "ingestion.read_back_s": s.get("ingestion.read_back", 0.0),
        "streaming.schema_infer_s": s.get("streaming.schema_infer", 0.0),
        "sources.fs.replace_dir_s": s.get("sources.fs.replace_dir", 0.0),
        "sources.fs.replace_dir_calls": spans.calls.get("sources.fs.replace_dir", 0),
        "bench.overhead_s": timed_s - covered,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads()))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not program_present():
        print(
            f"perfbench: the engine sources are not under {ROOT}; run from a "
            "checkout of the repository",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, ROOT)
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
