"""The repository benchmark: one workload per run, in a fresh process.

    python3 perfbench/run.py --workload service_session --seed 1 --seconds 20 --trace 0

Run from the repository root. The run generates its inputs from the seed
under ``.perfbench_work/`` (deleted at exit), starts Spark on
``local[N]`` with N no larger than the CPUs this process may use, warms
up, then replays whole rounds of the same ops until ``--seconds`` have
passed, checking every output. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` --
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Lines before it starting with ``#`` carry the host record
and, in traced runs, the per-span detail.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import gen, host  # noqa: E402

# The warm-up runs inside setup_s: one service round, or two corpus passes
# at once. The cold ops carry most of the warm-up: on a 4-core host round
# times fall 34 -> 16 -> 13 s (service) and 30 -> 12 -> 10 s (corpus).
# Longer warm-up does not fit the run budget (48 runs in 3420 s), so the
# timed phase runs somewhat above the fully warm latency -- the same way in
# every run.
END_TO_END = [("setup_s", "s"), ("op_p50_s", "s"), ("items_per_s", "1/s"), ("peak_rss_mb", "MB")]


def _spark_env(work: str) -> int:
    """Spark settings for a benchmark run; returns the core count N."""
    cpus = host.cpus_in_use()
    n = min(int(os.environ.get("SPARK_GRAFT_CPUS", cpus)), cpus)
    os.environ["SPARK_GRAFT_CPUS"] = str(n)
    # a bounded heap keeps peak RSS a property of the workload, not of how
    # long the collector waited
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        # the traced run reads every job of the run back from the status store
        "--conf spark.ui.retainedJobs=100000",
        "--conf spark.ui.retainedStages=100000",
        f"--driver-java-options -Djava.io.tmpdir={tmp}",
        "pyspark-shell",
    ])
    return n


def _stop_spark(spark) -> None:
    """Stop Spark and wait until the JVM and its Python workers are gone."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    kids = host.descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    # Python workers are the JVM's children; they end once it has gone
    deadline = time.time() + 15
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                continue
            while os.path.exists(f"/proc/{pid}") and time.time() < deadline + 5:
                time.sleep(0.05)


def run(args) -> dict:
    try:
        import dataforge_spark
    except ImportError as e:
        raise SystemExit(f"perfbench: dataforge_spark is not importable from {ROOT}: {e}")
    if not os.path.abspath(dataforge_spark.__file__).startswith(ROOT + os.sep):
        raise SystemExit(f"perfbench: dataforge_spark comes from {dataforge_spark.__file__}, not {ROOT}")

    from perfbench.workloads import WORKLOADS

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return _run_in(args, work, WORKLOADS[args.workload])
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


def _run_in(args, work: str, workload_cls) -> dict:
    t = time.perf_counter()
    host_start = host.snapshot()
    n_cores = _spark_env(work)
    excluded_s = time.perf_counter() - t  # the host record is not set-up
    t = time.perf_counter()
    made = gen.generate(args.workload, args.seed, os.path.join(work, "in"))
    gen_s = time.perf_counter() - t
    excluded_s += gen_s  # nor is input generation

    with host.RssSampler() as rss:
        from dataforge_spark import get_spark

        t = time.perf_counter()
        spark = get_spark("perfbench")
        session_start_s = time.perf_counter() - t
        tracer = None
        if args.trace:
            from perfbench.trace import Tracer

            tracer = Tracer(spark.sparkContext)
            tracer.install()
        wl = None
        try:
            wl = workload_cls(spark, made, work, tracer=tracer)
            excluded_s += wl.reference_s
            t = time.perf_counter()
            warm_ops = wl.warmup()
            warmup_s = time.perf_counter() - t
            t0 = time.perf_counter()
            setup_s = t0 - T_START - excluded_s
            ops = []
            rounds_s = 0.0
            while rounds_s < args.seconds:
                t = time.perf_counter()
                ops += wl.round()
                rounds_s += time.perf_counter() - t
            t1 = time.perf_counter()
            for o in warm_ops + ops:
                o.finish()
            problems = [p for o in warm_ops for p in o.problems]
            layer, detail = {}, {}
            if tracer is not None:
                from perfbench.trace import layer_metrics

                layer, detail = layer_metrics(
                    tracer, (t0, t1), wl.op_span, getattr(wl, "requests", [])
                )
                layer["session.start_s"] = session_start_s
                dropped = getattr(wl, "docs_dropped", [])
                layer["dedup.docs_dropped"] = statistics.mean(dropped) if dropped else 0.0
        finally:
            if wl is not None:
                wl.close()
            _stop_spark(spark)

    failed = [o for o in ops if o.problems]
    for o in failed[:5]:
        print(f"# failed op: {o.problems[:3]}", file=sys.stderr)
    for p in problems[:5]:
        print(f"# warm-up problem: {p}", file=sys.stderr)
    # median per kind of op, averaged over the kinds: each service config
    # counts alike however the rotation falls into the timed phase
    by_kind: dict[str, list[float]] = {}
    for o in ops:
        if o.kind != "lost":
            by_kind.setdefault(o.kind, []).append(o.latency_s)
    metrics = {
        "setup_s": setup_s,
        "op_p50_s": statistics.mean([statistics.median(v) for v in by_kind.values()] or [0.0]),
        "items_per_s": sum(o.items for o in ops if not o.problems) / rounds_s,
        "peak_rss_mb": rss.peak_bytes / 2**20,
    }
    host_rec = {
        "workload": args.workload, "seed": args.seed, "spark_master": f"local[{n_cores}]",
        "cpus_in_use": host.cpus_in_use(), "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "start": host_start, "end": host.snapshot(), "warmup_s": round(warmup_s, 3),
        "input_gen_s": round(gen_s, 3), "session_start_s": round(session_start_s, 3),
        "timed_s": round(rounds_s, 3), "ops": len(ops),
        "op_latencies_s": [[o.kind, round(o.latency_s, 3)] for o in ops],
    }
    print("# host " + json.dumps(host_rec))
    if tracer is not None:
        print("# spans " + json.dumps({k: {a: round(b, 4) for a, b in v.items()} for k, v in detail.items()}))
        from perfbench.trace import per_layer_metric_names

        out = {n: {"value": layer.get(n, 0.0), "unit": u} for n, u in per_layer_metric_names()}
    else:
        out = {n: {"value": metrics[n], "unit": u} for n, u in END_TO_END}
    return {
        "correct": not failed and not problems,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": out,
    }


def _abort_after(seconds: float, work_root: str) -> None:
    """Watchdog: a run that hangs is stopped, with its processes, before
    the 180 s a run may take."""
    import threading

    def abort() -> None:
        print(f"perfbench: run exceeded {seconds:.0f} s; stopping", file=sys.stderr, flush=True)
        for pid in host.descendants(os.getpid()):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        shutil.rmtree(work_root, ignore_errors=True)
        os._exit(3)

    timer = threading.Timer(seconds, abort)
    timer.daemon = True
    timer.start()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="dataforge_spark benchmark (one workload per run)")
    ap.add_argument("--workload", required=True, choices=sorted(gen.SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True, help="minimum length of the timed phase")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    _abort_after(170, os.path.join(ROOT, ".perfbench_work"))
    result = run(args)
    sys.stdout.flush()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
