"""Benchmark entry point.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 10 --trace 0

Runs one workload in one process on ``local[<nproc>]`` with one
closed-loop client: set-up (which also warms the JVM), then timed
passes until ``--seconds`` is spent (at least one). ``--trace 1`` adds one traced pass and reports per-layer
metrics instead of end-to-end ones. Every pass's output is checked
outside the timed region. The last stdout line is one JSON object
(``correct``, ``attempted``, ``failed``, ``metrics``); the exit code
is non-zero when an output is wrong. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

import sparkstats
import tracer as tracing
from workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HEAP = "2g"


def _stamp_commit() -> str:
    """HEAD of the checkout, read from .git without running git (the
    benchmark also runs from exported trees that have no .git)."""
    try:
        with open(os.path.join(ROOT, ".git", "HEAD")) as f:
            head = f.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        try:
            with open(os.path.join(ROOT, ".git", ref)) as f:
                return f.read().strip()
        except FileNotFoundError:
            with open(os.path.join(ROOT, ".git", "packed-refs")) as f:
                for line in f:
                    if line.rstrip().endswith(" " + ref):
                        return line.split()[0]
    except OSError:
        pass
    return "unknown"


def _spark_conf(work: str) -> dict[str, str]:
    return {
        # A fixed heap (initial = max) keeps peak RSS a property of the
        # program, not of how far the JVM chose to grow an 8 GB heap.
        "spark.driver.memory": HEAP,
        # a pass runs hundreds of jobs; keep all of them readable
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Xms{HEAP} -Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
        ),
    }


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else float("nan")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if os.environ.get("SPARK_GRAFT_AB_CONF"):
        # session.get_spark injects it as Spark config: a different program
        print("SPARK_GRAFT_AB_CONF is set; refusing to run", file=sys.stderr)
        return 2

    # a terminated run still cleans up and stops its JVM
    signal.signal(signal.SIGTERM, lambda signum, _frame: sys.exit(128 + signum))
    sys.path.insert(0, ROOT)
    import efiche_data_pipeline_spark  # noqa: F401 - fails fast outside a checkout

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    scratch = os.path.join(ROOT, ".perfbench_tmp")
    work = os.path.join(scratch, f"run-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    try:
        result = _run(args, work, WORKLOADS[args.workload])
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if os.path.isdir(scratch) and not os.listdir(scratch):
            os.rmdir(scratch)
    if os.path.exists(work):
        print(f"# temp dir {work} outlived the run", file=sys.stderr)
        result["correct"] = False
    print(json.dumps(result))
    return 0 if result["correct"] else 1


def _run(args, work, workload_cls) -> dict:
    from efiche_data_pipeline_spark.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    stamp = {
        "workload": args.workload,
        "seed": args.seed,
        "commit": _stamp_commit(),
        "nproc": cpus,
        "spark_graft_env": {k: v for k, v in os.environ.items() if k.startswith("SPARK_GRAFT_")},
        "python": platform.python_version(),
        "loadavg_start": os.getloadavg(),
    }

    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf=_spark_conf(work),
    )
    session_s = time.perf_counter() - t0
    sc = spark.sparkContext
    stamp["spark"] = spark.version
    stamp["java"] = sc._jvm.System.getProperty("java.version")
    pid = sparkstats.jvm_pid(sc)
    null = tracing.NullTracer()
    wl = workload_cls(spark, args.seed)

    try:
        t = time.perf_counter()
        wl.setup(os.path.join(work, "setup"))
        setup_s = time.perf_counter() - t

        passes = []  # (label, PassResult)

        def one_pass(label, tr=null):
            j0 = sparkstats.job_count(sc)
            c0 = sparkstats.cpu_seconds(pid)
            start_epoch = time.time()
            res = wl.run_pass(os.path.join(work, f"pass{len(passes)}"), tr)
            res.extra["cpu_s"] = sparkstats.cpu_seconds(pid) - c0
            res.extra["jobs"] = sparkstats.job_count(sc) - j0
            res.extra["first_job"] = j0
            res.extra["start_epoch"] = start_epoch
            res.extra["stored_mb"] = tracing.dir_stats(res.store_root)[1] / sparkstats.MB
            res.extra["pins_held"] = sc._jsc.getPersistentRDDs().size()
            passes.append((label, res))
            return res

        deadline = time.perf_counter() + args.seconds
        timed = [one_pass("timed")]
        while time.perf_counter() + timed[-1].wall_s <= deadline:
            timed.append(one_pass("timed"))
        peak_rss = sparkstats.peak_rss_mb(pid)

        layers = None
        if args.trace:
            # The overhead baseline is the timed pass before it. The
            # traced pass runs in a warmer JVM, so the reported
            # overhead is a lower bound.
            baseline = timed[-1]
            tr = tracing.Tracer(sc)
            tr.install()
            try:
                traced = one_pass("traced", tr)
            finally:
                tr.uninstall()
            layers = _layer_metrics(sc, tr, traced, baseline, cpus)

        t_check = time.perf_counter()
        failed_ops, attempted = [], 0
        for label, res in passes:
            attempted += len(res.ops)
            failed_ops += [f"{label}:{name}" for name in wl.check(res)]
            for op in res.ops:
                if op.error:
                    print(f"# {label} {op.name} raised {op.error}", file=sys.stderr)
        check_s = time.perf_counter() - t_check
    finally:
        spark.stop()
        _stop_jvm(sc)

    stamp["loadavg_end"] = os.getloadavg()
    stamp["setup_s"] = round(setup_s, 3)
    stamp["session_start_s"] = round(session_s, 3)
    stamp["check_s"] = round(check_s, 3)
    stamp["passes"] = [
        {
            "kind": label,
            "wall_s": round(res.wall_s, 3),
            "jobs": res.extra["jobs"],
            "pins_held_after": res.extra["pins_held"],
            "ops_s": [[op.name, round(op.seconds, 3)] for op in res.ops],
            "latencies_s": [round(x, 3) for x in res.latencies],
        }
        for label, res in passes
    ]
    print("# env " + json.dumps(stamp))

    lat = [x for res in timed for x in res.latencies]
    metrics = {
        "setup_s": (session_s + setup_s, "s"),
        "wall_s": (_median([r.wall_s for r in timed]), "s"),
        "op_p50_s": (_median(lat), "s"),
        "cpu_s": (_median([r.extra["cpu_s"] for r in timed]), "s"),
        "peak_rss_mb": (peak_rss, "MB"),
        "stored_mb": (_median([r.extra["stored_mb"] for r in timed]), "MB"),
    }
    fail_ratio = len(failed_ops) / attempted
    for name, (value, unit) in metrics.items():
        print(f"# {args.workload} {name} = {value:.4f} {unit}")
    # Printed, not gated: the median of a few unlike steps (intake)
    # jumps between steps from run to run.
    del metrics["op_p50_s"]
    print(f"# {args.workload} fail_ratio = {fail_ratio:.4f} ({len(failed_ops)}/{attempted})")
    print(f"# {args.workload} op samples = {len(lat)} over {len(timed)} timed pass(es)")
    if failed_ops:
        print(f"# wrong or failed: {failed_ops}")
    if layers is not None:
        for name, (value, unit) in layers.items():
            print(f"# {args.workload} {name} = {value:.4f} {unit}")
        metrics = layers

    return {
        "correct": not failed_ops,
        "attempted": attempted,
        "failed": len(failed_ops),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def _stop_jvm(sc) -> None:
    """``spark.stop()`` leaves the gateway JVM running until Python
    exits; end it here and wait for it."""
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _layer_metrics(sc, tr, traced, baseline, cpus) -> dict:
    first = traced.extra["first_job"]
    jobs, stages = sparkstats.read_jobs(sc, first, first + traced.extra["jobs"])
    return tracing.layer_metrics(
        tr, jobs, stages, traced, cpus,
        overhead_s=traced.wall_s - baseline.wall_s,
        pins_held=traced.extra["pins_held"],
    )


if __name__ == "__main__":
    sys.exit(main())
