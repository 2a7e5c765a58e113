"""Benchmark for cuphic_spark: one workload, one run, one JSON result.

    python3 perfbench/run.py --workload extract --seed 1 --seconds 5 --trace 0

Run from the repository root. Spark runs at local[N], N = the CPUs this
process may use. The run:

1. makes its inputs from --seed and repeats the workload's set-up
   (``setup_s`` is the median repetition);
2. runs timed iterations until --seconds have been measured (and at
   least the workload's minimum count);
3. checks every output outside the timed regions;
4. prints a report line (environment, checks, per-iteration figures,
   ``failed_frac``) and, last, the result line
   ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` turns on
Spark's event log and the per-span /proc CPU split, and reports the
per-layer ledger instead. Everything the run writes lives under
``.perfbench/`` in the repository root and is removed at exit. A missing
or empty input ends the run with a non-zero exit code and no result.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shlex
import shutil
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import ledger  # noqa: E402
import metrics  # noqa: E402
import procstat  # noqa: E402

JVM_HEAP = "2g"


def parse_args(argv):
    import workloads

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def spark_env(work: Path, event_dir: Path | None) -> dict:
    """Environment for the Spark JVM and its Python workers: scratch
    space inside ``work``, the repository on the workers' path, and the
    event log when tracing."""
    tmp = work / "tmp"
    local = work / "local"
    for d in (tmp, local):
        d.mkdir(parents=True, exist_ok=True)
    # the whole heap committed and touched at start, so its resident size
    # does not depend on how far GC has grown into it when RSS is sampled
    java_opts = f"-Xms{JVM_HEAP} -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp}"
    submit = ["--driver-java-options", java_opts,
              "--conf", f"spark.local.dir={local}"]
    if event_dir is not None:
        event_dir.mkdir(parents=True, exist_ok=True)
        submit += ["--conf", "spark.eventLog.enabled=true",
                   "--conf", f"spark.eventLog.dir=file://{event_dir}",
                   "--conf", "spark.eventLog.compress=false",
                   "--conf", "spark.eventLog.rolling.enabled=false"]
    return {
        "PYTHONPATH": os.pathsep.join(
            [str(ROOT)] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
        "TMPDIR": str(tmp),
        "SPARK_LOCAL_DIRS": str(local),
        "CUPHIC_WAREHOUSE": str(work / "warehouse"),
        "CUPHIC_DRIVER_MEM": JVM_HEAP,
        "PYSPARK_SUBMIT_ARGS": shlex.join(submit + ["pyspark-shell"]),
    }


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for every process this
    run started to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if spark is not None:
        spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    for sig in (0, 9):  # wait for the pyspark daemon and workers; kill stragglers
        if sig:
            for pid in procstat.child_pids():
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        deadline = time.monotonic() + 30
        while procstat.child_pids() and time.monotonic() < deadline:
            time.sleep(0.1)


def loadavg() -> float:
    return os.getloadavg()[0]


def end_to_end(setup_times, iters) -> dict:
    return {
        "setup_s": ledger.median(setup_times),
        "pages_per_s": ledger.median(it["pages"] / it["wall_s"] for it in iters),
        "cpu_ms_per_page": ledger.median(1e3 * it["cpu_s"] / it["pages"] for it in iters),
        "peak_rss_mb": max(it["peak_rss_bytes"] for it in iters) / 2**20,
        "bytes_written_per_page": (sum(it["bytes_written"] for it in iters)
                                   / sum(it["pages"] for it in iters)),
    }


def per_layer(tracer, log, counters, trace_pages_per_s) -> tuple[dict, float]:
    """Per-layer metrics from the spans, the event log and the
    workload's counters. Returns the metrics and the share of executor
    CPU the spans account for."""
    spans = tracer.spans
    span_ledgers = ledger.attribute(log, spans)
    total_cpu = ledger.total_executor_cpu_s(log)
    attributed = sum(led.executor_cpu_s for led in span_ledgers.values())
    out = {name: 0.0 for name, _u, _b in metrics.PER_LAYER}
    for name, phase in metrics.LAYER_SPANS:
        per_iter: dict[int, dict] = {}
        for idx, sp in enumerate(spans):
            if sp.name != name or sp.phase != phase:
                continue
            led = span_ledgers.get(idx, ledger.JobLedger())
            row = {"wall_s": sp.wall_s, "cpu_s": sp.cpu.total_s,
                   "jvm_cpu_s": sp.cpu.jvm_s, "py_cpu_s": sp.cpu.py_s,
                   **{f: getattr(led, f) for f in ledger.JobLedger.FIELDS},
                   **sp.counters}
            per_iter[sp.iteration] = row
        if not per_iter:
            continue
        rows = list(per_iter.values())
        for key in rows[0]:
            if f"{name}.{key}" in out:
                out[f"{name}.{key}"] = ledger.median(r[key] for r in rows)
        out[f"{name}.wall_spread"] = ledger.spread(r["wall_s"] for r in rows)
        out[f"{name}.cpu_spread"] = ledger.spread(r["cpu_s"] for r in rows)
    out.update(counters)
    attributed_frac = attributed / total_cpu if total_cpu else 0.0
    out["trace.pages_per_s"] = trace_pages_per_s
    out["ledger.executor_cpu_total_s"] = total_cpu
    out["ledger.executor_cpu_attributed_frac"] = attributed_frac
    return out, attributed_frac


def bench(args, work: Path) -> tuple[dict, dict]:
    import workloads

    nproc = len(os.sched_getaffinity(0))
    event_dir = work / "eventlog" if args.trace else None
    os.environ.update(spark_env(work, event_dir))
    sys.path.insert(0, str(ROOT))

    import pyspark

    from cuphic_spark.session import get_spark

    report = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "nproc": nproc, "pyspark": pyspark.__version__,
              "load_before": loadavg()}
    spark = None
    try:
        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{args.workload}", cores=nproc)
        report["session_start_s"] = time.perf_counter() - t0
        sc = spark.sparkContext
        report["master"] = sc.master
        if sc.master != f"local[{nproc}]":
            raise RuntimeError(f"expected master local[{nproc}], got {sc.master}")
        report["java"] = sc._jvm.System.getProperty("java.version")

        tracer = ledger.Tracer(cpu=bool(args.trace))
        wl = workloads.make(args.workload, workloads.Ctx(
            spark=spark, work=str(work), seed=args.seed, nproc=nproc, tracer=tracer))
        setup_times = []
        for rep in range(wl.SETUP_REPS):
            t = time.perf_counter()
            wl.setup(rep)
            setup_times.append(time.perf_counter() - t)
        t = time.perf_counter()
        wl.warmup()
        report["warmup_s"] = time.perf_counter() - t

        # a traced run takes two iterations or more, so every span has a spread
        min_iters = max(wl.MIN_ITERS, 2) if args.trace else wl.MIN_ITERS
        iters, measured = [], 0.0
        while len(iters) < min_iters or measured < args.seconds:
            i = len(iters)
            wl.prepare(i)
            load0 = loadavg()
            c0 = procstat.tree_cpu()
            with procstat.RssSampler() as rss:
                t = time.perf_counter()
                pages = wl.run(i)
                wall = time.perf_counter() - t
            cpu = procstat.tree_cpu() - c0
            measured += wall
            iters.append({"pages": pages, "wall_s": wall, "cpu_s": cpu.total_s,
                          "jvm_cpu_s": cpu.jvm_s, "py_cpu_s": cpu.py_s,
                          "peak_rss_bytes": rss.peak_bytes,
                          "bytes_written": wl.bytes_written(i),
                          "load": [load0, loadavg()]})
        t = time.perf_counter()
        checks = wl.checks()
        report["checks_s"] = time.perf_counter() - t
        counters = wl.counters() if args.trace else {}
    finally:
        t = time.perf_counter()
        stop_spark(spark)
        report["stop_s"] = time.perf_counter() - t
    report["load_after"] = loadavg()
    report["setup_s"] = setup_times
    report["iterations"] = iters

    attempted = sum(c.attempted for c in checks)
    failed = sum(c.failed for c in checks)
    report["checks"] = {"attempted": attempted, "failed": failed,
                        "failures": [vars(c) for c in checks if c.failed]}
    e2e = end_to_end(setup_times, iters)
    if args.trace:
        logs = glob.glob(str(event_dir / "*"))
        if len(logs) != 1:
            raise RuntimeError(f"expected one event log in {event_dir}, found {logs}")
        values, frac = per_layer(tracer, ledger.read_event_log(logs[0]),
                                 counters, e2e["pages_per_s"])
        ok = abs(1.0 - frac) <= 0.10
        attempted += 1
        failed += int(not ok)
        report["ledger_check"] = {"attributed_frac": frac, "passed": ok}
        declared = metrics.PER_LAYER
    else:
        values = e2e
        declared = metrics.END_TO_END
    report["failed_frac"] = {"value": failed / attempted, "unit": "ratio"}
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {name: {"value": float(values[name]), "unit": unit}
                    for name, unit, _better in declared},
    }
    return report, result


def main(argv=None) -> int:
    if not (ROOT / "cuphic_spark" / "__init__.py").is_file():
        print(f"perfbench: no cuphic_spark package under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    args = parse_args(argv)
    work = ROOT / ".perfbench" / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    import workloads

    try:
        report, result = bench(args, work)
    except workloads.InputError as e:
        print(f"perfbench: input error: {e}", file=sys.stderr)
        return 3
    except Exception:  # noqa: BLE001 - report and fail the run
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()  # only if no other run is using it
        except OSError:
            pass
    print(json.dumps({"report": report}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
