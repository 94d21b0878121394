"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload {produce,serve} --seed N \
        --seconds S --trace {0,1} [--spans-out FILE]

Works from any directory: the repository root is this file's parent's
parent.  All scratch data (inputs, published datasets, Spark local and
temporary dirs, the event log) lives in one directory under
``.perfbench_work/`` in that root and is deleted before exit.

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json;
``--trace 1`` records spans and Spark's event log and prints the
per-layer metrics.  The last line of standard output is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import json
import os
import shlex
import shutil
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)

E2E_UNITS = {
    "setup_s": "s",
    "cpu_ms_per_op": "ms",
    "public_bytes_per_pair": "B",
}


def since_process_start() -> float:
    """Seconds since this process was created, interpreter start-up
    included (``/proc/self/stat`` field 22 is the start time in ticks
    since boot, on the clock that CLOCK_BOOTTIME reads)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> list[int]:
    """The machine-wide CPU time counters of ``/proc/stat``."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests (steal)
    between two ``cpu_ticks`` readings: on a shared host this is the
    first thing to check when a run reads slow."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(sum(d), 1)


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def wait_gone(pids: list[int], timeout: float) -> None:
    deadline = time.monotonic() + timeout
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    if fh.read().rsplit(")", 1)[1].split()[0] == "Z":
                        break
            except OSError:
                break
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}") and time.monotonic() >= deadline:
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


def configure_environment(work: str, trace: bool) -> str:
    """Point every scratch location of Python, the JVM and Spark into
    ``work`` and, when tracing, switch Spark's event log on from outside
    the program.  Returns the event-log directory."""
    tmp, local, events = (os.path.join(work, d) for d in ("tmp", "local", "events"))
    for d in (tmp, local, events):
        os.makedirs(d)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # Python workers import the program and this benchmark's router
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, BENCH] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    conf = [
        "--driver-java-options", f"-Djava.io.tmpdir={tmp}",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
    ]
    if trace:
        conf += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{events}",
            "--conf", "spark.eventLog.compress=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(shlex.quote(c) for c in conf + ["pyspark-shell"])
    import tempfile

    tempfile.tempdir = None
    return events


def stop_spark(spark) -> None:
    """Stop the session, end the JVM (it exits when its stdin closes)
    and wait for it and every process it started."""
    from pyspark import SparkContext
    from workloads import descendants

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    kids = descendants(os.getpid())
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    wait_gone(kids, timeout=30)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=["produce", "serve"])
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--spans-out", default=None, help="write the recorded spans as JSON here")
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "opentimes_spark")):
        print(f"no opentimes_spark package under {ROOT}: nothing to benchmark", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, BENCH]
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    events = configure_environment(work, bool(args.trace))
    try:
        result = run(args, work, events)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    for line in result.pop("report"):
        print(line)
    print(json.dumps(result))
    return 0


def run(args, work: str, events: str) -> dict:
    import workloads as wl
    from tracing import Tracer

    from opentimes_spark.session import get_spark

    ticks0 = cpu_ticks()
    tracer = Tracer(run_id=f"{args.workload}-{args.seed}-{os.getpid()}") if args.trace else None
    span = tracer.span if tracer else (lambda name: contextlib.nullcontext())
    t0 = time.perf_counter()
    with span("session.start"):
        spark = get_spark("perfbench")
    start_s = time.perf_counter() - t0
    if tracer:
        tracer.spark = spark
    try:
        t0 = time.perf_counter()
        with span("session.warmup"):
            spark.range(1).count()
        warmup_s = time.perf_counter() - t0
        w = wl.Workload(spark, work, args.seed, args.seconds, tracer)
        with span("setup"):
            lookups = wl.serve_setup(w) if args.workload == "serve" else None
            # every measured window starts from a collected heap
            gc.collect()
            spark.sparkContext._jvm.System.gc()
        setup_s = since_process_start()
        if args.trace:
            if args.workload == "produce":
                m, times = wl.produce_traced(w)
                lookups = wl.Lookups(w, times)
                lookups.warm_up(wl.TRACE_LOOKUPS_PER_KIND)
            else:
                m = wl.serve_traced(w, lookups)
        else:
            m = wl.produce_measure(w) if args.workload == "produce" else wl.serve_measure(w, lookups)
        rss = peak_rss_mb(spark)
        jvm_gc_s = tracer.jvm_gc_seconds() if tracer else None
    finally:
        stop_spark(spark)
    steal = steal_share(ticks0, cpu_ticks())

    detail = {k: m.pop(k) for k in list(m) if k.startswith("_")}
    if args.trace:
        from eventlog import reduce_event_log, sum_groups

        totals = reduce_event_log(events)
        m.update(wl.lookup_counters(w, lookups, totals))
        for name in ("produce.matrix", "produce.write_times"):
            spans = tracer.named(name)
            c = sum_groups(totals, [s.id for s in spans])
            for k in ("jobs", "tasks", "run_s", "shuffle_write_bytes", "spill_bytes"):
                m[f"{name}.{k}"] = c[k] / len(spans)
            m[f"{name}.gc_s"] = sum(s.gc_s for s in spans) / len(spans)
        m["jvm.gc_s"] = jvm_gc_s
        m["session.start_s"] = start_s
        m["session.warmup_s"] = warmup_s
        m["traced.setup_s"] = setup_s
        m["peak_rss_mb"] = rss
        if args.spans_out:
            tracer.dump(args.spans_out)
        units = per_layer_units()
    else:
        m["setup_s"] = setup_s
        detail["_peak_rss_mb"] = rss
        units = E2E_UNITS
    missing = set(units) - set(m)
    if missing:
        raise RuntimeError(f"metrics not measured: {sorted(missing)}")
    failed = len(w.failures)
    report = [f"workload {args.workload} seed {args.seed} trace {args.trace}"]
    report += [f"  {k} = {m[k]:.6g} {units[k]}" for k in sorted(units)]
    report += workload_report(args.workload, m, detail, w)
    report.append(f"  host CPU steal during the run = {steal:.1%}")
    return {
        "report": report,
        "correct": failed == 0,
        "attempted": w.attempted,
        "failed": failed,
        "metrics": {k: {"value": m[k], "unit": units[k]} for k in units},
    }


def peak_rss_mb(spark) -> float:
    """Peak resident memory (VmHWM) of this driver process plus the JVM."""
    from pyspark import SparkContext

    return vm_hwm_mb(os.getpid()) + vm_hwm_mb(SparkContext._gateway.proc.pid)


def per_layer_units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}


def workload_report(workload: str, m: dict, detail: dict, w) -> list[str]:
    """This workload's figures under its own names, for people."""
    lines = [f"  error_rate = {len(w.failures) / max(w.attempted, 1):.6g} ({len(w.failures)} of {w.attempted})"]
    lines += [f"  failure: {f}" for f in w.failures[:10]]
    if "_op_p50_ms" not in detail:
        return lines
    lines.append(f"  op_p50_ms = {detail['_op_p50_ms']:.6g} ms (wall clock)")
    if workload == "produce":
        lines.append(f"  produce_pairs_per_s = {detail['_items_per_s']:.6g} 1/s (median of {detail['_passes']} passes)")
    else:
        lines.append(f"  lookups_per_s = {detail['_items_per_s']:.6g} 1/s")
        for kind in ("origin", "dest"):
            r = detail[f"_{kind}"]
            for k, v in r.items():
                if k != "n":
                    lines.append(f"  lookup_{kind}_{k} = {v:.6g} ms (n={r['n']})")
        lines.append(f"  origins whose rows span two row groups = {detail['_shared']}")
    lines.append(f"  public_bytes_per_pair = {m['public_bytes_per_pair']:.6g} B")
    lines.append(f"  peak_rss_mb = {detail['_peak_rss_mb']:.6g} MB (driver Python + JVM VmHWM)")
    return lines


if __name__ == "__main__":
    raise SystemExit(main())
