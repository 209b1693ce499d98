"""Benchmark entry point.

    python3 perfbench/run.py --workload {cdc_tail,registry} --seed N \
        --seconds S --trace {0,1} [--size {full,toy}]

Run from the root of a checkout. The program is imported from that checkout's
source; nothing is installed. The last line of standard output is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``; the line before it is
a ``{"record": ...}`` object with the settings, workload properties, sample
counts and host noise of the run.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` reports the
per-layer metrics: the run is traced (spans, Spark job groups, event log) and
then measured again untraced in a fresh SparkContext on the same JVM, which
gives ``trace.overhead_pct``. Its spans, event log and result are kept under
``.perfbench_out/trace/<workload>/`` for ``perfbench/report.py``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402
import tracing  # noqa: E402

E2E = {
    "setup_s": "s",
    "step_p50_s": "s",
    "work_per_s": "1/s",
}
TRACE_LAYERS = ["bronze", "silver", "gold", "registry"]
_TRACE_UNITS = {"self_s": "s", "cpu_s": "s", "gc_s": "s", "shuffle_bytes": "bytes",
                "spill_bytes": "bytes", "tasks": "count"}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric a traced run prints, with its unit. A layer a
    workload bypasses reports 0 there."""
    from workloads import REGISTRY_MODULES, REGISTRY_NAMED

    units = {
        "session.start_s": "s", "setup.load_s": "s", "setup.warm_s": "s",
        "bronze.land_s": "s", "bronze.jobs": "count", "bronze.bytes_per_event": "B/event",
        "silver.apply_s": "s", "silver.merge_s": "s", "silver.jobs": "count",
        "silver.buckets_touched_share": "ratio", "silver.bytes_written": "bytes",
        "silver.files_written": "count",
        "gold.refresh_s": "s", "gold.build_s": "s", "gold.jobs": "count",
        "gold.buckets_touched": "count",
        "registry.build_s": "s", "registry.exec_s": "s", "registry.eager_jobs": "count",
    }
    for m in REGISTRY_MODULES:
        units[f"registry.{m}.build_s"] = "s"
        units[f"registry.{m}.exec_s"] = "s"
    for q in REGISTRY_NAMED:
        units[f"registry.q.{q}_s"] = "s"
    units.update({"registry.release_s": "s", "registry.leaks": "count",
                  "proc.peak_rss_mb": "MB", "trace.overhead_pct": "%",
                  "trace.coverage_pct": "%"})
    for layer in TRACE_LAYERS:
        for k, u in _TRACE_UNITS.items():
            units[f"{layer}.{k}"] = u
    return units


# -- host and process -----------------------------------------------------------

def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time stolen by the hypervisor between two samples."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8])  # user..steal; guest time is already inside user
    return d[7] / total if total > 0 and len(d) > 7 else 0.0


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def heap_size() -> str:
    """A quarter of host memory, at most 4 GiB: the host has no swap and the
    program's default (32g) would overcommit a 15 GiB machine."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal"))
    return f"{min(4096, total_kb // 4096)}m"


def tree_peak_rss_mb(pids: list[int]) -> float:
    """Sum of peak resident sizes (VmHWM) of ``pids`` and all their
    descendants: the JVM plus its Python workers, and this process."""
    children: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        children.setdefault(int(fields[1]), []).append(int(stat.split("/")[2]))
    seen, todo, kb = set(), list(pids), 0
    while todo:
        pid = todo.pop()
        if pid in seen:
            continue
        seen.add(pid)
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                kb += next((int(line.split()[1]) for line in f
                            if line.startswith("VmHWM")), 0)
        except OSError:
            pass
    return kb / 1024


# -- session --------------------------------------------------------------------

class Session:
    """One JVM for the whole run; SparkContexts started and stopped on it."""

    def __init__(self, run_dir: str):
        self.cores = len(os.sched_getaffinity(0))
        self.spark = None
        self.settings = {
            "master": f"local[{self.cores}]",
            "spark.sql.shuffle.partitions": str(self.cores),
            "spark.driver.memory": heap_size(),
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.local.dir": os.path.join(run_dir, "local"),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.eventLog.enabled": "false",
            "JAVA_TOOL_OPTIONS": os.environ.get("JAVA_TOOL_OPTIONS", ""),
        }

    def start(self, event_log: str | None = None):
        from citibike_pipeline_spark.session import get_spark

        conf = {k: v for k, v in self.settings.items() if k.startswith("spark.")}
        if event_log:
            os.makedirs(event_log, exist_ok=True)
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = "file://" + event_log
            # one plain JSON-lines file per application
            conf["spark.eventLog.rolling.enabled"] = "false"
            conf["spark.eventLog.compress"] = "false"
        self.spark = get_spark("perfbench", master=self.settings["master"],
                               shuffle_partitions=self.cores, extra_conf=conf)
        self.spark.range(1).count()
        return self.spark

    def stop_context(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        return proc.pid if proc is not None else None

    def shutdown(self) -> None:
        """Stop the context and the JVM, and wait until the JVM has exited."""
        from pyspark import SparkContext

        self.stop_context()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway server exits on EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


# -- measurement -----------------------------------------------------------------

def make_workload(name: str, seed: int, size: str, run_dir: str):
    from workloads import CdcTail, Registry

    if name == "cdc_tail":
        return CdcTail(seed, size, run_dir)
    return Registry(seed, size, os.path.join(HERE, "data", "sf0.01"))


def run_setups(workload, tracer, reps: int) -> list[float]:
    """Set-up repeated ``reps`` times, then its once-only part; each entry is
    one repetition's time plus the once-only time."""
    times = []
    for rep in range(reps):
        t0 = time.perf_counter()
        with tracer.span("setup"):
            workload.setup(rep, tracer)
        times.append(time.perf_counter() - t0)
    with tracer.span("setup"):
        once = workload.finish_setup(tracer)
    return [t + once for t in times]


def measure(workload, tracer, seconds: float, detail: bool):
    """Closed loop for ``seconds``, ended on a round boundary. Returns (step
    seconds, work units, attempted, failed); a step that raises is counted
    as failed and its time is dropped."""
    times, work = [], []
    attempted = failed = 0
    t_end = time.perf_counter() + seconds
    i = 0
    while time.perf_counter() < t_end or i % workload.steps_per_round:
        attempted += 1
        try:
            dt, n = workload.step(i, tracer, detail)
        except Exception:
            failed += 1
            traceback.print_exc(file=sys.stderr)
        else:
            times.append(dt)
            work.append(n)
        i += 1
    return times, work, attempted, failed


def end_to_end(setup_times, times, work) -> dict[str, float]:
    return {
        "setup_s": statistics.median(setup_times),
        "step_p50_s": stats.percentile(times, 50),
        "work_per_s": sum(work) / sum(times),
    }


def with_units(values: dict[str, float], units: dict[str, str]) -> dict:
    return {k: {"value": float(values[k]), "unit": u} for k, u in units.items()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["cdc_tail", "registry"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "toy"], default="full")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "citibike_pipeline_spark", "__init__.py")):
        print(f"perfbench: no program source at {ROOT}/citibike_pipeline_spark",
              file=sys.stderr)
        return 2
    # the program is imported from this checkout, in the driver and in the
    # pandas-UDF workers the JVM starts (they inherit PYTHONPATH)
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

    out_root = os.path.join(ROOT, ".perfbench_out")
    run_dir = os.path.join(out_root, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    # temporary files of Python and of both JVMs spark-submit starts (the
    # launcher and the driver) stay inside the checkout too
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    session = Session(run_dir)
    try:
        return run(args, session, run_dir, out_root)
    finally:
        session.shutdown()
        shutil.rmtree(run_dir, ignore_errors=True)


def run(args, session: Session, run_dir: str, out_root: str) -> int:
    from workloads import SIZES

    cpu0, load0 = cpu_times(), loadavg()
    workload = make_workload(args.workload, args.seed, args.size, run_dir)
    reps = SIZES[args.workload][args.size]["setup_reps"]
    t0 = time.perf_counter()
    workload.load()
    load_s = time.perf_counter() - t0

    trace_dir = os.path.join(out_root, "trace", args.workload)
    if args.trace:
        shutil.rmtree(trace_dir, ignore_errors=True)
        os.makedirs(trace_dir)
    t0 = time.perf_counter()
    spark = session.start(event_log=os.path.join(trace_dir, "eventlog") if args.trace else None)
    start_s = time.perf_counter() - t0
    workload.attach(spark)
    tracer = tracing.Tracer(bool(args.trace), spark.sparkContext)

    phases = {"load": load_s, "start": start_s}
    t0 = time.perf_counter()
    setup_times = run_setups(workload, tracer, reps)
    phases["setup"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    for _ in range(workload.warmup_steps):
        workload.step(None, tracer, False)
    phases["warmup"] = time.perf_counter() - t0
    times, work, attempted, failed = measure(workload, tracer, args.seconds, bool(args.trace))
    phases["measure"] = time.perf_counter() - t0 - phases["warmup"]

    layer: dict[str, float] = {}
    if args.trace:
        workload.extras(tracer)
        layer["proc.peak_rss_mb"] = tree_peak_rss_mb(
            [p for p in (os.getpid(), session.jvm_pid()) if p])
        traced_p50 = statistics.median(times) if times else 0.0
        # the same steps again with tracing off, in a fresh context on the
        # same (warm) JVM: the difference is the tracing overhead
        session.stop_context()
        workload.attach(session.start())
        off = tracing.Tracer(False)
        workload.step(0, off, False)  # first step of a new context: not timed
        u_times, _, u_att, u_fail = measure(workload, off, args.seconds, False)
        attempted += u_att + 1
        failed += u_fail
        if times and u_times:
            layer["trace.overhead_pct"] = 100.0 * (traced_p50 / statistics.median(u_times) - 1)

    t0 = time.perf_counter()
    failures = workload.check()
    phases["check"] = time.perf_counter() - t0
    attempted += 1
    failed += 1 if failures else 0
    for f in failures:
        print(f"perfbench: check failed: {f}", file=sys.stderr)
    if not times:
        print("perfbench: no step completed", file=sys.stderr)
        return 1

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "size": args.size, "trace": args.trace,
        "settings": session.settings,
        "properties": workload.properties(),
        "samples": {"setup_reps": len(setup_times), "steps": len(times)},
        "step_tail_percentile_s": stats.tail_percentile(times),
        "setup_times_s": setup_times,
        "phases_s": phases,
        "error_rate": stats.error_rate(attempted, failed),
        "check_failures": failures,
        "host": {"steal_share": steal_share(cpu0, cpu_times()),
                 "loadavg_start": load0, "loadavg_end": loadavg()},
    }
    if args.trace:
        session.stop_context()  # finalises the event log
        metrics = with_units(layer_metrics(workload, tracer, trace_dir, layer,
                                           phases, setup_times),
                             per_layer_units())
        tracer.write(os.path.join(trace_dir, "spans.json"))
    else:
        metrics = with_units(end_to_end(setup_times, times, work), E2E)
        record["per_step_s"] = times
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": metrics}
    if args.trace:
        with open(os.path.join(trace_dir, "result.json"), "w") as f:
            json.dump({"record": record, **result}, f, indent=1)
    print(json.dumps({"record": record}))
    print(json.dumps(result))
    return 0


def layer_metrics(workload, tracer, trace_dir, layer, phases, setup_times):
    out = dict.fromkeys(per_layer_units(), 0.0)
    out.update(layer)
    out["session.start_s"] = phases["start"]
    out["setup.load_s"] = phases["load"]
    # the cold first set-up's excess over the median, plus warm-up steps
    out["setup.warm_s"] = (setup_times[0] - statistics.median(setup_times)
                           + phases["warmup"])
    out.update(workload.layer_values())
    step_spans = [s for s in tracer.spans if s.step is not None]
    n_steps = len({s.step for s in step_spans}) or 1
    cover = tracing.step_coverage(step_spans)
    out["trace.coverage_pct"] = 100.0 * min(cover) if cover else 0.0
    logs = glob.glob(os.path.join(trace_dir, "eventlog", "*"))
    by_group = tracing.read_event_log(logs[0]) if len(logs) == 1 else {}
    totals = tracing.layer_totals(step_spans, by_group, TRACE_LAYERS)
    out.update({k: v / n_steps for k, v in totals.items()})
    return out


if __name__ == "__main__":
    sys.exit(main())
