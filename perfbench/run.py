"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload exposure --seed 1 --seconds 20 --trace 0

Run from the root of a source checkout.  One process is one closed-loop
client on ``local[<cores>]``: it sets up a SparkSession and the seeded
inputs, runs one cold pass, then warm passes for ``--seconds`` seconds, and
checks every pass's output outside the timed region.  A warm-pass figure is
the sum over the pass's operations of each operation's median over the timed
passes.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` runs the same
workload with spans around every layer call (and the Spark event log on) and
prints the per-layer metrics; after one warm-up pass its warm passes go
traced and untraced in T U U T order, so the tracing overhead is measured in
the same session.

Human-readable lines come first; the last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``.  A full record
(context, every pass, every span) is written under ``.perfbench/results/``,
keyed by workload, seed, core count, trace flag and start time.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import signal
import statistics
import sys
import time
from contextlib import contextmanager

import procfs
import spans
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END_UNITS = {"setup_s": "s", "cold_pass_s": "s", "pass_s": "s", "cpu_s": "s"}
# peak_rss_mb and error_rate are printed with these but left out of the JSON
# result, so not gated: error_rate is 0 when the program is right, and
# peak_rss_mb spreads 15-30 % run to run on tail_queries (G1 heap sizing),
# wider than any bound the benchmark may set.

# The JVM runs with the client (C1) JIT compiler only and starts with a 3 GB
# heap.  With the default tiered C2 compiler, warm passes kept speeding up for
# about ten passes, and the spot a run's timed passes hit on that curve set
# most of the run-to-run spread; C1 reaches its plateau within two passes and
# compiles with about half the CPU.  With the default small initial heap, G1
# ran five times as many collections while it grew the heap over the first
# passes, by amounts that depend on GC timing.  The first WARMUP_PASSES warm
# passes are checked but not timed; the window is stretched until at least
# MIN_TIMED passes are timed.
JAVA_OPTIONS = "-XX:-UsePerfData -XX:TieredStopAtLevel=1 -Xms3g"
WARMUP_PASSES = 1
MIN_TIMED = 3


def is_traced(pass_no: int) -> bool:
    """Traced passes of a --trace 1 run: after the untraced warm-up passes,
    the warm passes go T U U T T U U T ..., so a steady speed-up over the run
    weighs on both kinds alike."""
    first = 1 + WARMUP_PASSES
    return pass_no >= first and (pass_no - first) % 4 in (0, 3)


def process_age_s() -> float:
    """Seconds since this process started, from ``/proc`` (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def per_layer_names() -> dict[str, str]:
    """Every per-layer metric name with its unit, for all workloads."""
    names = {"session.get_spark_s": "s"}
    calls = ["add_point_with_table", "chunk_by_hilbert"]
    calls += [m for m, _ in workloads.EXPOSURE_CALLS] + ["get_result"]
    names.update({f"calculator.{c}_s": "s" for c in calls})
    names.update({"calculator.calculate_s": "s", "calculator.partitions": "count"})
    names.update({"queries.build_s": "s", "queries.collect_s": "s"})
    for row in workloads.TAIL_QUERIES + workloads.CURATION_QUERIES:
        names[f"queries.{row}.s"] = "s"
        names[f"queries.{row}.jobs"] = "count"
    names["catalyst.plan_s"] = "s"
    names.update({f"scheduler.{k}": "count" for k in ("jobs", "build_jobs", "stages", "tasks")})
    names.update({"executor.run_s": "s", "executor.cpu_s": "s", "executor.gc_s": "s"})
    names.update({"shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes"})
    for role in ("driver", "jvm", "pyworker"):
        names[f"proc.{role}_cpu_s"] = "s"
    for role in ("driver", "jvm", "pyworker"):
        names[f"proc.{role}_rss_mb"] = "MB"
    names.update({"storage.persisted_rdds": "count", "storage.rss_growth_mb": "MB"})
    names.update({"trace.pass_s": "s", "trace.overhead_s": "s"})
    return names


class Meter:
    """Wall seconds and process-tree CPU seconds of each operation of a pass."""

    def __init__(self):
        self.wall: dict[str, float] = {}
        self.cpu: dict[str, float] = {}

    @contextmanager
    def __call__(self, op: str):
        cpu0 = procfs.tree_cpu(procfs.snapshot())
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.wall[op] = time.perf_counter() - t0
            self.cpu[op] = procfs.tree_cpu(procfs.snapshot()) - cpu0


class Pass:
    def __init__(self, no, traced, offset, wall, cpu, rss, persisted, results, ops, span_range):
        self.no, self.traced, self.wall = no, traced, wall
        self.offset = offset  # start, in seconds after the warm window opened
        self.cpu = cpu  # role -> cpu seconds used during the pass
        self.rss = rss  # role -> RSS (MB) when the pass ended
        self.persisted = persisted
        self.results = results
        self.ops = ops  # Meter of the pass's operations
        self.span_range = span_range

    def record(self) -> dict:
        return {
            "pass": self.no, "traced": self.traced, "offset_s": self.offset, "wall_s": self.wall,
            "cpu_s": self.cpu, "rss_mb": self.rss, "persisted_rdds": self.persisted,
            "op_wall_s": self.ops.wall, "op_cpu_s": self.ops.cpu,
        }


def pass_layer_metrics(p: Pass, tracer, attributed: dict, rows: list[str]) -> dict[str, float]:
    """Per-layer numbers of one traced pass, from its spans and the event log."""
    spans = tracer.spans[p.span_range[0]:p.span_range[1]]
    children: dict[int, list[dict]] = {}
    for sp in spans:
        children.setdefault(sp["parent"], []).append(sp)

    def ev(sp, key):
        return attributed.get(sp["id"], {}).get(key, 0.0)

    def subtree_jobs(sp):
        return ev(sp, "jobs") + sum(subtree_jobs(c) for c in children.get(sp["id"], ()))

    m: dict[str, float] = {}
    for sp in spans:
        dur = sp["end"] - sp["start"]
        name = sp["name"]
        if name.startswith("calculator."):
            m[f"{name}_s"] = m.get(f"{name}_s", 0.0) + dur
            if name.startswith("calculator.calculate_"):
                m["calculator.calculate_s"] = m.get("calculator.calculate_s", 0.0) + dur
            if "partitions" in sp["counts"]:
                m["calculator.partitions"] = sp["counts"]["partitions"]
        elif name in ("queries.build", "queries.collect"):
            m[f"{name}_s"] = m.get(f"{name}_s", 0.0) + dur
        elif name.startswith("queries.") and name[len("queries."):] in rows:
            m[f"{name}.s"] = dur
            m[f"{name}.jobs"] = subtree_jobs(sp)
            m["catalyst.plan_s"] = m.get("catalyst.plan_s", 0.0) + sp["counts"].get("catalyst_plan_s", 0.0)
        is_build = name == "queries.build" or (
            name.startswith("calculator.") and name != "calculator.get_result"
        )
        if is_build:
            m["scheduler.build_jobs"] = m.get("scheduler.build_jobs", 0.0) + ev(sp, "jobs")
        for key, metric in (
            ("jobs", "scheduler.jobs"), ("stages", "scheduler.stages"), ("tasks", "scheduler.tasks"),
            ("run_s", "executor.run_s"), ("cpu_s", "executor.cpu_s"), ("gc_s", "executor.gc_s"),
            ("shuffle_write_bytes", "shuffle.write_bytes"), ("shuffle_read_bytes", "shuffle.read_bytes"),
        ):
            m[metric] = m.get(metric, 0.0) + ev(sp, key)
    for role, cpu in p.cpu.items():
        m[f"proc.{role}_cpu_s"] = cpu
    return m


def median_or_zero(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def op_median_sum(passes: list, kind: str) -> float:
    """One pass's time (``kind`` "wall" or "cpu"), robust to bursts of load
    from outside: the sum over operations of each one's median over
    ``passes``.  A burst that slows one operation of one pass moves its
    pass's total, but not the medians."""
    if not passes:
        return 0.0
    ops = getattr(passes[0].ops, kind)
    return sum(statistics.median(getattr(p.ops, kind)[op] for p in passes) for op in ops)


def stop_spark(spark) -> None:
    """Stop the session, then the PySpark gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def wait_for_children(timeout: float = 30.0) -> None:
    """Wait until no process started by this one is left; kill stragglers."""
    deadline = time.monotonic() + timeout
    while True:
        left = procfs.descendants()
        if not left:
            return
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + timeout
        time.sleep(0.1)


def run(args, cores: int, work: str) -> dict:
    wl = workloads.WORKLOADS[args.workload](args.size)
    wl.prepare(work, args.seed)
    from duckpipe_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    # keep the JVM's temp files, and its perf-counter file (/tmp/hsperfdata_*
    # whatever java.io.tmpdir says), inside the checkout
    conf = {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} {JAVA_OPTIONS}"}
    event_dir = os.path.join(work, "eventlog")
    if args.trace:
        os.makedirs(event_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{event_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    t = time.perf_counter()
    spark = get_spark("perfbench", master=f"local[{cores}]", shuffle_partitions=cores, extra_conf=conf)
    get_spark_s = time.perf_counter() - t
    setup_s = process_age_s()

    tracer = spans.Tracer(f"{args.workload}-{args.seed}", spark.sparkContext)
    passes: list[Pass] = []

    def one_pass(no: int, traced: bool, window_start: float) -> Pass:
        tracer.enabled = traced
        first_span = len(tracer.spans)
        meter = Meter()
        before = procfs.snapshot()
        t0 = time.perf_counter()
        with tracer.span("pass", pass_no=no):
            results = wl.run_pass(spark, tracer, meter, no)
        wall = time.perf_counter() - t0
        after = procfs.snapshot()
        tracer.enabled = False
        cpu = {r: after[r]["cpu_s"] - before[r]["cpu_s"] for r in procfs.ROLES}
        persisted = spark.sparkContext._jsc.getPersistentRDDs().size()
        rss = {r: after[r]["rss_mb"] for r in procfs.ROLES}
        return Pass(no, traced, t0 - window_start, wall, cpu, rss, persisted, results, meter,
                    (first_span, len(tracer.spans)))

    with procfs.PeakSampler() as sampler:
        passes.append(one_pass(0, False, time.perf_counter()))
        # The JVM heap keeps growing lazily over warm passes, by amounts that
        # vary run to run with GC timing; the peak through the cold pass is
        # the memory a one-pipeline-per-process user needs, and repeats.
        sampler.sample()
        cold_peak_mb = sampler.peak_tree_mb
        window_start = time.perf_counter()
        # cold, warm-up, then MIN_TIMED timed passes (traced: two of each kind, T U U T)
        min_passes = 1 + WARMUP_PASSES + (4 if args.trace else MIN_TIMED)
        while len(passes) < min_passes or time.perf_counter() < window_start + args.seconds:
            no = len(passes)
            passes.append(one_pass(no, bool(args.trace) and is_traced(no), window_start))

    # ---- output checks, outside the timed region --------------------------
    for p in passes:
        p.results = {op: r if isinstance(r, Exception) else wl.frame(r) for op, r in p.results.items()}
    if args.fault:
        op = sorted(passes[1].results)[0]
        if not isinstance(passes[1].results[op], Exception):
            passes[1].results[op] = passes[1].results[op].iloc[:-1]
    checked = wl.check(passes[0].results)
    first = {op: workloads.digest(r) for op, r in passes[0].results.items() if not isinstance(r, Exception)}
    attempted = failed = 0
    failures = []
    for p in passes:
        for op, r in p.results.items():
            attempted += 1
            ok = checked.get(op, False) and not isinstance(r, Exception) and (
                p.no == 0 or workloads.digest(r) == first.get(op)
            )
            if not ok:
                failed += 1
                failures.append({"pass": p.no, "op": op,
                                 "error": repr(r) if isinstance(r, Exception) else "wrong result"})

    stop_spark(spark)
    wait_for_children()

    warm = passes[1:]
    timed = warm[WARMUP_PASSES:]  # traced runs: in balanced T U U T order
    untraced = [p for p in timed if not p.traced]
    traced = [p for p in timed if p.traced]
    e2e = {
        "setup_s": setup_s,
        "cold_pass_s": passes[0].wall,
        "pass_s": op_median_sum(untraced, "wall"),
        "cpu_s": op_median_sum(untraced, "cpu"),
        "peak_rss_mb": cold_peak_mb,
    }
    layer: dict[str, float] = {}
    if args.trace:
        logs = glob.glob(os.path.join(event_dir, "*"))
        attributed = spans.attribute_event_log(logs[0], tracer) if logs else {}
        rows = getattr(wl, "rows", [])
        per_pass = [pass_layer_metrics(p, tracer, attributed, rows) for p in traced]
        for key in {k for m in per_pass for k in m}:
            layer[key] = median_or_zero(m[key] for m in per_pass if key in m)
        layer["session.get_spark_s"] = get_spark_s
        for role in procfs.ROLES:
            layer[f"proc.{role}_rss_mb"] = sampler.peak_role_mb[role]
        layer["storage.persisted_rdds"] = passes[-1].persisted
        layer["storage.rss_growth_mb"] = sum(warm[-1].rss.values()) - sum(warm[0].rss.values())
        layer["trace.pass_s"] = op_median_sum(traced, "wall")
        layer["trace.overhead_s"] = layer["trace.pass_s"] - e2e["pass_s"]
    return {
        "e2e": e2e,
        "layer": layer,
        "attempted": attempted,
        "failed": failed,
        "failures": failures,
        "passes": [p.record() for p in passes],
        "timed_passes": len(untraced),
        "spans": tracer.spans,
    }


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=tuple(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True, help="length of the warm-pass window")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full", help="tiny: small inputs for smoke tests")
    ap.add_argument("--fault", action="store_true",
                    help="corrupt one result of the first warm pass (proves the check counts it)")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = [p for p in ("duckpipe_spark/session.py", "tests/oracle_harness.py", "tests/geo_fixtures.py")
               if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a source checkout, missing {missing} under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    key = f"{args.workload}-seed{args.seed}-c{cores}-trace{args.trace}-{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench", "work", key)
    results_dir = os.path.join(ROOT, ".perfbench", "results")
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(results_dir, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    context = {
        "workload": args.workload, "seed": args.seed, "cores": cores, "trace": args.trace,
        "size": args.size, "seconds": args.seconds,
        "loadavg_before": loadavg(), "foreign_spark_jvms_before": procfs.foreign_spark_jvms(),
    }
    steal_before = procfs.steal_s()
    try:
        out = run(args, cores, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    context["loadavg_after"] = loadavg()
    context["steal_s"] = procfs.steal_s() - steal_before
    context["foreign_spark_jvms_after"] = procfs.foreign_spark_jvms()

    if args.trace:
        units = per_layer_names()
        metrics = {k: {"value": float(out["layer"].get(k, 0.0)), "unit": u} for k, u in units.items()}
    else:
        metrics = {k: {"value": float(out["e2e"][k]), "unit": u} for k, u in END_TO_END_UNITS.items()}
    error_rate = out["failed"] / out["attempted"]
    n_warm = out["timed_passes"]
    with open(os.path.join(results_dir, f"{key}.json"), "w") as f:
        json.dump({"context": context, "metrics": metrics, "end_to_end": out["e2e"],
                   "error_rate": error_rate, "attempted": out["attempted"], "failed": out["failed"],
                   "failures": out["failures"], "passes": out["passes"], "spans": out["spans"]}, f, indent=1)

    print(f"context: cores={cores} seed={args.seed} loadavg {context['loadavg_before']} -> "
          f"{context['loadavg_after']} steal {context['steal_s']:.2f} s "
          f"foreign SparkSubmit JVMs {context['foreign_spark_jvms_before']}")
    for name, m in metrics.items():
        note = f" (per-operation medians over {n_warm} timed warm passes)" if name in ("pass_s", "cpu_s") else ""
        print(f"{name} {m['value']:.6g} {m['unit']}{note}")
    print(f"peak_rss_mb {out['e2e']['peak_rss_mb']:.6g} MB (through the cold pass)")
    print(f"error_rate {error_rate:.6g} 1 ({out['failed']} of {out['attempted']} operations)")
    for fail in out["failures"][:10]:
        print(f"failed: {fail}")
    print(json.dumps({"correct": out["failed"] == 0, "attempted": out["attempted"],
                      "failed": out["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
