"""Benchmark of pimbloomfilters_spark: closed-loop workloads plus a traced run.

    python3 sketchbench/run.py --workload keys_bloom --seed 1 --seconds 12 --trace 0

Run from the repository root. One driver process starts a local Spark
session on every CPU it may use, sets up the workload's inputs (three times,
reporting the median), runs one untimed warm-up cycle, then runs cycles of
the workload's operations one after another until ``--seconds`` have passed
(at least ``MIN_CYCLES``). Every operation's answer is checked; a wrong
answer or an exception counts as a failed operation.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` is the separate
traced run: it times untraced and traced cycles to give the tracing
overhead, then measures each layer on the workload's data (see ledger.py),
runs the oracle-gated catalog gates once, checking each answer, writes the
spans to a JSON file and prints the per-layer metrics. The last
line of standard output is one JSON object: correct, attempted, failed,
metrics. Everything the run writes stays under ``.bench_tmp/`` in the
current directory; only the span files outlive the run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

from spans import NullTracer, Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
SETUP_REPS = 3
MIN_CYCLES = 4

END_TO_END_UNITS = {
    "setup_s": "s", "cycle_s": "s", "write_mvals_s": "Mvals/s",
    "read_mvals_s": "Mvals/s", "driver_py_peak_rss_mb": "MB",
}


def unit_of(name: str) -> str:
    """Unit of a per-layer metric, read off its name."""
    if name.endswith("mkeys_s"):
        return "Mkeys/s"
    if name.endswith("mvals_s"):
        return "Mvals/s"
    if "_ms." in name:
        return "ms"
    if "bytes" in name:
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_frac"):
        return "fraction"
    if "n_partials" in name or name.endswith("span_count"):
        return "count"
    if name.endswith("_s") or "_s." in name:
        return "s"
    raise ValueError(f"no unit for metric {name!r}")


def cpu_caches() -> dict[str, str]:
    """CPU cache sizes as /sys reports them for CPU 0, e.g. {"L2": "2048K"}."""
    base = "/sys/devices/system/cpu/cpu0/cache"
    out = {}
    for idx in sorted(os.listdir(base)) if os.path.isdir(base) else ():
        if not idx.startswith("index"):
            continue
        def read(name, idx=idx):
            with open(os.path.join(base, idx, name)) as f:
                return f.read().strip()
        if read("type") != "Instruction":
            out[f"L{read('level')}"] = read("size")
    return out


def configure_box(workdir: str) -> dict:
    """Size the session for this machine through the environment overrides
    that pimbloomfilters_spark.session already reads, and keep every file
    Spark, the JVM and tempfile write under ``workdir``."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    driver_mb = min(8192, mem_kb // 1024 // 4)  # a quarter of RAM, at most 8 GiB
    local_dirs = os.path.join(workdir, "spark-local")
    tmp = os.path.join(workdir, "tmp")
    for d in (local_dirs, tmp):
        shutil.rmtree(d, ignore_errors=True)  # left over by an interrupted run
        os.makedirs(d)
    java_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_mb}m",
        "SPARK_LOCAL_DIRS": local_dirs,
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false "
            f"--conf spark.sql.warehouse.dir={os.path.join(workdir, 'warehouse')} "
            f'--driver-java-options "{java_opts}" pyspark-shell'),
    })
    import tempfile

    tempfile.tempdir = tmp
    return {"cpus": cpus, "mem_total_mb": mem_kb // 1024,
            "driver_mem": f"{driver_mb}m", "local_dirs": local_dirs, "tmpdir": tmp,
            "cpu_caches": cpu_caches()}


def _warmup(spark) -> None:
    """Start the Python workers and the shuffle path before anything is
    timed as workload work."""
    from pyspark.sql import functions as F

    def _noop(batches):
        yield from batches

    n = spark.sparkContext.defaultParallelism * 4
    (spark.range(0, n, numPartitions=n).repartition(n, F.pmod("id", F.lit(97)))
     .mapInArrow(_noop, "id long").count())


class Run:
    """One benchmark run of one workload: its Spark session, set-ups, cycles
    and the count of attempted and failed operations."""

    def __init__(self, workload, tracer):
        self.wl = workload
        self.tracer = tracer
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.n_cycles = 0
        self.peak_rss_mb = 0.0  # driver peak over the operations, not the checks

    def setup(self) -> dict[str, float]:
        """One full set-up: a fresh session, warm-up, input materialization."""
        from pimbloomfilters_spark.session import get_spark

        tr = self.tracer
        if self.spark is not None:
            tr.sc = None
            self.wl.release()
            self.spark.stop()
        t0 = time.perf_counter()
        with tr.span("session.get_spark"):
            self.spark = get_spark("sketchbench")
            self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        if tr.enabled:
            tr.sc = self.spark.sparkContext
        with tr.span("bench.warmup"):
            _warmup(self.spark)
        t2 = time.perf_counter()
        with tr.span(f"sources.{self.wl.name}"):
            self.wl.materialize(self.spark)
        t3 = time.perf_counter()
        return {"setup_s": t3 - t0, "session.start_s": t1 - t0,
                "session.warmup_s": t2 - t1, "sources.input_s": t3 - t2}

    def cycle(self, tracer) -> tuple[float, dict[str, float]]:
        """One closed-loop pass over the workload's operations. Returns the
        summed time of its operations, checks excluded, and each op's time."""
        tracer.new_trace()
        state: dict = {"cycle": self.n_cycles}
        self.n_cycles += 1
        times: dict[str, float] = {}
        with tracer.span("bench.cycle"):
            for op in self.wl.ops():
                self.attempted += 1
                try:
                    reset_peak_rss()
                    t0 = time.perf_counter()
                    with tracer.span(op.span):
                        result = op.run(state)
                    times[op.name] = time.perf_counter() - t0
                    self.peak_rss_mb = max(self.peak_rss_mb, peak_rss_mb())
                    with tracer.span("bench.check"):
                        problem = op.check(result, state)
                except Exception:  # a failed operation, not a failed benchmark
                    problem = traceback.format_exc()
                if problem:
                    self.failed += 1
                    print(f"FAILED {self.wl.name}.{op.name}: {problem}", file=sys.stderr)
        return sum(times.values()), times

    def cycles(self, seconds: float) -> tuple[list[float], dict[str, list[float]]]:
        """Untraced cycles until ``seconds`` have passed and MIN_CYCLES ran."""
        cycle_s: list[float] = []
        per_op: dict[str, list[float]] = {}
        deadline = time.perf_counter() + seconds
        while len(cycle_s) < MIN_CYCLES or time.perf_counter() < deadline:
            total, times = self.cycle(NullTracer())
            cycle_s.append(total)
            for k, v in times.items():
                per_op.setdefault(k, []).append(v)
        return cycle_s, per_op

    def shutdown(self) -> None:
        """Stop Spark and wait for the JVM it launched to exit."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        self.wl.release()
        self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None


def reset_peak_rss() -> None:
    """Restart the kernel's peak-RSS count (VmHWM) of this process from its
    current RSS, so the next peak_rss_mb() covers only what runs in between."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def peak_rss_mb() -> float:
    with open("/proc/self/status") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return kb / 1024


def _medians(per_op: dict[str, list[float]]) -> dict[str, float]:
    return {k: statistics.median(v) for k, v in per_op.items()}


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return kb / 1024


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full",
                    help="input sizes; 'smoke' is the benchmark's own tiny test profile")
    args = ap.parse_args(argv)

    root = os.getcwd()
    sys.path[:0] = [HERE, root]
    box = configure_box(os.path.join(root, ".bench_tmp"))

    # fails here, before any result, when the program is not in the checkout
    import pimbloomfilters_spark

    if not os.path.abspath(pimbloomfilters_spark.__file__).startswith(root + os.sep):
        sys.exit(f"pimbloomfilters_spark comes from {pimbloomfilters_spark.__file__}, "
                 f"not from the checkout at {root}")

    import ledger
    from workloads import CATALOG_SF, GATES, SIZES, WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    wl = WORKLOADS[args.workload](seed=args.seed, size=SIZES[args.size][args.workload])
    tracer = Tracer() if args.trace else NullTracer()
    run = Run(wl, tracer)
    metrics: dict[str, float] = {}
    report: dict = {"box": box, "workload": wl.name, "seed": args.seed, "size": args.size}
    phases: dict[str, float] = {}
    mark = time.perf_counter()

    def phase(name):
        nonlocal mark
        now = time.perf_counter()
        phases[name] = round(now - mark, 3)
        mark = now

    try:
        if args.trace:
            metrics["box.numpy_ceiling_pre_mkeys_s"] = ledger.numpy_ceiling_mkeys_s()
        setups = [run.setup() for _ in range(SETUP_REPS)]
        setup = {k: statistics.median(s[k] for s in setups) for k in setups[0]}
        phase("setups")
        wl.prepare_expected()
        report["properties"] = wl.properties
        report["setups"] = setups
        if args.trace:
            sf_dir = os.path.join(HERE, "data", CATALOG_SF[args.size])
            oracles = ledger.gate_oracles(sf_dir)
        phase("expected")
        run.cycle(NullTracer())  # warm-up: caches, JIT and lazy set-up, untimed
        run.peak_rss_mb = 0.0
        phase("warmup_cycle")

        if not args.trace:
            cycle_s, per_op = run.cycles(args.seconds)
            med = _medians(per_op)
            e2e = wl.end_to_end(med)
            metrics.update({
                "setup_s": setup["setup_s"],
                "cycle_s": statistics.median(cycle_s),
                "write_mvals_s": e2e["write_mvals_s"],
                "read_mvals_s": e2e["read_mvals_s"],
                "driver_py_peak_rss_mb": run.peak_rss_mb,
            })
            report.update(workload_metrics=e2e, cycle_s=cycle_s, op_s=per_op)
        else:
            # alternate untraced and traced cycles, so drift in the box's
            # speed falls on both sides of the overhead ratio alike
            cycles_off, cycles_on = [], []
            deadline = time.perf_counter() + args.seconds
            while len(cycles_on) < 2 or time.perf_counter() < deadline:
                cycles_off.append(run.cycle(NullTracer())[0])
                cycles_on.append(run.cycle(tracer)[0])
            overhead = statistics.median(cycles_on) / statistics.median(cycles_off) - 1
            li = wl.ledger_inputs()
            metrics.update(ledger.kernels(li, tracer))
            metrics.update(ledger.spark_layers(run.spark, li, tracer))
            found, problems = ledger.sources_and_plans(
                run.spark, tracer, sf_dir, args.seed, oracles)
            metrics.update(found)
            run.attempted += len(GATES)
            run.failed += len(problems)
            for p in problems:
                print(f"FAILED plans.{p}", file=sys.stderr)
            metrics.update({k: v for k, v in setup.items() if k != "setup_s"})
            metrics["jvm.peak_rss_mb"] = _jvm_peak_rss_mb(run.spark)
            metrics["box.numpy_ceiling_post_mkeys_s"] = ledger.numpy_ceiling_mkeys_s()
            metrics.update({f"self_s.{k}": v for k, v in tracer.self_seconds().items()})
            metrics["trace.overhead_frac"] = overhead
            metrics["trace.span_count"] = len(tracer.spans)
            out_dir = os.path.join(root, ".bench_tmp", "spans")
            os.makedirs(out_dir, exist_ok=True)
            path = os.path.join(out_dir, f"{wl.name}-seed{args.seed}.json")
            tracer.write(path)
            print(f"# spans written to {path}")
            print(f"# tracing overhead {overhead:+.4f} (traced vs untraced cycle median, "
                  f"{len(cycles_on)} vs {len(cycles_off)} cycles)")
        phase("measure")
    finally:
        run.shutdown()
        for d in (box["local_dirs"], box["tmpdir"]):
            shutil.rmtree(d, ignore_errors=True)
    phase("shutdown")
    report["phase_s"] = phases
    report["ops_failed_frac"] = run.failed / max(run.attempted, 1)
    print("# " + json.dumps(report, default=str))
    units = END_TO_END_UNITS if not args.trace else None
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(v), "unit": units[k] if units else unit_of(k)}
                    for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
