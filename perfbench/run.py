"""Benchmark of mortar_parquet_support_spark: closed-loop workloads over the
package's public functions, one client thread, ``local[<cores>]``.

    python3 perfbench/run.py --workload lake --seed 1 --seconds 20 --trace 0

Run it from the root of a checkout: the package is imported from the
working directory, which is also where Spark's Python workers find it.
Each run works in its own directory under ``.perfbench_runs/`` (lake,
spill, ``TMPDIR``, warehouse), removed at exit. Inputs are generated from
``--seed`` before any timing. The run prints a report of every metric with
its unit, and as its last line one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer ones with ``--trace 1``. A traced run also
writes its spans to ``.perfbench_out/``. Workloads and metrics are
described in ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
DRIVER_MEM = "4g"

# end-to-end metric -> unit; every workload reports every one of them
END_TO_END = {
    "setup_s": "s",
    "query_p50_s": "s",
    "batch_p50_s": "s",
    "items_per_s": "1/s",
}


def _cpu_times() -> list:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(before: list, after: list) -> float:
    """Share of CPU time the hypervisor stole between two /proc/stat reads."""
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta[:8])
    return delta[7] / total if total and len(delta) > 7 else 0.0


def tail(values: list) -> tuple:
    """(percentile, value): the highest percentile with at least ten samples
    beyond it, or (None, None) when there are too few samples."""
    n = len(values)
    if n < 11:
        return None, None
    pct = 100 * (n - 10) / n
    return pct, sorted(values)[n - 11]


class Bench:
    """State shared by a workload: the session, tracer, op samples and the
    failure count. ``op`` runs one checked operation."""

    def __init__(self, args, run_root: str):
        self.seed = args.seed
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        self.root = run_root
        self.attempted = 0
        self.failed = 0
        self.lat: dict = {}
        self.spark = None
        self.tracer = None
        self.session_s = 0.0
        self.setup_reps: list = []

    def path(self, *parts) -> str:
        return os.path.join(self.root, *parts)

    def start_session(self) -> None:
        import mortar_parquet_support_spark as m

        from spans import Tracer

        t0 = time.perf_counter()
        self.spark = m.get_spark(
            "perfbench",
            extra_conf={
                "spark.sql.warehouse.dir": self.path("warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.session_s = time.perf_counter() - t0
        self.tracer = Tracer(self.spark, self.traced)
        self.tracer.add("session.start_s", self.session_s)

    def op(self, cls: str | None, fn) -> bool:
        """Run ``fn`` (returns True when its output checked correct); time it
        into class ``cls`` unless ``cls`` is None (warm-up)."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.op(cls or "warmup"):
                ok = bool(fn())
        except Exception:
            traceback.print_exc()
            ok = False
        dt = time.perf_counter() - t0
        if not ok:
            self.failed += 1
            print(f"perfbench: {cls or 'warmup'} operation failed its check", file=sys.stderr)
        elif cls is not None:
            self.lat.setdefault(cls, []).append(dt)
        return ok

    def check(self, ok: bool, what: str) -> None:
        """Count one checked outcome outside the op loop (set-up, finish)."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: check failed: {what}", file=sys.stderr)

    def loop(self, schedule, ops: int) -> None:
        """Closed loop: run the first ``ops`` operations of ``schedule`` (an
        endless iterator of ``(cls, fn)``), one at a time."""
        for _, (cls, fn) in zip(range(ops), schedule):
            self.op(cls, fn)

    def rounds(self, round_s: float) -> int:
        """Whole rounds of nominal length ``round_s`` that fit in the run's
        seconds; at least one."""
        return max(1, int(self.seconds // round_s))

    def p50(self, cls: str) -> float:
        vals = self.lat.get(cls)
        if not vals:
            raise RuntimeError(f"no successful {cls} operation was timed")
        return statistics.median(vals)

    def peak_rss_mb(self) -> float:
        """Driver JVM high-water RSS plus the driver Python's max RSS."""
        jvm_pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{jvm_pid}/status") as fh:
            hwm_kb = next(int(l.split()[1]) for l in fh if l.startswith("VmHWM:"))
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return (hwm_kb + py_kb) / 1024.0


def census(bench: Bench, other) -> None:
    """Traced runs only: one set-up of the other workload and one untimed op
    of each of its kinds, so that every layer the run's own workload leaves
    idle is still measured (cold) rather than reported as zero."""
    other.generate()
    other.setup(0)
    seen = set()
    for _, (cls, fn) in zip(range(len(other.ROUND)), other.schedule()):
        if cls not in seen:
            seen.add(cls)
            bench.op(None, fn)
    other.finish()


def stop_spark(spark) -> None:
    """Stop the session, then end the gateway JVM (it exits when its stdin
    closes) and wait for it, so the run leaves no process behind."""
    if spark is None:
        return
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


def isolate(run_root: str, checkout: str) -> None:
    """Point every scratch location of Python, the JVM and Spark into
    ``run_root`` and pin the session shape."""
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(run_root, sub), exist_ok=True)
    tmp = os.path.join(run_root, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_root, "local")
    # no hsperfdata file: the JVM would write it under /tmp whatever the tmpdir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["MORTAR_SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (checkout, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.pop("PYSPARK_SUBMIT_ARGS", None)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["lake", "llm"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    checkout = os.getcwd()
    sys.path.insert(0, checkout)
    try:
        import mortar_parquet_support_spark  # noqa: F401  the program under test
    except ImportError as exc:
        print(f"perfbench: cannot import the package from {checkout}: {exc}", file=sys.stderr)
        return 2
    import lake
    import llm
    from spans import LAYERS

    run_root = os.path.join(checkout, ".perfbench_runs", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(run_root, ignore_errors=True)
    isolate(run_root, checkout)
    bench = Bench(args, run_root)
    classes = {"lake": lake.LakeWorkload, "llm": llm.LlmWorkload}
    workload = classes[args.workload](bench)
    others = [c for name, c in classes.items() if name != args.workload]
    cpu0 = _cpu_times()
    phases = {}

    def phase(name, fn):
        t0 = time.perf_counter()
        fn()
        phases[name] = time.perf_counter() - t0

    try:
        phase("generate", workload.generate)
        phase("session", bench.start_session)
        for rep in range(workload.SETUP_REPS):
            phase(f"setup{rep}", lambda: workload.setup(rep))
            bench.setup_reps.append(phases[f"setup{rep}"])
        phase("warm_up", workload.warm_up)
        rounds = bench.rounds(workload.ROUND_S)
        overhead0 = bench.tracer.overhead_s
        phase("loop", lambda: bench.loop(workload.schedule(), rounds * len(workload.ROUND)))
        loop_overhead_s = bench.tracer.overhead_s - overhead0
        phase("finish", workload.finish)
        if bench.traced:
            phase("census", lambda: census(bench, others[0](bench)))
        steal = steal_share(cpu0, _cpu_times())
        rss = bench.peak_rss_mb()
        bench.tracer.add("host.steal_share", steal)
        bench.tracer.add("driver.peak_rss_mb", rss)
        e2e = {
            "setup_s": bench.session_s + statistics.median(bench.setup_reps),
            **workload.end_to_end(),
        }
        layers = {k: bench.tracer.median(k) for k in LAYERS}
        # bookkeeping inside the timed ops only, over those ops' time
        layers["trace.overhead_share"] = loop_overhead_s / max(
            sum(sum(v) for v in bench.lat.values()), 1e-9
        )
        layers["spark.failed_tasks"] = sum(
            s["failed_tasks"] for s in bench.tracer.spans if s["parent"] is None
        )
    finally:
        stop_spark(bench.spark)
        shutil.rmtree(run_root, ignore_errors=True)

    print(f"# workload={args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}")
    print(f"# session: local[{os.environ['SPARK_GRAFT_CPUS']}] driver_mem={DRIVER_MEM} "
          f"steal_share={steal:.4f} peak_rss_mb={rss:.1f}")
    print("# phases (s): " + " ".join(f"{k}={v:.2f}" for k, v in phases.items()))
    for cls, vals in sorted(bench.lat.items()):
        pct, val = tail(vals)
        tail_txt = f"p{pct:.0f}={val:.4f} s" if pct else "tail n/a (<11 samples)"
        print(f"# {cls}: n={len(vals)} p50={statistics.median(vals):.4f} s {tail_txt} "
              f"samples={[round(v, 3) for v in vals]}")
    for name, (value, unit) in sorted(workload.report().items()):
        print(f"# {name} = {value:.6g} {unit}")
    if bench.traced:
        for cls, shares in sorted(bench.tracer.shares(bench.lat).items()):
            print(f"# {cls} time by span: " + " ".join(f"{k}={v:.3f}" for k, v in shares.items()))
        out_dir = os.path.join(checkout, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        bench.tracer.write(os.path.join(out_dir, f"trace-{args.workload}-s{args.seed}.json"))
        metrics = {k: {"value": v, "unit": LAYERS[k]} for k, v in layers.items()}
        for k, v in layers.items():
            print(f"# layer {k} = {v:.6g} {LAYERS[k]}")
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    sys.exit(main())
