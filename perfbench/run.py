"""Benchmark of the tiling engine: two closed-loop workloads, end-to-end
metrics with tracing off, per-layer metrics from a traced run.

Run from the root of a checkout:

    python3 perfbench/run.py --workload northstar --seed 1 --seconds 20 --trace 0

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.  The full report,
with every iteration's time and the load average, goes to
``.perfbench_out/``.  See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib.util
import json
import os
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import proc  # noqa: E402

#: task slots.  Fewer than the 4 vCPUs the benchmark was tuned on: the
#: JVM's own threads and the Python workers oversubscribe a full
#: ``local[4]``, which read both slower and noisier.
CORES = 2
#: small enough for a shared 15 GiB VM
DRIVER_MEMORY = "1g"
#: the measured window, which starts right after the cold iteration,
#: holds at least this many iterations.  An iteration is large enough
#: that the JIT is mostly warm after the cold one; the window's median
#: discards the rest of the warm-up.
MIN_SAMPLES = 3
OUT_DIR = ".perfbench_out"
WORK_DIR = ".perfbench_work"


def _process_age() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def session(work: str, event_dir: str | None):
    from mvtspark.session import get_spark

    from perfbench.workloads import INPUT_FILES

    tmp = os.path.join(work, "tmp")
    extra = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions":
            f"-Djava.net.preferIPv4Stack=true -Djava.io.tmpdir={tmp}",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.sql.files.minPartitionNum": str(INPUT_FILES),
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "false",
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        # uncompressed and in one file: the default zstd codec needs a
        # module this environment lacks
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark("perfbench", cores=CORES, extra=extra)


class Loop:
    """Runs a workload's iterations and records wall and CPU seconds."""

    def __init__(self, wl, spark, span):
        self.wl, self.spark, self.span = wl, spark, span
        self.before = None  # called with the iteration's index
        self.iters: list[dict] = []

    def one(self) -> dict:
        pid = os.getpid()
        if self.before:
            self.before(len(self.iters))
        c0, t0 = proc.cpu_seconds(pid), time.perf_counter()
        try:
            work, bad = self.wl.iterate(self.spark, self.span)
        except Exception as e:  # an iteration that raises counts as failed
            work, bad = {}, [f"{type(e).__name__}: {e}"]
        rec = {"wall_s": time.perf_counter() - t0,
               "cpu_s": proc.cpu_seconds(pid) - c0,
               "work": work, "failures": bad,
               "counters": dict(getattr(self.wl, "counters", {}))}
        if bad:
            print(f"[perfbench] iteration {len(self.iters)} failed: {bad}",
                  file=sys.stderr)
        self.iters.append(rec)
        return rec

    def run(self, seconds: float) -> list[dict]:
        """The measured window; returns its iterations."""
        start = len(self.iters)
        end = time.perf_counter() + seconds
        while time.perf_counter() < end or len(self.iters) - start < MIN_SAMPLES:
            self.one()
        return self.iters[start:]


def _shutdown() -> None:
    """Stop the session and the JVM, and wait until every process this
    run started has ended."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        jvm = gateway.proc
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        jvm.stdin.close()  # the JVM exits at end of input
        jvm.wait(timeout=60)
    deadline = time.monotonic() + 30
    while len(proc.tree(os.getpid())) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)


def _median(window: list[dict], key: str) -> float:
    return statistics.median(r[key] for r in window)


def run(args, work: str) -> dict:
    from perfbench import workloads

    report: dict = {"workload": args.workload, "seed": args.seed,
                    "seconds": args.seconds, "trace": args.trace,
                    "cores": CORES, "driver_memory": DRIVER_MEMORY,
                    "loadavg_start": proc.loadavg()}
    wl = workloads.WORKLOADS[args.workload](args.seed, os.path.join(work, "in"))
    # the event log is on in a traced run only
    event_dir = os.path.join(work, "events") if args.trace else None
    try:
        with proc.PeakRss(os.getpid()) as rss:
            spark = session(work, event_dir)
            wl.setup(spark)
            # from process start: interpreter, JVM launch, session, inputs
            # and the expected values
            setup_s = _process_age()
            if args.trace:
                from perfbench import trace

                traced = trace.traced_phase(wl, spark, args.seconds, Loop, event_dir, args.seed)
                iters, window = traced["iters"], traced["window"]
            else:
                loop = Loop(wl, spark, lambda name: contextlib.nullcontext())
                first = loop.one()
                window = loop.run(args.seconds)
                iters = loop.iters
            rss_peak = rss.peak
    finally:
        _shutdown()
    report.update({
        "setup_s": setup_s, "iterations": iters,
        "loadavg_end": proc.loadavg(),
        "rate": {f"{u}/s": statistics.median(r["work"].get(u, 0) / r["wall_s"] for r in window)
                 for u in window[0]["work"]},
    })
    if args.trace:
        report["traced"] = traced["report"]
        report["iter_s"] = traced["iter_s"]
        metrics = traced["metrics"]
    else:
        metrics = {
            "iter_s": (_median(window, "wall_s"), "s"),
            "first_iter_s": (first["wall_s"], "s"),
            "cpu_s": (_median(window, "cpu_s"), "s"),
            "setup_s": (setup_s, "s"),
            "peak_rss_mb": (rss_peak, "MB"),
        }
        report["iter_s"] = metrics["iter_s"][0]
    failed = sum(1 for r in iters if r["failures"])
    report["error_rate"] = failed / len(iters)
    report["metrics"] = {k: v for k, (v, _) in metrics.items()}
    return {
        "report": report,
        "result": {
            "correct": failed == 0,
            "attempted": len(iters),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        },
    }


def _untraced_reference(out_dir: str, workload: str, seed: int) -> dict | None:
    """The untraced report the tracing overhead is taken against: the one
    of the same workload and seed, else the newest of the same workload.
    It ran in a fresh process, as the traced run does, so the two differ
    only by the tracing and by the host's run-to-run drift."""
    same = os.path.join(out_dir, f"{workload}-seed{seed}-trace0.json")
    if os.path.exists(same):
        path = same
    else:
        names = [os.path.join(out_dir, n) for n in os.listdir(out_dir)
                 if n.startswith(f"{workload}-seed") and n.endswith("-trace0.json")]
        if not names:
            return None
        path = max(names, key=os.path.getmtime)
    with open(path) as f:
        return json.load(f)


def _span_table(report: dict) -> list[str]:
    """The traced run's per-span table and its tracing overhead, as text."""
    from perfbench.trace import SPAN_FIELDS

    keys = [k for k, _ in SPAN_FIELDS]
    lines = [f"{'span':40s}" + "".join(f"{k:>17s}" for k in keys)]
    for span, row in report["traced"]["spans"].items():
        lines.append(f"{span:40s}" + "".join(f"{row[k]:17.4f}" for k in keys))
    ref = report.get("untraced")
    if ref is None:
        lines.append(f"tracing overhead: no untraced report of {report['workload']} "
                     f"to compare with; run it with --trace 0 first")
    else:
        lines.append(f"tracing overhead: {report['tracing_overhead_s']:+.4f} s per iteration "
                     f"(traced iter_s {report['iter_s']:.4f}, untraced "
                     f"{ref['iter_s']:.4f} from seed {ref['seed']})")
    return lines


def main(argv=None) -> int:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    sys.path.insert(0, root)
    if importlib.util.find_spec("mvtspark") is None:
        print("perfbench: run from the root of a checkout (no mvtspark package here)",
              file=sys.stderr)
        return 2
    work = os.path.join(root, WORK_DIR, f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # Python workers find the package through PYTHONPATH; temporary files
    # stay inside the checkout
    os.environ["PYTHONPATH"] = root + os.pathsep + os.environ.get("PYTHONPATH", "")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    try:
        out = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(root, OUT_DIR), exist_ok=True)
    path = os.path.join(root, OUT_DIR,
                        f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    if args.trace:
        ref = _untraced_reference(os.path.join(root, OUT_DIR), args.workload, args.seed)
        if ref is not None:
            out["report"]["untraced"] = {"seed": ref["seed"], "iter_s": ref["metrics"]["iter_s"],
                                         "loadavg_start": ref["loadavg_start"]}
            out["report"]["tracing_overhead_s"] = (
                out["report"]["iter_s"] - out["report"]["untraced"]["iter_s"])
    with open(path, "w") as f:
        json.dump(out["report"], f, indent=1)
    if args.trace:
        lines = _span_table(out["report"])
        with open(path[:-len(".json")] + ".txt", "w") as f:
            f.write("\n".join(lines) + "\n")
        for line in lines:
            print("[perfbench] " + line)
    rate = out["report"]["rate"]
    print(f"[perfbench] {args.workload}: " + ", ".join(
        f"{v:.4g} {u}" for u, v in rate.items()) + f"; report {path}")
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
