"""KG-construction benchmark: one command, three workloads, one JSON line.

    python3 perfbench/run.py --workload build_mixed --seed 42 --seconds 10 --trace 0

Workloads (see perfbench/README.md for why each exists):

* ``build_mixed``  — ``pipeline.run_pipeline`` over a seeded docs table;
* ``revalidate``   — ``plans.validate.validate_batch`` over a pre-built store;
* ``delta_merge``  — ``operators.incremental`` merge → read → compact cycles.

Every workload is a closed loop on one ``local[4]`` session from
``session.get_spark``: each call into the engine waits for the previous
one.  After the workload's warm-up, calls repeat until ``--seconds`` have
elapsed.  With ``--trace 0`` the last stdout line carries the
end-to-end metrics; with ``--trace 1`` the same workload runs once traced
(spans + job groups + event log) and the line carries per-layer metrics.
Lines before it are a human-readable report.  Inputs, stores and Spark
scratch live under ``perfbench/work/`` and are removed when the run ends;
the report and trace files stay in ``perfbench/work/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(HERE, "work")

MASTER = "local[4]"
SETUP_SAMPLES = 5  # the first launches the JVM; setup_s is their median


# --------------------------------------------------------------------------
# host and process probes
# --------------------------------------------------------------------------

def burn_anchor(secs: float = 0.25) -> int:
    """Single-core pure-Python loop iterations in ``secs`` (host-speed anchor)."""
    t0 = time.perf_counter()
    n = 0
    while time.perf_counter() - t0 < secs:
        n += 1
    return n


def cpu_steal_s() -> float:
    """Host CPU time stolen from this VM so far (the ``steal`` column of /proc/stat)."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _children(pid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        if int(stat.rsplit(")", 1)[1].split()[1]) == pid:
            out.append(int(entry))
    return out


def process_tree(pid: int) -> list[int]:
    tree, frontier = [pid], [pid]
    while frontier:
        kids = _children(frontier.pop())
        tree += kids
        frontier += kids
    return tree


def peak_rss_by_pid(pids: list[int]) -> dict[int, float]:
    """pid → VmHWM (peak resident set) in MB, for the pids still alive."""
    out = {}
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        out[pid] = int(line.split()[1]) / 1024.0
        except OSError:
            continue
    return out


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


# --------------------------------------------------------------------------
# Spark session lifetime
# --------------------------------------------------------------------------

class Engine:
    """Owns the JVM: set-up samples, the live session, peak RSS, teardown."""

    def __init__(self, work: str, event_log_dir: str | None):
        local = os.path.join(work, "spark-local")
        os.makedirs(local, exist_ok=True)
        self.conf = {
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local}",
            "spark.ui.showConsoleProgress": "false",
        }
        if event_log_dir:
            os.makedirs(event_log_dir, exist_ok=True)
            self.conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = None
        self.setup_samples: list[float] = []

    def _start(self, tracer=None) -> None:
        from rdfshape_api_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", master=MASTER, extra_conf=self.conf)
        if tracer is not None:
            tracer.sc = self.spark.sparkContext
            tracer._set_group(tracer._stack[-1]["id"], "session")
        self.spark.range(1).count()
        self.setup_samples.append(time.perf_counter() - t0)

    def setup(self, tracer=None) -> None:
        """get_spark + a first trivial job, SETUP_SAMPLES times; the first
        launches the JVM, the others re-create the context inside it.  The
        traced session (if any) is the last one."""
        for i in range(SETUP_SAMPLES):
            if self.spark is not None:
                self.spark.stop()
            if tracer is not None and i == SETUP_SAMPLES - 1:
                with tracer.span("session"):
                    self._start(tracer)
            else:
                self._start()

    @property
    def jvm_pid(self) -> int:
        return self.spark.sparkContext._gateway.proc.pid

    def peak_rss_by_pid(self) -> dict[int, float]:
        """pid → peak RSS (MB) of the JVM and its Python daemon and workers."""
        return peak_rss_by_pid(process_tree(self.jvm_pid))

    def shutdown(self) -> None:
        """Stop the context, end the JVM, and wait for its Python workers."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        tree = process_tree(self.jvm_pid)
        gateway = self.spark.sparkContext._gateway
        self.spark.stop()
        gateway.shutdown()
        proc = gateway.proc
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - a JVM that ignores EOF is killed
            proc.kill()
            proc.wait(timeout=30)
        deadline = time.time() + 30
        while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in tree[1:]):
            time.sleep(0.1)
        for p in tree[1:]:
            if os.path.exists(f"/proc/{p}"):
                os.kill(p, 9)
        SparkContext._gateway = None
        SparkContext._jvm = None
        self.spark = None


# --------------------------------------------------------------------------
# the run
# --------------------------------------------------------------------------

class Run:
    def __init__(self, args, work: str, engine: Engine):
        self.args, self.work, self.engine = args, work, engine
        self.samples: dict[str, list[float]] = {}
        self.values: dict[str, tuple[float, str]] = {}  # name → (value, unit)
        self.layers: dict[str, float] = {}  # per-layer metrics of a traced run
        self.checks: list[tuple[str, bool]] = []
        self.attempted = 0
        self.failed = 0
        self.notes: dict = {}
        self.t0 = time.perf_counter()
        self.phases: list[tuple[str, float]] = []
        self.stem = ""  # results/<workload>-seed<n>-trace<t>-<pid>: report, spans, layers
        self.tracer = None  # spans.Tracer on --trace 1
        self.tracing = False  # True while the traced call runs
        self.rss: dict[int, float] = {}  # pid → peak RSS MB after the first measured call

    def mark(self, phase: str) -> None:
        """Record when a phase of the run ended (seconds since start)."""
        self.phases.append((phase, time.perf_counter() - self.t0, cpu_steal_s()))

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def check(self, name: str, ok: bool) -> bool:
        self.checks.append((name, bool(ok)))
        if not ok:
            self.failed += 1
            print(f"CHECK FAILED: {name}", file=sys.stderr, flush=True)
        return ok

    def call(self, fn, *a, **kw):
        """One closed-loop layer call: (wall seconds, result) or None if it raised."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn(*a, **kw)
        except Exception:  # noqa: BLE001 - a failed call is counted, the run goes on
            traceback.print_exc()
            self.failed += 1
            return None
        return time.perf_counter() - t0, out

    def loop(self, one, seconds: float, warmup: int = 1) -> None:
        """``warmup`` discarded calls, then calls until ``seconds`` have elapsed."""
        for i in range(warmup):
            one(i, warm=True)
        self.mark("warm-up")
        t_end = time.perf_counter() + seconds
        i = warmup
        while True:
            one(i, warm=False)
            self.mark(f"call{i}")
            if not self.rss:  # fixed point, so run length does not move it
                self.rss = self.engine.peak_rss_by_pid()
            i += 1
            if time.perf_counter() >= t_end:
                break
        self.mark("measure")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["build_mixed", "revalidate", "delta_merge"])
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # storage policy: Spark scratch and all outputs on the checkout's disk
    for var in ("SPARK_GRAFT_SHM_SHUFFLE", "SPARK_DRIVER_MEM", "SPARK_LOCAL_DIRS"):
        os.environ.pop(var, None)
    import rdfshape_api_spark  # noqa: F401 - fail fast outside a full checkout

    import workloads

    work = os.path.join(WORK_ROOT, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    results = os.path.join(WORK_ROOT, "results")
    os.makedirs(results, exist_ok=True)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = os.environ["TMPDIR"]

    engine = Engine(work, os.path.join(work, "eventlog") if args.trace else None)
    run = Run(args, work, engine)
    run.stem = os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}")
    run.notes.update(load_start=os.getloadavg(), burn_start=burn_anchor(), steal_start=cpu_steal_s())
    try:
        try:
            getattr(workloads, args.workload)(run, engine)
        finally:
            engine.shutdown()
        run.mark("shutdown")
        run.notes.update(load_end=os.getloadavg(), burn_end=burn_anchor(), steal_end=cpu_steal_s())
        if args.trace:
            workloads.fold_trace(run)
        rc = report(run, run.stem + ".json")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return rc


def report(run: Run, path: str) -> int:
    """Human-readable lines, the results file, and the last JSON line."""
    from spans import UNITS, per_layer_names

    if not run.samples.get("op_s") and not run.args.trace:
        print("no successful timed call", file=sys.stderr)
        return 1
    summary = {}
    for name, xs in run.samples.items():
        q1, med, q3 = quartiles(xs)
        summary[name] = {"median": med, "q1": q1, "q3": q3, "n": len(xs)}
        unit = "triples/s" if name.endswith("_per_s") else "s"
        print(f"{name:28s} median={med:.4f} q1={q1:.4f} q3={q3:.4f} n={len(xs)} {unit}")
    for name, (v, unit) in run.values.items():
        print(f"{name:28s} {v:.6g} {unit}")
    failed_ops = run.failed / max(run.attempted, 1)
    print(f"{'failed_ops':28s} {failed_ops:.6g} ratio ({run.failed}/{run.attempted})")
    correct = run.failed == 0 and all(ok for _, ok in run.checks)
    print("phases: " + " ".join(f"{n}@{t:.1f}s" for n, t, _ in run.phases))
    n = run.notes
    print(f"correct={correct} checks={len(run.checks)} load={n['load_start'][0]:.2f}->{n['load_end'][0]:.2f} "
          f"burn={n['burn_start']}->{n['burn_end']} steal={n['steal_end'] - n['steal_start']:.1f}s")

    if run.args.trace:
        metrics = {n: {"value": run.layers[n], "unit": UNITS[n.rsplit(".", 1)[1]]} for n in per_layer_names()}
    else:
        metrics = {n: {"value": summary[n]["median"], "unit": "s"} for n in ("op_s", "setup_s")}
        for n in ("triple_precision", "triple_recall"):
            metrics[n] = {"value": run.values[n][0], "unit": run.values[n][1]}
    with open(path, "w") as fh:
        json.dump({"args": vars(run.args), "timings": summary,
                   "values": {k: v for k, (v, _) in run.values.items()}, "layers": run.layers,
                   "checks": run.checks, "attempted": run.attempted, "failed": run.failed,
                   "notes": run.notes, "phases": run.phases, "correct": correct}, fh, indent=1)
    print(json.dumps({"correct": correct, "attempted": run.attempted,
                      "failed": min(run.failed, run.attempted),
                      "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
