"""Closed-loop benchmark of jena_spark on one local[4] Spark session.

Usage (from the repository root)::

    python3 perfbench/run.py --workload {query,maintain} \\
        --seed N --seconds S --trace {0,1}

One client, one op at a time. The seed makes the inputs (see
``workloads.py``); the program only receives the generated tables.
Every op's output is checked against a reference computed outside the
timed region. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: end-to-end metrics
with ``--trace 0``, per-layer metrics with ``--trace 1``. The line
before it carries sample counts and the workload-specific metric
names. A traced run also writes the per-layer table and its spans to
``.perfbench_out/``. ``NOTES.md`` explains the metrics.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4


class Bench:
    """Session-wide harness: job groups, spans, cache hygiene, RSS."""

    def __init__(self, spark, trace: bool, work: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.trace = trace
        self.work = work
        self.spans: list[dict] = []
        self.samples: dict[str, list[float]] = {}
        self.op = 0
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self._t0 = time.perf_counter()
        self._jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        self.peak_rss = 0
        self.rss_parts: dict = {}

    # -- timing ---------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str, group: bool = True):
        """Time one call into a layer; under ``--trace 1`` its Spark jobs
        run in job group ``name`` unless ``group`` is false (op-level
        spans, which enclose layer spans). Safe in worker threads."""
        group = group and self.trace
        if group:
            self.sc.setJobGroup(name, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self.spans.append({"name": name, "op": self.op,
                               "start": t0 - self._t0, "end": t1 - self._t0})
            self.samples.setdefault(name, []).append(t1 - t0)
            if group:
                self.sc.setJobGroup("perfbench", "perfbench")

    def record(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)

    # -- ops ------------------------------------------------------------

    def run_op(self, fn) -> bool:
        """Run one op from an empty cache; count it, and count it failed
        if it raises or its output check fails."""
        self.assert_clean()
        self.op += 1
        self.attempted += 1
        try:
            ok = fn()
        except Exception:  # noqa: BLE001 — the loop keeps running; counted failed
            traceback.print_exc()
            ok = False
        finally:
            self.sample_rss()
            self.clean()
        if not ok:
            self.failed += 1
        return ok

    def check(self, what: str, got, want) -> bool:
        if got != want:
            self.problems.append(f"{what}: got {got!r}, want {want!r}")
            print(f"CHECK FAILED {what}: got {got!r}, want {want!r}", file=sys.stderr)
            return False
        return True

    # -- cache hygiene --------------------------------------------------

    def _persistent_rdds(self):
        return self.sc._jsc.getPersistentRDDs()

    def clean(self) -> None:
        self.spark.catalog.clearCache()
        for rdd in list(self._persistent_rdds().values()):
            rdd.unpersist(True)

    def assert_clean(self) -> None:
        cached = self.spark._jsparkSession.sharedState().cacheManager().isEmpty()
        n_rdds = len(self._persistent_rdds())
        if not cached or n_rdds:
            raise RuntimeError(
                f"op {self.op + 1} would start with cached data "
                f"(cache manager empty={cached}, persisted RDDs={n_rdds})")

    # -- memory ---------------------------------------------------------

    def descendants(self) -> list[int]:
        """The JVM's pid and those of its descendant processes."""
        out, todo = [], [self._jvm_pid]
        while todo:
            p = todo.pop()
            out.append(p)
            try:
                tasks = os.listdir(f"/proc/{p}/task")
            except FileNotFoundError:
                continue
            for t in tasks:
                try:
                    with open(f"/proc/{p}/task/{t}/children") as f:
                        todo += [int(c) for c in f.read().split()]
                except FileNotFoundError:
                    pass
        return out

    def sample_rss(self) -> None:
        """Sum of VmHWM over the JVM and its Python worker processes."""
        hwm = []
        for p in self.descendants():
            try:
                with open(f"/proc/{p}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            hwm.append(int(line.split()[1]) * 1024)
            except FileNotFoundError:
                pass
        if sum(hwm) > self.peak_rss:
            self.peak_rss = sum(hwm)
            self.rss_parts = {"jvm_mb": hwm[0] / 1e6, "workers": len(hwm) - 1,
                              "workers_mb": sum(hwm[1:]) / 1e6}


def make_session(trace: bool, work: str, log_dir: str):
    from jena_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.driver.memory": "1g",
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions":
            f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark("perfbench", cores=CORES, shuffle_partitions=CORES,
                     extra_conf=conf)


def _running(pid: int) -> bool:
    """Whether ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except FileNotFoundError:
        return False


def stop(spark, bench: Bench | None) -> None:
    """Stop the session and the JVM it launched, and wait until the JVM
    and its Python worker processes have exited."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    children = bench.descendants() if bench is not None else []
    spark.stop()
    if proc is not None:
        proc.stdin.close()  # the gateway exits when its stdin closes
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while any(_running(p) for p in children):
        if time.monotonic() > deadline:
            raise RuntimeError("Spark's Python workers did not exit")
        time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["query", "maintain"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "jena_spark")):
        print(f"jena_spark package not found next to {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    log_dir = os.path.join(work, "eventlog")

    import workloads  # noqa: E402 — needs sys.path above

    spark = make_session(bool(args.trace), work, log_dir)
    bench = None
    try:
        bench = Bench(spark, bool(args.trace), work)
        wl = workloads.WORKLOADS[args.workload](bench, args.seed)
        e2e, layer = wl.run(args.seconds)
        bench.sample_rss()
        e2e["peak_rss_mb"] = bench.peak_rss / 1e6
    finally:
        stop(spark, bench)

    correct = not bench.problems and bench.failed == 0
    e2e["failed_frac"] = bench.failed / bench.attempted
    if args.trace:
        from layers import engine_counters, parse_event_log, per_layer_units

        logs = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
        layer.update(engine_counters(parse_event_log(logs[0])))
        units = per_layer_units()
        metrics = {k: {"value": float(layer.get(k, 0.0)), "unit": u}
                   for k, u in units.items()}
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"layers-{args.workload}-seed{args.seed}.json"),
                  "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "layers": metrics, "end_to_end": e2e,
                       "spans": bench.spans}, f, indent=1)
    else:
        units = workloads.E2E_UNITS
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in units.items()}
    shutil.rmtree(work, ignore_errors=True)

    detail = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "samples": {k: len(v) for k, v in bench.samples.items()},
              "named": wl.named(e2e), "end_to_end": e2e, "phases_s": wl.phases,
              "peak_rss": bench.rss_parts,
              "checks": wl.checks, "problems": bench.problems}
    print(json.dumps(detail))
    print(json.dumps({"correct": correct, "attempted": bench.attempted,
                      "failed": bench.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
