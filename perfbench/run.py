"""zellige-spark benchmark: one named workload from one seed.

    python3 perfbench/run.py --workload pyramid --seed 1 --seconds 15 --trace 0

Workloads (README.md has sizes, metrics and reference figures):

* ``pyramid``  point MVT pyramid z0-14 committed to a TileStore, then one
  ``refresh_dirty_tiles`` for a ~1% delta;
* ``features`` GeoJSON LineStrings/Polygons tiled at z12 with
  Douglas-Peucker through ``read_geojson_distributed`` ->
  ``assign_feature_tiles`` -> ``assemble_feature_tiles``;
* ``joins``    ``pip_join_broadcast`` of the point table against polygons
  over its clusters, then ``knn_kring_adaptive`` for a fixed query set.

Each run starts one Spark session, warms up with one round, repeats
whole rounds for ``--seconds`` and reports medians over the rounds.
With ``--trace 0`` it prints the end-to-end metrics, with ``--trace 1``
the per-layer metrics.  Every output is checked against numpy /
plain-Python computations in ``checks.py``.  The last line of standard
output is one JSON object: correct, attempted, failed, metrics.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()


def _process_age() -> float:
    """Seconds since this process started (Linux /proc), 0 elsewhere."""
    try:
        with open("/proc/self/stat") as f:
            start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
        import os
        return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))
    except (OSError, ValueError, IndexError):
        return 0.0


_AGE0 = _process_age()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
INPUT_VERSION = "v1"


def elapsed() -> float:
    """Seconds since the process started."""
    return _AGE0 + time.perf_counter() - _T0


class Run:
    """Per-run state: arguments, work directories, session and tracer."""

    def __init__(self, args):
        self.args = args
        self.seed = args.seed
        self.trace = bool(args.trace)
        self.dir = os.path.join(WORK, f"run-{os.getpid()}")
        self.cache = os.path.join(WORK, "inputs", f"{args.workload}-{args.seed}-{INPUT_VERSION}")
        self.gen_s = 0.0
        self.spark = None
        self.tracer = None
        self.layer = {}
        self.layer_out = {}
        self.eventlog = None
        self.attempted = 0
        self.failed = 0
        self.errors = []

    def cached(self, name: str, make):
        """Run ``make(path)`` unless the input at ``path`` exists; the
        time spent making inputs is kept out of ``setup_s``."""
        path = os.path.join(self.cache, name)
        if not os.path.exists(path + ".done"):
            t = time.perf_counter()
            os.makedirs(self.cache, exist_ok=True)
            make(path)
            open(path + ".done", "w").close()
            self.gen_s += time.perf_counter() - t
        return path

    def start(self):
        from zellige_spark.session import get_spark

        import spans

        cores = max(1, min(4, len(os.sched_getaffinity(0))))
        extra = {"spark.driver.memory": "2g",
                 "spark.ui.showConsoleProgress": "false",
                 "spark.local.dir": os.path.join(self.dir, "spark-local")}
        if self.trace:
            self.eventlog = os.path.join(self.dir, "eventlog")
            os.makedirs(self.eventlog, exist_ok=True)
            extra.update({"spark.eventLog.enabled": "true",
                          "spark.eventLog.rolling.enabled": "false",
                          "spark.eventLog.compress": "false",
                          "spark.eventLog.dir": "file://" + self.eventlog})
        t = time.perf_counter()
        self.spark = get_spark(app=f"perfbench-{self.args.workload}",
                               master=f"local[{cores}]",
                               shuffle_partitions=cores, extra=extra)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.layer["session.start_s"] = time.perf_counter() - t
        self.tracer = spans.Tracer(self.spark, enabled=False)

    def stop(self):
        """Stop the session and wait for its JVM (and with it the Python
        workers) to exit."""
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        proc = getattr(getattr(sc, "_gateway", None), "proc", None)
        try:
            self.spark.stop()
        finally:
            self.spark = None
            if proc is not None:
                try:
                    proc.stdin.close()
                except OSError:
                    pass
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)

    def stop_and_read_events(self) -> dict:
        """Stop the session (flushing the event log) and return the
        per-job-group task metrics."""
        import spans

        self.stop()
        return spans.read_event_log(self.eventlog)

    @staticmethod
    def elapsed() -> float:
        return elapsed()

    def check(self, what: str, errs: list) -> None:
        for e in errs[:10]:
            self.errors.append(f"{what}: {e}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "zellige_spark", "__init__.py")):
        print(f"zellige_spark is not in {ROOT}: run from a checkout of the repository",
              file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])

    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2
    spec = workloads.WORKLOADS[args.workload]

    run = Run(args)
    os.makedirs(run.dir, exist_ok=True)
    try:
        metrics = spec(run)
    finally:
        try:
            run.stop()
        finally:
            shutil.rmtree(run.dir, ignore_errors=True)

    for e in run.errors:
        print("CHECK FAILED", e, file=sys.stderr)
    if run.trace:
        trace_dir = os.path.join(WORK, "traces")
        run.tracer.dump(os.path.join(trace_dir, f"{args.workload}-{args.seed}.json"))
        out = {k: {"value": v, "unit": u} for k, (v, u) in run.layer_out.items()}
    else:
        out = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    print(json.dumps({"correct": not run.errors, "attempted": run.attempted,
                      "failed": run.failed, "metrics": out}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
