"""CDC engine benchmark: one command per workload run.

    python3 perfbench/run.py --workload tail_mux --seed 1 --seconds 30 --trace 0

Run it from the root of a checkout of this repository. Each run:

1. stages its input from ``--seed`` (cached per workload, seed and
   shape under ``.perfbench_work/stage``; untimed, outside ``setup_s``);
2. stamps the run with seed, cpus, source revision and the frozen
   ``bench.host_calibration()`` probe;
3. starts a local Spark session on every core (``local[nproc]``),
   sets the workload up, drains it and checks its output against the
   reference computations (``datagen.replay_oracle``,
   ``windows.sessionize_sql_closed``) outside the timed region;
4. prints the stamp line, then, as the last line, one JSON object:
   ``{"correct", "attempted", "failed", "metrics"}``. With
   ``--trace 0`` the metrics are the end-to-end ones; with
   ``--trace 1`` the layer entry points are wrapped (``spans.py``) and
   the metrics are the per-layer ones.

A run whose gate fails prints ``correct: false`` with no metrics and
exits 1. Without ``movex_cdc_spark`` next to this directory the run
exits 2 before printing anything.

``--seconds`` sets the number of timed epochs: seconds divided by the
workload's nominal epoch time on a 4-core host (at least 2). The work
of a run is therefore fixed by its arguments, not by the host's speed.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

END_TO_END_UNITS = {
    "setup_s": "s",
    "events_per_s": "events/s",
    "epoch_p50_s": "s",
    "read_s": "s",
}


def layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith(("_ratio", "_share")):
        return "ratio"
    return "count"


@dataclass
class Context:
    seed: int
    seconds: int
    cpus: int
    stage_root: str
    run_root: str
    tracer: object | None

    def start_session(self):
        """Start the engine's Spark session; returns (spark, seconds)."""
        from movex_cdc_spark.session import get_spark

        t0 = time.monotonic()
        spark = get_spark(
            app_name="perfbench",
            cpus=self.cpus,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                # above any epoch count here: progress never truncates
                "spark.sql.streaming.numRecentProgressUpdates": "1000",
                "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
                # hsperfdata always goes to /tmp: UsePerfData off keeps
                # the JVM's files inside the work dir
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}"
                    f" -Dderby.system.home={os.path.join(WORK, 'derby')}"
                    " -XX:-UsePerfData",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        return spark, time.monotonic() - t0


def source_revision() -> dict:
    """git commit when the checkout is a repository, and always a
    digest of the engine sources (a checkout may carry no .git)."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "movex_cdc_spark")
    for d, _dirs, files in sorted(os.walk(pkg)):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=30)
        commit = r.stdout.strip() or None
    return {"git_commit": commit, "source_sha256": h.hexdigest()[:16]}


def stop_spark() -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        proc.wait(timeout=60)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=24)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "movex_cdc_spark", "__init__.py")):
        print(f"movex_cdc_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # Spark's Python workers do not inherit sys.path: the package must
    # be importable through the environment the JVM passes on
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # spark-submit's launcher JVM

    import workloads
    from bench import host_calibration

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2

    t_start = time.monotonic()
    cpus = len(os.sched_getaffinity(0))
    stamp = {"workload": args.workload, "seed": args.seed, "cpus": cpus, "trace": args.trace,
             **source_revision(), "host_calibration": host_calibration()}
    run_root = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_root, ignore_errors=True)
    tracer = None
    if args.trace:
        import spans

        tracer = spans.Tracer()
    ctx = Context(args.seed, args.seconds, cpus, os.path.join(WORK, "stage"), run_root, tracer)
    try:
        out = workloads.WORKLOADS[args.workload](ctx)
        error = None
    except workloads.GateError as e:
        out, error = None, str(e)
    finally:
        stop_spark()
        shutil.rmtree(run_root, ignore_errors=True)

    if out is None or out.failed:
        stamp["error"] = error or f"{out.failed} correctness gate(s) failed"
        print(json.dumps({"stamp": stamp}))
        attempted = out.attempted if out else 1
        print(json.dumps({"correct": False, "attempted": attempted,
                          "failed": out.failed if out else 1, "metrics": {}}))
        return 1
    stamp.update(out.info, run_wall_s=time.monotonic() - t_start)
    print(json.dumps({"stamp": stamp}))
    if args.trace:
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in out.per_layer.items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in out.end_to_end.items()}
    print(json.dumps({"correct": True, "attempted": out.attempted, "failed": 0,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
