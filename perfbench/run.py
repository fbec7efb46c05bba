"""CDC-core benchmark: one workload, one seed, one JSON result line.

Usage, from the repository root::

    python3 perfbench/run.py --workload bulk_catchup --seed 1 --seconds 10 --trace 0

Workloads are defined in ``perfbench/workloads.py`` and documented,
with every metric, in ``perfbench/README.md``. The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0`` the
end-to-end metrics, with ``--trace 1`` the per-layer metrics of a
separate traced pass (which first repeats the untraced pass, to report
the tracing overhead). Spark and Python logs go to
``.perfbench_work/logs/``; every file a run writes stays under
``.perfbench_work/`` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import logging
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

from layers import UNITS as LAYER_UNITS
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
# local[k]: k executor threads, capped by the host's cores
K = min(4, os.cpu_count() or 1)
# the driver's maximum heap (-Xmx): fixed so peak_rss_mb does not follow
# the host's RAM, while resident size still follows the heap the engine
# touches
DRIVER_MEMORY = "2g"
# bounds a run when rounds are much faster than sized for
MAX_ROUNDS = 4

E2E_UNITS = {
    "events_per_sec": "1/s",
    "commit_latency_p50_s": "s",
    "commit_latency_p90_s": "s",
    "bootstrap_rows_per_sec": "1/s",
    "snapshot_read_s": "s",
    "lookup_p50_s": "s",
    "lookup_p90_s": "s",
    "changes_read_s": "s",
    "lake_bytes_per_live_row": "B",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants (the
    JVM runs as a child), sampled from /proc while not paused. Each
    process counts its proportional set size, so a child that shares
    pages with its parent (a fork before exec) is not counted twice."""

    def __init__(self, period: float = 0.5):
        super().__init__(daemon=True)
        self.period = period
        self.peak_kb = 0
        self.peak_self_kb = 0
        self._paused = threading.Event()
        self._halt = threading.Event()

    def pause(self):
        self._paused.set()

    def resume(self):
        self._paused.clear()

    def stop(self):
        self._halt.set()
        self.join(timeout=5)

    @staticmethod
    def _pss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def _tree_kb(self) -> tuple[int, int]:
        parent: dict[int, int] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    # the command name may contain spaces: fields after ")"
                    parent[int(name)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
        me = os.getpid()
        tree, frontier = set(), {me}
        while frontier:
            tree |= frontier
            frontier = {p for p, pp in parent.items() if pp in frontier} - tree
        own = self._pss_kb(me)
        return own + sum(self._pss_kb(p) for p in tree - {me}), own

    def run(self):
        while not self._halt.wait(self.period):
            if not self._paused.is_set():
                total, own = self._tree_kb()
                self.peak_kb = max(self.peak_kb, total)
                self.peak_self_kb = max(self.peak_self_kb, own)


def host_probe() -> float | None:
    """Wall seconds of scripts/host_probe.measure_mem(1): the host's
    memory-bus speed at this moment, recorded beside the metrics."""
    code = (
        "import sys; sys.path.insert(0, sys.argv[1]);"
        "from scripts.host_probe import measure_mem;"
        "print(measure_mem(1, trials=1))"
    )
    try:
        out = subprocess.run(
            [sys.executable, "-c", code, ROOT], capture_output=True,
            text=True, timeout=60, check=True,
        )
        return float(out.stdout.strip().splitlines()[-1])
    except (subprocess.SubprocessError, ValueError, IndexError):
        return None


def start_spark(work: str, event_log: str | None = None):
    from tartare_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(
        master=f"local[{K}]", app_name="perfbench", shuffle_partitions=K,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def percentile(values: list[float], q: float) -> float:
    import numpy as np

    return float(np.percentile(values, q)) if values else 0.0


def e2e_metrics(rounds: list[dict], snapshot_rows: int, peak_rss_mb: float) -> dict:
    med = statistics.median
    pool = lambda key: [v for r in rounds for v in r[key]]  # noqa: E731
    commits, lookups = pool("commit_s"), pool("lookup_s")
    return {
        "events_per_sec": med(r["events_in"] / r["write_s"] for r in rounds),
        "commit_latency_p50_s": percentile(commits, 50),
        "commit_latency_p90_s": percentile(commits, 90),
        "bootstrap_rows_per_sec": med(snapshot_rows / b for b in pool("bootstrap_s")),
        "snapshot_read_s": med(pool("snapshot_s")),
        "lookup_p50_s": percentile(lookups, 50),
        "lookup_p90_s": percentile(lookups, 90),
        "changes_read_s": med(pool("changes_s")),
        "lake_bytes_per_live_row": med(r["bytes_per_live_row"] for r in rounds),
        "peak_rss_mb": peak_rss_mb,
        "setup_s": med(pool("setup_s")),
    }


def run_rounds(spark, w, inp, work, seconds, tracer, rss, prefix) -> list[dict]:
    """Rounds of ``w`` until the timed sections add up to ``seconds``
    and the workload's ``min_rounds`` have run. The first round also
    reads; later ones set up and write only."""
    from workloads import run_round

    rounds: list[dict] = []
    measured = 0.0
    while len(rounds) < MAX_ROUNDS:
        r = run_round(spark, w, inp, work, f"{prefix}{len(rounds)}", tracer,
                      rss, reads=not rounds)
        r["tag"] = f"{prefix}{len(rounds)}"
        rounds.append(r)
        measured += r["measured_s"]
        if r["failed"] or (measured >= seconds and len(rounds) >= w.min_rounds):
            break
    return rounds


def run(args, work: str, log_dir: str) -> tuple[dict, dict]:
    from layers import layer_metrics
    from spans import NullTracer, Tracer, attribute_jobs, read_event_log
    from workloads import make_inputs, run_round, warmup_of

    w = WORKLOADS[args.workload]
    seed = args.seed % (2**63)
    context: dict = {"workload": w.name, "seed": args.seed, "k": K,
                     "buckets": w.buckets, "host_mem_probe_before_s": host_probe()}
    warm = warmup_of(w)

    def generate():
        t = time.perf_counter()
        inp = make_inputs(w, seed, os.path.join(work, "input"))
        warm_inp = make_inputs(warm, seed, os.path.join(work, "warmup-input"))
        return inp, warm_inp, time.perf_counter() - t

    rss = RssSampler()
    rss.pause()  # input generation is the benchmark's memory, not the engine's
    rss.start()
    # the generator (Python) overlaps the JVM start (a child process)
    with ThreadPoolExecutor(1) as pool:
        gen = pool.submit(generate)
        t = time.perf_counter()
        spark = start_spark(work)
        context["spark_start_s"] = time.perf_counter() - t
        inp, warm_inp, context["input_gen_s"] = gen.result()
    rss.resume()
    t = time.perf_counter()
    warm_round = run_round(spark, warm, warm_inp, work, "warmup", NullTracer(), rss)
    context["warmup_s"] = time.perf_counter() - t
    rounds = run_rounds(spark, w, inp, work, args.seconds, NullTracer(), rss, "r")
    e2e = e2e_metrics(rounds, inp.snapshot_rows, rss.peak_kb / 1024.0)

    metrics = e2e
    traced: list[dict] = []
    if args.trace:
        spark.stop()
        event_log = os.path.join(work, "eventlog")
        spark = start_spark(work, event_log=event_log)
        tracer = Tracer()
        tracer.install()
        try:
            traced = run_rounds(spark, w, inp, work, args.seconds, tracer, None, "t")
        finally:
            tracer.uninstall()
        spark.stop()
        tracer.dump(os.path.join(log_dir, "spans.jsonl"))
        jobs = read_event_log(event_log)
        attribute_jobs(tracer.spans, jobs)
        traced_e2e = e2e_metrics(traced, inp.snapshot_rows, 0.0)
        metrics = layer_metrics(tracer.spans, jobs, traced, K)
        metrics["trace.overhead_s"] = statistics.median(
            r["measured_s"] for r in traced
        ) - statistics.median(r["measured_s"] for r in rounds)
        context["trace_overhead"] = {
            m: traced_e2e[m] - e2e[m] for m in e2e if m != "peak_rss_mb"
        }
    else:
        spark.stop()
    rss.stop()

    all_rounds = [warm_round] + rounds + traced
    context["peak_rss_python_mb"] = rss.peak_self_kb / 1024.0
    context["host_mem_probe_after_s"] = host_probe()
    context["rounds"] = len(rounds)
    context["traced_rounds"] = len(traced)
    context["triggers_per_round"] = [len(r["commit_s"]) for r in rounds]
    context["errors"] = [e for r in all_rounds for e in r["errors"]]
    context["e2e"] = e2e
    context["round_details"] = [
        {k: v for k, v in r.items() if k != "progress"} for r in all_rounds
    ]
    result = {
        "correct": all(r["check"].get("ok") for r in all_rounds),
        "attempted": sum(r["attempted"] for r in all_rounds),
        "failed": sum(r["failed"] for r in all_rounds),
        "metrics": metrics,
    }
    inp.referee.close()
    warm_inp.referee.close()
    return result, context


def stop_jvm() -> None:
    """Shut the py4j gateway down and wait for the JVM to exit, so no
    process of the run outlives it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on end of input
        proc.wait(timeout=60)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "tartare_spark")):
        print("perfbench: tartare_spark not found beside perfbench/; run "
              "from a full checkout of the repository", file=sys.stderr)
        return 2

    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    work = os.path.join(WORK_ROOT, "runs", name)
    log_dir = os.path.join(WORK_ROOT, "logs", name)
    for d in (work, log_dir, os.path.join(work, "tmp")):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # few malloc arenas: the JVM's native footprint stops depending on
    # how many threads happened to allocate
    os.environ["MALLOC_ARENA_MAX"] = "2"
    # the launcher JVM and the driver JVM: no /tmp/hsperfdata, tmp in work
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    )
    import tempfile

    tempfile.tempdir = None
    sys.path.insert(0, ROOT)

    # stdout carries the result lines only: everything else, from this
    # process and the JVM it starts, goes to the log file
    out_fd = os.dup(1)
    err_fd = os.dup(2)
    log_fd = os.open(os.path.join(log_dir, "run.log"),
                     os.O_WRONLY | os.O_CREAT | os.O_APPEND, 0o644)
    os.dup2(log_fd, 1)
    os.dup2(log_fd, 2)
    logging.basicConfig(level=logging.WARNING, stream=sys.stderr)
    logging.captureWarnings(True)

    def emit(line: str) -> None:
        os.write(out_fd, (line + "\n").encode())

    try:
        result, context = run(args, work, log_dir)
    except Exception:  # noqa: BLE001 - the boundary: log, report, fail
        traceback.print_exc()
        sys.stderr.flush()
        os.write(err_fd, f"perfbench: run failed, see {log_dir}/run.log\n".encode())
        return 1
    finally:
        stop_jvm()
        sys.stdout.flush()
        sys.stderr.flush()
        shutil.rmtree(work, ignore_errors=True)

    with open(os.path.join(log_dir, "report.json"), "w") as f:
        json.dump({"result": result, "context": context}, f, indent=1)
    units = LAYER_UNITS if args.trace else E2E_UNITS
    emit(json.dumps({"context": {
        k: v for k, v in context.items() if k not in ("e2e", "round_details")
    }}))
    emit(json.dumps({
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {
            m: {"value": float(v), "unit": units[m]}
            for m, v in result["metrics"].items()
        },
    }))
    ok = result["correct"] and result["failed"] == 0
    if not ok:
        os.write(err_fd, b"perfbench: correctness check failed\n")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
