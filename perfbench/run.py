"""Benchmark entry point.

    python3 perfbench/run.py --workload kg_materialize --seed 1 --seconds 1 --trace 0

Run from the repository root. Set-up starts a local Spark session sized
for this machine, writes the workload's inputs from ``--seed`` and makes
the workload's untimed warm-up call. With ``--trace 0`` it then repeats
the workload's call until ``--seconds`` have passed (at least once),
checking each call's output, and reports the end-to-end metrics.
With ``--trace 1`` it turns the Spark event log on, makes one whole call
and then calls each layer's public function in turn, and reports the
per-layer metrics. Metric names and units come from ``BENCHMARK.json``.

Every metric is printed on a ``metric`` line; a ``context`` line records
the machine's state; the last line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``. The exit code is 0
only when every output check passed.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback
from contextlib import contextmanager
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "csv_to_jsonld_processor_spark"
MAX_CPUS = 4

# per-layer event-log metrics reported for each of these modules
EVENT_LAYERS = (
    "sources.pages", "kg.mentions", "kg.link", "kg.graph", "kg.lineage", "vocabulary",
    "operators.instance_steps", "operators.violations", "plans.pipeline",
)


def probe_seconds() -> float:
    """The single-thread loop bench.py times beside every run: it shows
    how fast this machine's cores were during the run."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(10_000_000):
        acc += i * i
    return time.perf_counter() - t0


def driver_memory_mb() -> int:
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return max(1024, min(4096, total_kb // 1024 // 16))


def cpus() -> int:
    return min(MAX_CPUS, len(os.sched_getaffinity(0)))


def _children() -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        out.setdefault(ppid, []).append(int(d))
    return out


def descendants(pid: int) -> list[int]:
    children, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        kids = children.get(p, [])
        out.extend(kids)
        todo.extend(kids)
    return out


def tree_pss_bytes(pid: int) -> int:
    """Resident memory of ``pid`` and every process below it: this
    benchmark's Python driver, the Spark JVM and its Python workers.
    Proportional set sizes are summed, so pages that forked workers share,
    or that a child shares with the JVM while it spawns, count once."""
    total = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                total += next(int(line.split()[1]) for line in f if line.startswith("Pss:")) * 1024
        except (OSError, StopIteration):
            pass
    return total


class PeakRss:
    """Samples ``tree_pss_bytes`` of this process on a thread until stopped."""

    INTERVAL_S = 0.5

    def __init__(self) -> None:
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._sample, daemon=True)

    def _sample(self) -> None:
        while True:
            self.peak = max(self.peak, tree_pss_bytes(os.getpid()))
            if self._stop.wait(self.INTERVAL_S):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_pss_bytes(os.getpid()))


class Spans:
    """Layer spans of the traced run: each sets the Spark job group, so
    the event log can attribute its tasks, and records its wall time."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.times: dict[str, float] = {}
        self.intervals: list[tuple[float, float]] = []

    @contextmanager
    def __call__(self, name: str):
        self.sc.setJobGroup(name, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self.sc.setJobGroup("untraced", "checks between spans")
            self.times[name] = t1 - t0
            if name != "e2e":
                self.intervals.append((t0, t1))

    def coverage(self) -> float:
        wall = self.intervals[-1][1] - self.intervals[0][0]
        return sum(b - a for a, b in self.intervals) / wall


def start_spark(work: Path, n: int, mem_mb: int, event_log: str | None):
    from csv_to_jsonld_processor_spark.session import get_spark

    conf = {
        "spark.driver.memory": f"{mem_mb}m",
        # a heap resident from the start keeps the JVM's share of peak_rss_mb
        # from tracking when G1 happens to grow it
        "spark.driver.extraJavaOptions": f"-Xms{mem_mb}m -XX:+AlwaysPreTouch "
                                         f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        "spark.local.dir": str(work / "tmp"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "true" if event_log else "false",
    }
    if event_log:
        conf.update({"spark.eventLog.dir": event_log, "spark.eventLog.rolling.enabled": "false",
                     "spark.eventLog.compress": "false"})
    spark = get_spark("perfbench", cpus=n, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def stop_spark(spark) -> None:
    """Stops the session and waits for the JVM and its Python workers."""
    from pyspark import SparkContext

    started = descendants(os.getpid())
    proc = SparkContext._gateway.proc if SparkContext._gateway else None
    spark.stop()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 20
    while any(_running(p) for p in started) and time.monotonic() < deadline:
        time.sleep(0.2)
    for p in filter(_running, started):
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def timed_calls(wl, sc, seconds: float) -> dict:
    """Repeats the workload's call until ``seconds`` have passed (at least
    once), checking every call's output outside its timed span."""
    runs, jobs, peaks, triples, failed = [], [], [], [], 0
    t_start = time.perf_counter()
    i = 0
    while i == 0 or time.perf_counter() - t_start < seconds:
        group = f"call.{i}"
        sc.setJobGroup(group, group)
        try:
            with PeakRss() as rss:
                t0 = time.perf_counter()
                n = wl.call(i)
                dt = time.perf_counter() - t0
            sc.setJobGroup("untraced", "output check")
            wl.check(i)
        except Exception:
            traceback.print_exc()
            failed += 1
        else:
            print(f"call {i}: {dt:.2f} s", file=sys.stderr, flush=True)
            runs.append(dt)
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
            peaks.append(rss.peak / 2**20)
            triples.append(n / dt)
        i += 1
    if not runs:
        return {"attempted": i, "failed": failed, "metrics": {}}
    return {
        "attempted": i,
        "failed": failed,
        "metrics": {
            "run_s": statistics.median(runs),
            "triples_per_s": statistics.median(triples),
            "spark_jobs": statistics.median(jobs),
            "peak_rss_mb": statistics.median(peaks),
        },
    }


def traced_metrics(wl, spans: Spans, own: dict, event_log: str) -> dict:
    from eventlog import METRICS, layer_metrics, read_event_log

    groups = read_event_log(event_log)
    out = {f"{name}_s": t for name, t in spans.times.items() if name != "e2e"}
    out.update(own)
    for layer in EVENT_LAYERS:
        lm = layer_metrics(groups, layer)
        out.update({f"{layer}.{m}": lm[m] for m in METRICS})
    out.update(wl.from_event_log(groups))
    e2e = spans.times["e2e"]
    out["trace.coverage"] = spans.coverage()
    out["trace.staged_gap_frac"] = (e2e - sum(spans.times[s] for s in wl.STAGED)) / e2e
    return out


def set_paths() -> None:
    """Makes the package (from this checkout), the test oracle and this
    directory importable, here and in Spark's Python workers."""
    sys.path[:0] = [str(ROOT), str(ROOT / "tests"), str(HERE)]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )


def load_contract() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def run(workload: str, seed: int, seconds: float, trace: bool, **sizes) -> dict:
    """Runs one workload and returns the result, including every metric
    the workload measured and its output counts."""
    import workloads

    n, mem = cpus(), driver_memory_mb()
    context = {"probe_s": probe_seconds(), "loadavg_1m": os.getloadavg()[0],
               "cpus": n, "driver_memory_mb": mem}
    work = ROOT / ".perfbench_work" / f"{workload}-{seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    event_log = None
    if trace:
        event_log = str(work / "eventlog")
        os.makedirs(event_log)

    result = {"context": context, "correct": False, "attempted": 1, "failed": 1, "metrics": {}}
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(work, n, mem, event_log)
        t1 = time.perf_counter()
        wl = workloads.WORKLOADS[workload](spark, work, seed, **sizes)
        wl.prepare()
        t2 = time.perf_counter()
        wl.warm_up()
        t3 = time.perf_counter()
        setup_s = t3 - t0
        print(f"set-up: session {t1 - t0:.1f} s, inputs {t2 - t1:.1f} s, warm-up {t3 - t2:.1f} s",
              file=sys.stderr, flush=True)
        sc = spark.sparkContext
        if trace:
            spans = Spans(sc)
            own = wl.trace(spans)
            stop_spark(spark)
            spark = None
            result.update(correct=True, failed=0,
                          metrics=traced_metrics(wl, spans, own, event_log))
        else:
            timed = timed_calls(wl, sc, seconds)
            timed["metrics"]["setup_s"] = setup_s
            result.update(timed, correct=timed["failed"] == 0)
        result["counts"] = wl.counts
        result["layers"] = wl.LAYERS
    except Exception:
        traceback.print_exc()
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:  # another run is using it
            pass
    return result


def report(result: dict, trace: bool) -> dict:
    """The contract's last line: every metric BENCHMARK.json names for
    this mode, with its unit. Layers the workload does not run read 0;
    any other metric the run could not measure makes it incorrect."""
    contract = load_contract()
    specs = contract["per_layer" if trace else "end_to_end"]
    metrics = {}
    for spec in specs:
        value = result["metrics"].get(spec["name"])
        if value is None and "layers" in result and not spec["name"].startswith(result["layers"]):
            value = 0.0
        if value is None:
            if result["correct"]:
                print(f"missing metric {spec['name']}", file=sys.stderr)
            result["correct"] = False
            continue
        metrics[spec["name"]] = {"value": float(value), "unit": spec["unit"]}
    return {"correct": result["correct"], "attempted": result["attempted"],
            "failed": result["failed"], "metrics": metrics}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    set_paths()
    if importlib.util.find_spec(PACKAGE) is None:
        print(f"{PACKAGE} is not importable from {ROOT}", file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload}; one of {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2

    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    line = report(result, bool(args.trace))
    print("context " + json.dumps(result["context"]))
    for name, m in line["metrics"].items():
        print(f"metric {name} {m['value']:.6g} {m['unit']}")
    if not args.trace:
        print(f"metric failed_frac {line['failed'] / line['attempted']:.6g} ratio")
    print(json.dumps(line), flush=True)
    return 0 if line["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
