"""Layered parse->route benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload s3_route --seed 1 --seconds 6 --trace 0

Generates the workload's pages from the seed, starts a Spark session and
warms it with one small untimed run (together ``setup_s``), then runs the
whole workload again and again for ``--seconds`` of timed work, at least
four times, checking every run's output against the generator's sidecar
outside the timed interval.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` also times each
layer as a cumulative prefix drained into a ``noop`` sink, reads Spark's
SQL metrics for each span, writes the spans to
``perfbench/.out/trace-<workload>-<seed>.json`` and prints the per-layer
metrics. The last stdout line is the JSON result.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# input sizes in pages (~20 lines each); see README.md for the sizing
PAGES = {"s3_route": 4000, "s3_cascade_agg": 6000, "ltsv_pipeline": 2000}
WARM_PAGES_PER_FILE = 25
MIN_RUNS = 4
MIN_TRACE_ROUNDS = 1


def _session_conf(work: str) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    return {
        "spark.driver.memory": "1g",
        # A heap committed and touched up front keeps the JVM's resident
        # size from drifting with GC timing, so peak_rss_mb moves with the
        # off-heap and Python worker memory the program controls. The rest
        # keeps every file the JVM writes inside the work directory.
        "spark.driver.extraJavaOptions": (
            f"-Xms1g -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        ),
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.session.timeZone": "UTC",
    }


def start_session(work: str, cores: int):
    from access_log_parser_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=max(cores, 8),
        extra_conf=_session_conf(work),
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    # the gateway JVM exits when its stdin closes
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def _tree(root: int) -> dict[int, list[str]]:
    """``root`` and all its descendants (the driver JVM, the Python daemon
    and its workers), each with its /proc stat fields after the name."""
    stats: dict[int, list[str]] = {}
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        stats[int(entry)] = fields
        children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        if pid in stats:
            out[pid] = stats[pid]
    return out


_TICK = os.sysconf("SC_CLK_TCK")


def _tree_cpu_seconds(root: int) -> float:
    """CPU time the tree has used, its reaped children included. Time the
    hypervisor gave to other guests (steal) is not in it."""
    # utime, stime, cutime, cstime are fields 14-17 of /proc/<pid>/stat
    return sum(sum(int(f[k]) for k in range(11, 15)) for f in _tree(root).values()) / _TICK


def _tree_pss_bytes(root: int) -> int:
    """Resident bytes of the tree, each process counting its proportional
    set size: pages a forked worker still shares with the daemon are split
    between them, not counted once per process."""
    total = 0
    for pid in _tree(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, IndexError, ValueError):
            continue
    return total


class RssSampler:
    """Samples the process tree's resident memory every 0.1 s and keeps the
    peak since the last :meth:`reset`."""

    INTERVAL = 0.1

    def __init__(self, root: int) -> None:
        self.root = root
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.wait(self.INTERVAL):
            self.peak = max(self.peak, _tree_pss_bytes(self.root))

    def reset(self) -> None:
        self.peak = _tree_pss_bytes(self.root)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def _cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


class Runs:
    """Timed full runs of one workload, each checked against the sidecar."""

    def __init__(self, spark, wl, pages_path: str, sidecar: dict, work: str) -> None:
        from pyspark import SparkContext

        self.spark, self.wl, self.pages_path, self.sidecar = spark, wl, pages_path, sidecar
        self.work = work
        self.jvm_pid = SparkContext._gateway.proc.pid
        self.attempted = self.failed = 0
        self.times: list[float] = []
        self.cpu: list[float] = []
        self.peaks: list[int] = []
        self.steal_frac = 0.0

    def once(self, sampler: RssSampler | None = None):
        """One timed run plus its check; returns (seconds, outcome), with
        outcome None when the run raised."""
        out_dir = os.path.join(self.work, f"out-{self.attempted}")
        self.attempted += 1
        if sampler is not None:
            sampler.reset()
        cpu0 = _tree_cpu_seconds(self.jvm_pid)
        t0 = time.perf_counter()
        try:
            outcome = self.wl.run(self.spark, self.pages_path, out_dir)
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return time.perf_counter() - t0, None
        elapsed = time.perf_counter() - t0
        self.cpu.append(_tree_cpu_seconds(self.jvm_pid) - cpu0)
        if sampler is not None:
            self.peaks.append(sampler.peak)
        self.times.append(elapsed)
        print(f"run {self.attempted}: {elapsed:.3f} s, {self.cpu[-1]:.3f} CPU s", file=sys.stderr)
        problems = self.wl.check(self.spark, outcome, self.sidecar)
        if problems:
            self.failed += 1
            print(f"check failed on run {self.attempted}: {problems}", file=sys.stderr)
        shutil.rmtree(out_dir, ignore_errors=True)
        return elapsed, outcome

    def measure(self, seconds: float) -> None:
        spent = 0.0
        cpu0 = _cpu_times()
        with RssSampler(self.jvm_pid) as sampler:
            while spent < seconds or self.attempted < MIN_RUNS:
                spent += self.once(sampler)[0]
                if self.failed >= MIN_RUNS and self.failed == self.attempted:
                    break
        # the share of host CPU time the hypervisor gave to other guests:
        # the regime the timings were taken in
        delta = [b - a for a, b in zip(cpu0, _cpu_times())]
        self.steal_frac = delta[7] / sum(delta) if len(delta) > 7 and sum(delta) else 0.0


def _spark_gc_seconds(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000.0


@contextlib.contextmanager
def _pipeline_spans(record):
    """Wrap the pipeline's per-batch write and manifest commit so each call
    becomes a span; restores the originals on exit."""
    from access_log_parser_spark import pipeline

    originals = {"write_routed": pipeline.write_routed, "write_manifest": pipeline.write_manifest}

    def wrap(name, fn):
        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                record(name, t0, time.perf_counter())
        return timed

    for name, fn in originals.items():
        setattr(pipeline, name, wrap(name, fn))
    try:
        yield
    finally:
        for name, fn in originals.items():
            setattr(pipeline, name, fn)


def trace(runs: Runs, seconds: float, untraced: float, spans_path: str) -> dict[str, float]:
    """Time cumulative layer prefixes (median over rounds) and return the
    per-layer metrics; the spans go to ``spans_path``."""
    from perfbench import sqlmetrics as sm
    from perfbench.workloads import LAYERS

    spark, wl = runs.spark, runs.wl
    store = sm.StatusStore(spark)
    origin = time.perf_counter()
    spans: list[dict] = []

    def span(name, t0, t1, parent, **attrs):
        spans.append({
            "trace_id": f"{wl.name}-{runs.sidecar['seed']}", "span_id": len(spans),
            "parent_id": parent, "name": name, "start_s": t0 - origin,
            "end_s": t1 - origin, **attrs,
        })
        return len(spans) - 1

    durations: dict[str, list[float]] = {layer: [] for layer in wl.layers}
    gc: list[float] = []
    sql: dict[str, list] = {}
    batch_calls: list[tuple[str, float]] = []
    t_start = time.perf_counter()
    while len(gc) < MIN_TRACE_ROUNDS or time.perf_counter() - t_start < seconds:
        root = span("round", time.perf_counter(), 0.0, None)
        batch_calls.clear()
        for layer, df in wl.prefixes(spark, runs.pages_path):
            before = store.last_execution_id()
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t1 = time.perf_counter()
            sql[layer] = store.metrics_since(before)
            span(layer, t0, t1, root, sink="noop")
            durations[layer].append(t1 - t0)
        last = wl.layers[-1]
        before = store.last_execution_id()
        gc0 = _spark_gc_seconds(spark)
        whole = span(last, time.perf_counter(), 0.0, root, sink=last)
        pending: list[tuple[str, float, float]] = []
        with _pipeline_spans(lambda n, a, b: pending.append((n, a, b))):
            elapsed, outcome = runs.once()
        spans[whole]["end_s"] = time.perf_counter() - origin
        gc.append(_spark_gc_seconds(spark) - gc0)
        sql[last] = store.metrics_since(before)
        for name, a, b in pending:
            span(name, a, b, whole)
            batch_calls.append((name, b - a))
        durations[last].append(elapsed)
        spans[root]["end_s"] = time.perf_counter() - origin
        if outcome is None:
            break

    with open(spans_path, "w") as fh:
        json.dump(spans, fh, indent=1)

    med = {layer: statistics.median(v) for layer, v in durations.items()}
    out: dict[str, float] = {}
    prev = 0.0
    for layer in LAYERS:
        if layer in med:
            out[f"{layer}.self_s"] = med[layer] - prev
            prev = med[layer]
        else:
            out[f"{layer}.self_s"] = 0.0

    full = sql[wl.layers[-1]]
    c = outcome.counters if outcome is not None else dict.fromkeys(("total", "skipped", "unmatched"), 0)
    decoded = c["total"] - c["skipped"]
    # bytes through exchanges (shuffle and broadcast) that the enrich joins add
    enrich_bytes = (
        sm.total(sql["enrich"], "data size") - sm.total(sql["decode"], "data size")
        if "enrich" in sql else 0.0
    )
    batch_s = [d for n, d in batch_calls if n == "write_routed"]
    out.update({
        "explode.lines": float(c["total"]),
        "decode.py_run_s": sm.total(full, "time to run Python workers"),
        "decode.py_init_s": sm.total(full, "time to initialize Python workers"),
        "decode.py_start_s": sm.total(full, "time to start Python workers"),
        "decode.bytes_to_py": sm.total(full, "data sent to Python workers"),
        "decode.bytes_from_py": sm.total(full, "data returned from Python workers"),
        "decode.match_ratio": (decoded - c["unmatched"]) / decoded if decoded else 0.0,
        "decode.lines": float(decoded),
        "decode.task_skew": sm.skew(full, "time to run Python workers"),
        "enrich.shuffle_bytes": enrich_bytes,
        "write.files": sm.total(full, "number of written files"),
        "write.bytes": sm.total(full, "written output"),
        "write.dynamic_parts": sm.total(full, "number of dynamic part"),
        "write.sort_s": sm.total(full, "sort time", node="Sort", parent="WriteFiles"),
        "write.task_commit_s": sm.total(full, "task commit time"),
        "write.job_commit_s": sm.total(full, "job commit time"),
        "write.spill_bytes": sm.total(full, "spill size", node="Sort", parent="WriteFiles"),
        "pipeline.batch_s_median": statistics.median(batch_s) if batch_s else 0.0,
        "pipeline.batch_s_max": max(batch_s, default=0.0),
        "pipeline.manifest_s": sum((d for n, d in batch_calls if n == "write_manifest"), 0.0),
        "pipeline.batches": float(len(batch_s)),
        "jvm.gc_s": statistics.median(gc),
    })
    out["trace.total_s"] = sum(out[f"{layer}.self_s"] for layer in LAYERS)
    out["trace.untraced_s"] = untraced
    out["trace.overhead_frac"] = out["trace.total_s"] / untraced - 1.0
    return out


def _units(trace_on: bool) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace_on else "end_to_end"]}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(PAGES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "access_log_parser_spark")):
        print(f"no access_log_parser_spark package under {ROOT}", file=sys.stderr)
        return 2
    units = _units(bool(args.trace))

    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    out_root = os.path.join(HERE, ".out")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(out_root, exist_ok=True)
    # Python workers must import the package too; temp files stay in work
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    # spark-submit's launcher JVM, which builds the driver's command line
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tempfile.tempdir}"
    sys.path.insert(0, ROOT)

    from perfbench.gen import generate
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS[args.workload]
    nproc = len(os.sched_getaffinity(0))
    cores = min(nproc, 4)
    n_pages = PAGES[args.workload]
    sidecar = generate(wl.name, args.seed, n_pages, nproc, os.path.join(work, "input"))
    generate(wl.name, args.seed, WARM_PAGES_PER_FILE * nproc, nproc, os.path.join(work, "warm"))
    pages_path = os.path.join(work, "input", "pages")

    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(work, cores)
        wl.run(spark, os.path.join(work, "warm", "pages"), os.path.join(work, "warm-out"))
        setup_s = time.perf_counter() - t0
        print(f"setup: {setup_s:.3f} s", file=sys.stderr)
        shutil.rmtree(os.path.join(work, "warm-out"), ignore_errors=True)

        runs = Runs(spark, wl, pages_path, sidecar, work)
        runs.measure(args.seconds)
        if args.trace:
            spans_path = os.path.join(out_root, f"trace-{wl.name}-{args.seed}.json")
            metrics = trace(runs, args.seconds, statistics.median(runs.times), spans_path)
        else:
            metrics = {
                "docs_per_s": n_pages / statistics.median(runs.times),
                "setup_s": setup_s,
                "peak_rss_mb": statistics.median(runs.peaks) / 2**20,
                "cpu_s_per_kdoc": 1000 * statistics.median(runs.cpu) / n_pages,
            }
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    failed_frac = runs.failed / runs.attempted
    print(f"workload {wl.name} seed {args.seed}: {n_pages} pages, "
          f"{runs.attempted} runs, local[{cores}], {nproc} input files, "
          f"host CPU steal {runs.steal_frac:.1%} during the timed runs")
    for name, value in metrics.items():
        print(f"  {name:24s} {value:14.6g} {units.get(name, '')}")
    print(f"  {'failed_frac':24s} {failed_frac:14.6g} ratio")
    print(json.dumps({
        "correct": runs.failed == 0,
        "attempted": runs.attempted,
        "failed": runs.failed,
        "metrics": {
            name: {"value": metrics[name], "unit": unit} for name, unit in units.items()
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
