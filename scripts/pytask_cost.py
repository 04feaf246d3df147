"""Fixed Python cost of one PySpark task, with and without this package.

    python scripts/pytask_cost.py [--jobs N]

Starts a ``local[4]`` session and runs a 4-task job N times in three
phases: an identity ``mapInArrow`` with a function that imports nothing of
this package, the same with one that imports it, as every engine function
does when a worker unpickles it, and then a scan of a
``createDataFrame(list)`` frame, a Python-RDD job like a pipeline lookup.
For each phase it prints the Python CPU milliseconds per task (daemon and
workers, reaped ones included, from ``/proc``), the daemon the phase's
workers fork from and, per Python worker, its number of zip importers and
whether ``access_log_parser_spark.worker_imports`` has patched
``zipimporter.invalidate_caches``. Each task's
``importlib.invalidate_caches()`` re-reads every zip importer's archive
unless the patch is in place, so on CPython < 3.13 the first phase costs
about the importer count times one archive read per task and the second
should not. The third phase forks from the same daemon as the other two
(``get_spark`` gives both task kinds one worker env), so it runs in the
patched workers and should cost about what the second does. Run from the
repository root; Linux only.
"""

from __future__ import annotations

import argparse
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TASKS = 4
_TICK = os.sysconf("SC_CLK_TCK")


def _python_cpu_seconds(root: int) -> float:
    """CPU time of the Python processes under ``root`` (the JVM): the
    daemon and its workers, reaped workers included."""
    stats, children = {}, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                name, rest = fh.read().split(" (", 1)[1].rsplit(")", 1)
        except (OSError, IndexError, ValueError):
            continue
        fields = rest.split()
        stats[int(entry)] = (name, fields)
        children.setdefault(int(fields[1]), []).append(int(entry))
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        name, fields = stats.get(pid, ("", []))
        if name.startswith("python"):
            # utime, stime, cutime, cstime
            total += sum(int(fields[k]) for k in range(11, 15))
    return total / _TICK


def plain_identity(batches):
    yield from batches


def package_identity(batches):
    import access_log_parser_spark  # noqa: F401  (what an engine UDF does)

    yield from batches


def worker_state(_=None):
    """(daemon pid, worker pid, zip importers, patched) of this worker."""
    import os
    import sys
    import zipimport

    patched = zipimport.zipimporter.invalidate_caches.__module__
    yield (
        os.getppid(),
        os.getpid(),
        sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values()),
        patched == "access_log_parser_spark.worker_imports",
    )


def arrow_probe(batches):
    import pyarrow as pa

    for _ in batches:
        pass
    names = ("daemon", "pid", "zip_importers", "patched")
    yield pa.RecordBatch.from_pylist([dict(zip(names, row)) for row in worker_state()])


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--jobs", type=int, default=20, help="timed jobs per phase")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    from pyspark import SparkContext

    from access_log_parser_spark.session import get_spark

    spark = get_spark(
        app_name="pytask-cost",
        master=f"local[{TASKS}]",
        shuffle_partitions=TASKS,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    jvm = SparkContext._gateway.proc.pid
    df = spark.range(0, 4 * TASKS, 1, TASKS)
    lookup = spark.createDataFrame(
        [(f"k{i}", i) for i in range(4 * TASKS)], "key string, value long"
    )
    arrow_workers = df.mapInArrow(
        arrow_probe, "daemon long, pid long, zip_importers long, patched boolean"
    )
    rdd_workers = spark.sparkContext.parallelize(range(TASKS), TASKS).mapPartitions(worker_state)
    phases = (
        ("without the package", df.mapInArrow(plain_identity, df.schema), arrow_workers),
        ("with the package", df.mapInArrow(package_identity, df.schema), arrow_workers),
        ("createDataFrame(list)", lookup, rdd_workers),
    )
    print(f"CPython {sys.version.split()[0]}, {args.jobs} jobs x {TASKS} tasks per phase")
    try:
        for label, job, workers in phases:
            job.write.format("noop").mode("overwrite").save()  # warm-up
            cpu0 = _python_cpu_seconds(jvm)
            for _ in range(args.jobs):
                job.write.format("noop").mode("overwrite").save()
            per_task = (_python_cpu_seconds(jvm) - cpu0) / (args.jobs * TASKS)
            rows = sorted({tuple(r) for r in workers.collect()})
            daemons = " ".join(str(d) for d in sorted({r[0] for r in rows}))
            print(f"{label}: {1000 * per_task:.1f} Python CPU ms per task, daemon {daemons}")
            for _, pid, n, patched in rows:
                print(f"  worker {pid}: {n} zip importers, patched={patched}")
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
