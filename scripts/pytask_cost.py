"""Fixed Python cost of one PySpark task, with and without this package.

    python scripts/pytask_cost.py [--jobs N]

Starts a ``local[4]`` session and runs a 4-task identity ``mapInArrow``
job N times in two phases: first with a function that imports nothing of
this package, then with one that imports it, as every engine function does
when a worker unpickles it. For each phase it prints the Python CPU
milliseconds per task (daemon and workers, reaped ones included, from
``/proc``) and, per Python worker, its number of zip importers and whether
``access_log_parser_spark.worker_imports`` has patched
``zipimporter.invalidate_caches``. Each task's
``importlib.invalidate_caches()`` re-reads every zip importer's archive
unless the patch is in place, so on CPython < 3.13 the first phase costs
about the importer count times one archive read per task and the second
should not. Run from the repository root; Linux only.
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


def probe(batches):
    import os
    import sys
    import zipimport

    import pyarrow as pa

    for _ in batches:
        pass
    patched = zipimport.zipimporter.invalidate_caches.__module__
    yield pa.RecordBatch.from_pylist([{
        "pid": os.getpid(),
        "zip_importers": sum(
            isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values()
        ),
        "patched": patched == "access_log_parser_spark.worker_imports",
    }])


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
    print(f"CPython {sys.version.split()[0]}, {args.jobs} jobs x {TASKS} tasks per phase")
    try:
        for label, fn in (("without the package", plain_identity),
                          ("with the package", package_identity)):
            job = df.mapInArrow(fn, df.schema)
            job.write.format("noop").mode("overwrite").save()  # warm-up
            cpu0 = _python_cpu_seconds(jvm)
            for _ in range(args.jobs):
                job.write.format("noop").mode("overwrite").save()
            per_task = (_python_cpu_seconds(jvm) - cpu0) / (args.jobs * TASKS)
            workers = df.mapInArrow(probe, "pid long, zip_importers long, patched boolean")
            rows = sorted({tuple(r) for r in workers.collect()})
            print(f"{label}: {1000 * per_task:.1f} Python CPU ms per task")
            for pid, n, patched in rows:
                print(f"  worker {pid}: {n} zip importers, patched={patched}")
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
