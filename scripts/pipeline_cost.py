"""Wall time, CPU, process creations and files written by ``run_pipeline``.

    python scripts/pipeline_cost.py [--pages N] [--batches B] [--runs K] [--seed S]

Writes N seeded LTSV pages (the ``ltsv_pipeline`` generator of
``perfbench/gen.py``) as 4 parquet files to a temporary directory, starts a
``local[4]`` session and runs ``run_pipeline`` on them K times into fresh
output directories, with the workload's filter, ``tsv`` handler, ``lang``
lookup and B batches. For each run it prints:

- the wall seconds;
- the CPU seconds of this process's tree (the JVM and the Python workers
  with their reaped children: a forked ``chmod`` counts), measured as
  perfbench's ``cpu_s_per_kdoc`` is;
- the ``processes`` delta of ``/proc/stat``, the processes created on the
  whole host during the run: on a host without native Hadoop IO each
  file and directory the parquet writer creates forks a ``chmod``, so run
  it on a quiet host;
- the part files, the other files and the directories under the output.

Each run's counters are checked against the generator's. The first run
warms the session up; the last line is a JSON summary with the medians of
the others. Run from the repository root; Linux only.
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

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORES = 4


def processes_created() -> int:
    with open("/proc/stat") as fh:
        for line in fh:
            if line.startswith("processes "):
                return int(line.split()[1])
    return 0


def written(out_dir: str) -> dict[str, int]:
    """Part files, other files and directories under ``out_dir``."""
    n = {"parts": 0, "other_files": 0, "dirs": 0}
    for _, dirs, files in os.walk(out_dir):
        n["dirs"] += len(dirs)
        for f in files:
            n["parts" if f.endswith(".parquet") and not f.startswith(".") else "other_files"] += 1
    return n


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--pages", type=int, default=2000, help="LTSV pages in the input")
    ap.add_argument("--batches", type=int, default=4, help="run_pipeline n_batches")
    ap.add_argument("--runs", type=int, default=6, help="runs, the first a warm-up")
    ap.add_argument("--seed", type=int, default=31, help="seed of the generated pages")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import access_log_parser_spark as alp
    from access_log_parser_spark.pipeline import run_pipeline
    from perfbench.gen import LANGS, LTSV_FILTER, generate
    from perfbench.run import _tree_cpu_seconds as tree_cpu_s

    runs = []
    with tempfile.TemporaryDirectory(prefix="pipeline-cost-") as tmp:
        expected = generate("ltsv_pipeline", args.seed, args.pages, CORES, tmp)["counters"]
        spark = alp.get_spark(
            app_name="pipeline-cost",
            master=f"local[{CORES}]",
            shuffle_partitions=CORES,
            extra_conf={"spark.ui.showConsoleProgress": "false"},
        )
        spark.sparkContext.setLogLevel("ERROR")
        print(f"{args.pages} LTSV pages, {args.batches} batches, local[{CORES}], seed {args.seed}")
        opt = alp.Option(filters=[LTSV_FILTER], line_handler="tsv")
        try:
            for k in range(args.runs):
                out = os.path.join(tmp, f"out-{k}")
                lang = spark.createDataFrame(sorted(LANGS.items()), "lang string, lang_name string")
                pages = spark.read.parquet(os.path.join(tmp, "pages"))
                forks0, cpu0 = processes_created(), tree_cpu_s(os.getpid())
                t0 = time.perf_counter()
                rep = run_pipeline(
                    spark, pages, out, fmt="ltsv", opt=opt,
                    lookups={"lang": (lang, "lang")}, n_batches=args.batches,
                )
                wall = time.perf_counter() - t0
                run = {
                    "run": "warm-up" if k == 0 else f"run{k}",
                    "wall_s": round(wall, 3),
                    "cpu_s": round(tree_cpu_s(os.getpid()) - cpu0, 2),
                    "processes": processes_created() - forks0,
                    **written(out),
                    "correct": rep.result.counter_dict() == expected,
                }
                runs.append(run)
                print(
                    f"{run['run']}: {wall:.2f} s, {run['cpu_s']:.2f} CPU s, "
                    f"{run['processes']} processes, {run['parts']} part files, "
                    f"{run['other_files']} other files, {run['dirs']} dirs, "
                    f"{'correct' if run['correct'] else 'WRONG counters'}"
                )
                shutil.rmtree(out, ignore_errors=True)
        finally:
            spark.stop()
    timed = runs[1:] or runs
    print(json.dumps({
        "pages": args.pages,
        "batches": args.batches,
        "correct": all(r["correct"] for r in runs),
        **{
            f"{key}_median": statistics.median(r[key] for r in timed)
            for key in ("wall_s", "cpu_s", "processes", "parts", "other_files", "dirs")
        },
        "runs": runs,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
