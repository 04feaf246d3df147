"""Wall time, Spark jobs and driver memory of one ``Parser.parse_file`` call.

    python scripts/parse_file_cost.py [--lines N] [--seed S] [--warm K]

Writes a seeded Apache combined-log file of N lines (about 2% of them
garbage, so the Result carries errors) to a temporary directory, starts a
``local[4]`` session and runs ``new_apache_clf_parser(spark).parse_file``
on it once cold and K times warm (default 3), each with a fresh parser.
For each run it prints the wall seconds, the number of Spark jobs in the
parser's job group, and the peak proportional set size (PSS) of the
driver's process tree: this Python process, the JVM and the Python
workers, sampled every 100 ms from ``/proc/<pid>/smaps_rollup`` by
perfbench's meter, plus one sample when the call returns. PSS splits a
page shared by several processes between them, so forked workers are
not counted once each. The driver heap is fixed as perfbench fixes it
(``DRIVER_MEM``, committed and touched at JVM start with ``-Xms`` and
``-XX:+AlwaysPreTouch``), so the peak moves with the memory the program
controls, not with heap growth over the runs. The last line is a JSON
summary with the warm median. Run from the repository root; Linux only.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORES = 4
DRIVER_MEM = "1g"
GARBAGE = 0.02


def write_log(path: str, n: int, seed: int) -> None:
    """``n`` combined-log lines, about ``GARBAGE`` of them unparseable."""
    rnd = random.Random(seed)
    methods = ("GET", "GET", "GET", "POST", "HEAD")
    with open(path, "w") as fh:
        for i in range(n):
            if rnd.random() < GARBAGE:
                fh.write(f"garbage line {i} {rnd.getrandbits(32):08x}\n")
                continue
            ip = ".".join(str(rnd.randrange(1, 255)) for _ in range(4))
            fh.write(
                f'{ip} - user{rnd.randrange(100)} '
                f'[12/Mar/2023:10:{i // 60 % 60:02d}:{i % 60:02d} +0000] '
                f'"{rnd.choice(methods)} /p/{rnd.randrange(10_000)} HTTP/1.1" '
                f'{rnd.choice((200, 200, 200, 304, 404, 500))} {rnd.randrange(50_000)} '
                f'"-" "agent/{rnd.randrange(20)}"\n'
            )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--lines", type=int, default=200_000, help="lines in the log file")
    ap.add_argument("--seed", type=int, default=1, help="seed of the generated file")
    ap.add_argument("--warm", type=int, default=3, help="timed runs after the cold one")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import access_log_parser_spark as alp
    from perfbench.run import RssSampler, _tree_pss_bytes

    with tempfile.TemporaryDirectory(prefix="parse-file-cost-") as tmp:
        path = os.path.join(tmp, "access.log")
        write_log(path, args.lines, args.seed)
        size_mb = os.path.getsize(path) / 2**20
        spark = alp.get_spark(
            app_name="parse-file-cost",
            master=f"local[{CORES}]",
            shuffle_partitions=CORES,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.memory": DRIVER_MEM,
                "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        print(f"{args.lines} lines ({size_mb:.1f} MiB), local[{CORES}], seed {args.seed}")
        runs = []
        try:
            with RssSampler(os.getpid()) as mem:
                for k in range(1 + args.warm):
                    p = alp.new_apache_clf_parser(spark)
                    mem.reset()
                    t0 = time.perf_counter()
                    out, r = p.parse_file(path)
                    wall = time.perf_counter() - t0
                    peak_mb = max(mem.peak, _tree_pss_bytes(os.getpid())) / 2**20
                    jobs = len(spark.sparkContext.statusTracker().getJobIdsForGroup(p._job_group))
                    run = {
                        "run": "cold" if k == 0 else f"warm{k}",
                        "wall_s": round(wall, 3),
                        "jobs": jobs,
                        "peak_pss_mb": round(peak_mb),
                        "counters": list(r.counters()),
                        "out_lines": len(out),
                    }
                    runs.append(run)
                    print(
                        f"{run['run']}: {wall:.2f} s, {jobs} jobs, tree peak PSS "
                        f"{peak_mb:.0f} MiB, counters {r.counters()}"
                    )
                    del out, r
        finally:
            spark.stop()
    warm = runs[1:] or runs
    print(json.dumps({
        "lines": args.lines,
        "warm_wall_s_median": round(statistics.median(r["wall_s"] for r in warm), 3),
        "warm_peak_pss_mb_max": max(r["peak_pss_mb"] for r in warm),
        "runs": runs,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
