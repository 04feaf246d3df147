"""Wall time, Spark jobs and driver memory of one ``Parser.parse_file`` call.

    python scripts/parse_file_cost.py [--lines N] [--seed S] [--warm K]

Writes a seeded Apache combined-log file of N lines (about 2% of them
garbage, so the Result carries errors) to a temporary directory, starts a
``local[4]`` session and runs ``new_apache_clf_parser(spark).parse_file``
on it once cold and K times warm (default 3), each with a fresh parser.
For each run it prints the wall seconds, the number of Spark jobs in the
parser's job group, and the peak proportional set size (PSS) of the
driver's process tree: this Python process, the JVM and the Python
workers, sampled every 50 ms from ``/proc/<pid>/smaps_rollup``. PSS splits
a page shared by several processes between them, so forked workers are
not counted once each. The last line is a JSON summary with the warm
median. Run from the repository root; Linux only.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
import sys
import tempfile
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORES = 4
GARBAGE = 0.02
INTERVAL = 0.05


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


def _tree(root: int) -> list[int]:
    """``root`` and all its descendants."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_pss_mb(root: int) -> float:
    total_kb = 0
    for pid in _tree(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except (OSError, IndexError, ValueError):
            continue
    return total_kb / 1024


class PeakPss:
    """Peak PSS of this process's tree while the ``with`` block runs."""

    def __enter__(self) -> PeakPss:
        self.peak = tree_pss_mb(os.getpid())
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def _loop(self) -> None:
        while not self._stop.wait(INTERVAL):
            self.peak = max(self.peak, tree_pss_mb(os.getpid()))

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_pss_mb(os.getpid()))


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

    with tempfile.TemporaryDirectory(prefix="parse-file-cost-") as tmp:
        path = os.path.join(tmp, "access.log")
        write_log(path, args.lines, args.seed)
        size_mb = os.path.getsize(path) / 2**20
        spark = alp.get_spark(
            app_name="parse-file-cost",
            master=f"local[{CORES}]",
            shuffle_partitions=CORES,
            extra_conf={"spark.ui.showConsoleProgress": "false"},
        )
        spark.sparkContext.setLogLevel("ERROR")
        print(f"{args.lines} lines ({size_mb:.1f} MiB), local[{CORES}], seed {args.seed}")
        runs = []
        try:
            for k in range(1 + args.warm):
                p = alp.new_apache_clf_parser(spark)
                with PeakPss() as mem:
                    t0 = time.perf_counter()
                    out, r = p.parse_file(path)
                    wall = time.perf_counter() - t0
                jobs = len(spark.sparkContext.statusTracker().getJobIdsForGroup(p._job_group))
                run = {
                    "run": "cold" if k == 0 else f"warm{k}",
                    "wall_s": round(wall, 3),
                    "jobs": jobs,
                    "peak_pss_mb": round(mem.peak),
                    "counters": list(r.counters()),
                    "out_lines": len(out),
                }
                runs.append(run)
                print(
                    f"{run['run']}: {wall:.2f} s, {jobs} jobs, tree peak PSS "
                    f"{mem.peak:.0f} MiB, counters {r.counters()}"
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
