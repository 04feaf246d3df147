"""North-rule scaling evidence under the EXACT deployment invocation:
``spark-submit --py-files alp.zip scripts/run_pipeline.py`` at the
host's N and 4N parallelism (the sandbox stand-in for N and 4N
executors — see BASELINE.md's evidence protocol) on the SAME
pre-materialized input.

The protocol is bench.py's, shared rather than copied: the pages corpus
is synthesized ONCE and written to parquet, and ``bench.run_scaling``
derives the pair from the host's cores and runs the fixed interleaved
trials through ``bench._scale_pair``, one fresh spark-submit per run,
pinned to as many CPUs as its ``local[N]`` has task slots.
Every run must satisfy the counters invariant and route exactly the same
counters as every other run, at both levels and in every trial.

Usage:  python scripts/submit_scaling.py [--pages 100000]
            [--out bench_submit_scaling.json]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import bench  # noqa: E402


def _synth_once(n_pages: int, pages_dir: str) -> None:
    from access_log_parser_spark.pages import synth_pages
    from access_log_parser_spark.session import get_spark

    spark = get_spark(app_name="alp-synth", master=f"local[{bench.HOST_CORES}]")
    synth_pages(spark, n_pages).write.mode("overwrite").parquet(pages_dir)
    spark.stop()


def _submit(cores: int, pages_dir: str, zip_path: str, out_dir: str) -> dict:
    cmd = [
        "spark-submit",
        "--master", f"local[{cores}]",
        # local mode runs every executor thread inside the driver JVM, so
        # the driver heap must carry the whole job (spark-submit's 1g
        # default OOMs on the 2M-line repartition); match get_spark's 8g
        "--driver-memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        "--conf", f"spark.sql.shuffle.partitions={cores}",
        "--conf", "spark.sql.adaptive.enabled=true",
        "--py-files", zip_path,
        str(REPO / "scripts" / "run_pipeline.py"),
        "--pages", pages_dir,
        "--out", out_dir,
        "--format", "s3",
    ]
    proc = subprocess.run(
        cmd, capture_output=True, text=True, check=True, preexec_fn=bench.pin_to(cores),
    )
    for line in reversed(proc.stdout.strip().splitlines()):
        if line.startswith("{"):
            return json.loads(line)
    raise RuntimeError(f"no JSON result line in spark-submit output:\n{proc.stderr[-2000:]}")


def measure(n_pages: int, work: str) -> dict:
    """Synthesize the input once, then run the host's scaling pair with a
    runner that submits the pipeline and checks its counters."""
    pages_dir = os.path.join(work, "pages")
    zip_path = os.path.join(work, "alp.zip")
    print(f"synthesizing {n_pages} pages -> {pages_dir}", flush=True)
    _synth_once(n_pages, pages_dir)
    subprocess.run(
        ["zip", "-qr", zip_path, "access_log_parser_spark"], cwd=REPO, check=True,
    )
    counters_seen: list[dict] = []

    def runner(cores: int) -> dict:
        out_dir = os.path.join(work, f"out_{cores}_{len(counters_seen)}")
        try:
            r = _submit(cores, pages_dir, zip_path, out_dir)
        finally:
            shutil.rmtree(out_dir, ignore_errors=True)
        if not r["invariant_ok"]:
            raise ValueError(f"counters invariant broken at local[{cores}]: {r}")
        if counters_seen and r["counters"] != counters_seen[0]:
            raise ValueError(
                f"local[{cores}] routed {r['counters']}, earlier runs {counters_seen[0]}"
            )
        counters_seen.append(r["counters"])
        print(f"local[{cores}]: {r['elapsed_sec']} s", flush=True)
        return {"elapsed": r["elapsed_sec"], "docs": n_pages,
                "docs_per_sec": round(n_pages / r["elapsed_sec"], 1),
                "cpus": r.get("cpus")}

    result = bench.run_scaling(runner)
    result["protocol"] = ("spark-submit --py-files, bench._scale_pair trials, "
                          "shared pre-materialized input")
    if counters_seen:
        result["counters"] = counters_seen[0]
    return result


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", type=int, default=100000)
    ap.add_argument("--out", default=str(REPO / "bench_submit_scaling.json"))
    args = ap.parse_args()

    work = tempfile.mkdtemp(prefix="alp_submit_scale_")
    try:
        result = measure(args.pages, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(args.out, "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
