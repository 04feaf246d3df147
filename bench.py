"""Benchmark harness.

Headline metric (BASELINE.json): docs/sec parse+route throughput — a
synthesized Common-Crawl-style pages corpus (20 log lines per page,
1-in-5 unmatched) is exploded, decoded through the vectorized engine and
fanned out to (status, pattern_id) parquet sinks; the counters are read
from the footers of the part files the write committed.

Scaling protocol (sandbox stand-in for N vs 4N executors): N = cores // 4
and 4N, from the host (1->4 on 4 cores, 8->32 on 32; skipped below 4), so
no level oversubscribes. The SAME job on the SAME sf-tier input runs in a
fresh subprocess per run, pinned to as many CPUs as its level has cores
(``pin_to``), for a fixed ``SCALE_TRIALS`` trials of both levels back to
back in alternating order, each run after a cooldown and a loadavg
quiesce. ``efficiency`` = (min T_N / min T_4N) / 4, capped at
1.0, with the paired median, a ``regime_warning`` and every raw trial.
The trial count never depends on the timings (adding samples until a
ratio of minima reads well is optional stopping); a dead run is retried
once.

Artifact discipline (r04 lesson: the driver archives only the TAIL of
stdout, and the r04 headline was lost to a >2 KB result line): the FULL
result — per-query timings, raw scaling trials — is written to
``bench_full_last.json`` next to this file, and the LAST stdout line is
a COMPACT (<2 KB) JSON with the headline, its regime, the scaling
efficiencies and the volume-counters check, so the driver's tail
capture always parses. Nothing prints after it.

Compact final line:
  {"metric": ..., "value": <headline seconds>, "unit": "sec",
   "sf": ..., "docs_per_sec": ..., "headline_regime": {...},
   "scaling": {...}, "queries_n": N, "queries_total_sec": ...,
   "volume_check": {...}, "full": "bench_full_last.json"}

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (headline parallelism, default: the host's cores),
     ALP_BENCH_QUERIES=0 to skip per-query timings,
     ALP_BENCH_SCALING=0 to skip the N->4N pair,
     ALP_BENCH_VOLUME=0 to skip the 500k-doc counters check.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
HOST_CORES = len(os.sched_getaffinity(0))
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", HOST_CORES))
LINES_PER_PAGE = 20
VOLUME_DOCS = 500_000
HEADLINE_RUNS = 3
SPREAD_LIMIT = 0.30
SCALE_TRIALS = 4
COOLDOWN_S = 8.0


def _session(cores: int):
    from access_log_parser_spark.session import get_spark

    return get_spark(
        app_name=f"alp-bench-{cores}",
        master=f"local[{cores}]",
        shuffle_partitions=max(cores, 8),
    )


def _n_pages(spark) -> int:
    # scale the corpus to the sf tier via the events table size
    # (sf0.1 -> 100k pages x 20 lines = 2M log lines)
    return spark.read.parquet(f"{SF_DIR}/events.parquet").count()


def parse_route_job(spark, n_pages: int, out_dir: str) -> dict:
    """The headline job: synth pages -> explode -> decode -> fan-out write -> footer count."""
    from collections import Counter

    from access_log_parser_spark.engine import parse_routed
    from access_log_parser_spark.pages import pages_to_lines, synth_pages
    from access_log_parser_spark.sinks import committed_lineage, write_routed

    pages = synth_pages(spark, n_pages, LINES_PER_PAGE, 5)
    routed = parse_routed(pages_to_lines(pages), "s3")
    t0 = time.monotonic()
    write_routed(routed, out_dir)
    m = sum(map(Counter, committed_lineage(out_dir)), Counter())
    elapsed = time.monotonic() - t0
    return {
        "elapsed": elapsed,
        "docs": n_pages,
        "lines": m["total"],
        "matched": m["matched"],
        "unmatched": m["unmatched"],
        "excluded": m["excluded"],
        "skipped": m["skipped"],
        "docs_per_sec": round(n_pages / elapsed, 1),
        "lines_per_sec": round(m["total"] / elapsed, 1),
    }


def _quiesce() -> float:
    """Wait (at most 120 s) for the 1-min loadavg to fall to half the
    host's cores, so a run measures the engine and not the tail of
    whatever ran before it. Returns the loadavg when measurement starts."""
    deadline = time.monotonic() + 120.0
    load = os.getloadavg()[0]
    while load > HOST_CORES / 2 and time.monotonic() < deadline:
        time.sleep(5)
        load = os.getloadavg()[0]
    return round(load, 2)


def _best_of(spark, n_pages: int) -> dict:
    """Min of ``HEADLINE_RUNS`` timed runs, each after a loadavg quiesce
    (back-to-back full-size runs otherwise build load past the VM's
    sustained-load throttle). The ``regime`` block records the spread of
    the runs and flags ``throttled`` when it exceeds ``SPREAD_LIMIT``, so
    a low headline is auditable as a host artifact."""
    best = None
    times: list[float] = []
    for i in range(HEADLINE_RUNS):
        _quiesce()
        tmp = tempfile.mkdtemp(prefix="alp_bench_")
        try:
            r = parse_route_job(spark, n_pages, os.path.join(tmp, f"run{i}"))
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        times.append(r["elapsed"])
        if best is None or r["elapsed"] < best["elapsed"]:
            best = r
    spread = (max(times) - min(times)) / min(times)
    best["regime"] = {
        "runs": len(times),
        "spread": round(spread, 3),
        "loadavg": round(os.getloadavg()[0], 2),
        "throttled": spread > SPREAD_LIMIT,
    }
    return best


def run_headline(spark) -> dict:
    n_pages = _n_pages(spark)
    tmp = tempfile.mkdtemp(prefix="alp_bench_")
    try:
        # FULL-SIZE untimed warm-up: a 1/20-scale warm-up covers JVM/
        # codegen/Arrow but not first-touch costs that only appear at the
        # full working set (heap growth + OS page faulting on a fresh
        # boot) — r05f measured a 3.7x first-run outlier that tripped the
        # spread-based `throttled` flag on an otherwise quiet box.
        parse_route_job(spark, n_pages, os.path.join(tmp, "warm"))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return _best_of(spark, n_pages)


def run_query_sweep(spark) -> dict[str, float]:
    qtimes: dict[str, float] = {}
    import __spark_entry__ as entry

    for name, fn in entry.queries().items():
        t0 = time.monotonic()
        try:
            fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        except Exception:
            try:
                fn(spark, SF_DIR).count()
            except Exception:
                qtimes[name] = -1.0
                continue
        qtimes[name] = round(time.monotonic() - t0, 3)
    return qtimes


def run_volume_check(spark, n_docs: int) -> dict:
    """Pipeline-level counters check at volume (BENCH.md ledger item):
    run the headline parse->route->fan-out job at ``n_docs`` pages and
    verify BOTH the counters invariant (total = matched + unmatched +
    excluded + skipped) and equality against the closed-form expected
    counts of the synthetic corpus (each page: lines_per_page lines of
    which lines_per_page/unmatched_every are the truncated unmatchable
    golden line — pages.synth_pages docstring / FIXTURES.md §1)."""
    tmp = tempfile.mkdtemp(prefix="alp_volume_")
    try:
        r = parse_route_job(spark, n_docs, os.path.join(tmp, "run"))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    exp_total = n_docs * LINES_PER_PAGE
    exp_unmatched = n_docs * (LINES_PER_PAGE // 5)
    exp_matched = exp_total - exp_unmatched
    return {
        "docs": n_docs,
        "lines": r["lines"],
        "elapsed": round(r["elapsed"], 3),
        "docs_per_sec": r["docs_per_sec"],
        "invariant_ok": r["lines"]
        == r["matched"] + r["unmatched"] + r["excluded"] + r["skipped"],
        "counts_match_expected": (
            r["lines"] == exp_total
            and r["matched"] == exp_matched
            and r["unmatched"] == exp_unmatched
        ),
    }


def _scale_one(cores: int) -> None:
    """Subprocess entry: warm up, run the headline job once at ``cores``
    on the sf-tier input, print one JSON result line."""
    spark = _session(cores)
    n_pages = _n_pages(spark)
    tmp = tempfile.mkdtemp(prefix=f"alp_scale_{cores}_")
    try:
        parse_route_job(spark, max(n_pages // 20, 100), os.path.join(tmp, "warm"))
        r = parse_route_job(spark, n_pages, os.path.join(tmp, "run"))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    spark.stop()
    r["cpus"] = sorted(os.sched_getaffinity(0))
    print("SCALE_RESULT " + json.dumps(r))


def pin_to(cores: int):
    """A ``preexec_fn`` that pins a scaling run's child, and the JVM and
    Python workers it starts (they inherit the mask), to the first
    ``cores`` CPUs this process may use. ``local[N]`` caps task slots, not
    CPUs: unpinned, ``local[1]`` kept ~1.7 cores busy (task thread and
    Python worker run pipelined, plus JVM threads), so the small level of
    the pair was not N cores."""
    cpus = sorted(os.sched_getaffinity(0))[:cores]
    return lambda: os.sched_setaffinity(0, cpus)


def _run_one(cores: int) -> dict:
    """The default scaling runner: one fresh subprocess per run (one
    SparkContext per process), pinned to ``cores`` CPUs."""
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--scale-one", str(cores)],
        capture_output=True, text=True, timeout=1800, preexec_fn=pin_to(cores),
    )
    line = next(
        (ln for ln in out.stdout.splitlines() if ln.startswith("SCALE_RESULT ")),
        None,
    )
    if line is None:
        raise RuntimeError(f"scale subprocess failed: {out.stderr[-2000:]}")
    return json.loads(line[len("SCALE_RESULT "):])


def _settle() -> None:
    """Before every scaling run: let the previous subprocess finish its
    teardown, then wait out its loadavg tail (r05d: back-to-back trials
    accumulated heat until the VM's sustained-load throttle measured
    itself instead of the engine)."""
    time.sleep(COOLDOWN_S)
    _quiesce()


def host_pair(cores: int) -> tuple[int, int] | None:
    """The N->4N pair that fits on ``cores``: N = cores // 4. None when
    the host has fewer than 4 cores (a 4N level would oversubscribe)."""
    n = cores // 4
    return (n, 4 * n) if n else None


def _scale_pair(n: int, big: int, runner=None) -> dict:
    """Same job, same input, ``runner(n)`` vs ``runner(big)``, for a fixed
    ``SCALE_TRIALS`` trials. ``runner(cores)`` returns a dict with
    ``elapsed``, ``docs`` and ``docs_per_sec``, and ``cpus``, the CPU set
    the run was pinned to, which each trial row records; the default runs
    one ``--scale-one`` subprocess.

    The two levels of a trial run back to back, so the PAIRED ratio
    t_small/t_big cancels slow drift, and the order alternates so a
    time-decaying throttle cannot favour one level. ``efficiency`` is
    min-of-levels (each level's quietest sample), capped at 1.0;
    ``efficiency_paired_median`` is the drift-robust diagnostic. A
    ``regime_warning`` marks minima that are unconfirmed or cross-regime:
    a level's minimum was not reproduced within 20%, the ratio reads
    super-linear, or the big level measured slower than the small one.
    A run that dies (``RuntimeError``, ``SubprocessError``) is retried
    once, then recorded in ``failed_runs``; any other exception from the
    runner propagates."""
    runner = runner or _run_one
    results: dict[int, dict] = {}
    trial_rows: list[dict] = []
    failed_runs: list[str] = []
    for trial in range(SCALE_TRIALS):
        order = (n, big) if trial % 2 == 0 else (big, n)
        by_cores: dict[int, dict] = {}
        loads: list[float] = []
        for cores in order:
            _settle()
            loads.append(round(os.getloadavg()[0], 2))
            try:
                r = runner(cores)
            except (RuntimeError, subprocess.SubprocessError):
                _settle()
                try:
                    r = runner(cores)
                except (RuntimeError, subprocess.SubprocessError) as exc:
                    failed_runs.append(f"trial {trial} cores {cores}: {str(exc)[-300:]}")
                    continue
            by_cores[cores] = r
            if cores not in results or r["elapsed"] < results[cores]["elapsed"]:
                results[cores] = r
        if len(by_cores) < 2:
            continue  # paired row needs both levels; minima already kept
        eff = (by_cores[n]["elapsed"] / by_cores[big]["elapsed"]) / (big / n)
        trial_rows.append({
            "order": f"{order[0]}->{order[1]}",
            "elapsed_small": round(by_cores[n]["elapsed"], 3),
            "elapsed_big": round(by_cores[big]["elapsed"], 3),
            "paired_efficiency": round(eff, 3),
            "cpus_small": by_cores[n].get("cpus"),
            "cpus_big": by_cores[big].get("cpus"),
            "loadavg_at_start": loads[0],
            "loadavg_runs": loads,
        })

    if not trial_rows:
        raise RuntimeError(
            f"scaling pair {n}->{big}: no surviving paired trial "
            f"({len(failed_runs)} failed runs: {failed_runs[:3]})"
        )

    def confirmed(key: str) -> bool:
        els = [t[key] for t in trial_rows]
        return sum(1 for e in els if e <= 1.2 * min(els)) >= 2

    t_n, t_4n = results[n]["elapsed"], results[big]["elapsed"]
    eff_levels = (t_n / t_4n) / (big / n)
    out = {
        "cores_small": n,
        "cores_big": big,
        "host_cores": HOST_CORES,
        "pages": results[n]["docs"],
        "docs_per_sec_small": results[n]["docs_per_sec"],
        "docs_per_sec_big": results[big]["docs_per_sec"],
        "elapsed_small": round(t_n, 3),
        "elapsed_big": round(t_4n, 3),
        "efficiency": round(min(eff_levels, 1.0), 3),
        "efficiency_min_of_levels": round(eff_levels, 3),
        "efficiency_paired_median": round(
            statistics.median(t["paired_efficiency"] for t in trial_rows), 3
        ),
        "trials": trial_rows,
    }
    if failed_runs:
        out["failed_runs"] = failed_runs
    if (
        t_4n >= t_n or eff_levels > 1.0
        or not confirmed("elapsed_small") or not confirmed("elapsed_big")
    ):
        out["regime_warning"] = (
            "level minima unconfirmed or cross-regime (a minimum was "
            "sampled only once, reads super-linear, or big-level measured "
            "slower than small) — re-run on a quiet VM"
        )
    return out


def run_scaling(runner=None) -> dict:
    """The host's N->4N pair through :func:`_scale_pair`, or a skipped
    record on a host with fewer than 4 cores."""
    pair = host_pair(HOST_CORES)
    if pair is None:
        return {"skipped": "an N->4N pair needs at least 4 cores",
                "host_cores": HOST_CORES}
    return _scale_pair(*pair, runner=runner)


def _compact_failed(failed: list, cap: int = 10) -> list:
    """Bound the failed-query name list on the compact stdout line: a
    regression that breaks a whole query family must not push the final
    JSON line past the driver's ~2 KB tail budget (the full list always
    lives in bench_full_last.json)."""
    if len(failed) <= cap:
        return failed
    return failed[:cap] + [f"...+{len(failed) - cap} more"]


def _compact_scaling(scaling: dict) -> dict:
    """The scaling block minus the per-trial arrays (those live in the
    full archive) — keeps the final stdout line under the driver's ~2 KB
    tail-capture budget."""
    keep = (
        "cores_small", "cores_big", "host_cores", "pages",
        "docs_per_sec_small", "docs_per_sec_big", "elapsed_small",
        "elapsed_big", "efficiency", "efficiency_min_of_levels",
        "efficiency_paired_median", "regime_warning", "skipped", "error",
    )
    out = {k: scaling[k] for k in keep if k in scaling}
    out["trials_n"] = len(scaling.get("trials", []))
    if scaling.get("failed_runs"):
        out["failed_runs_n"] = len(scaling["failed_runs"])
    return out


def main() -> None:
    if len(sys.argv) >= 2 and sys.argv[1] == "--scale-one":
        _scale_one(int(sys.argv[2]))
        return
    # HEADLINE FIRST, after a loadavg gate (r04 lesson: running it after
    # the scaling block left it in the throttled regime even with a
    # 7-minute cooldown). The headline is the shortest block, so it gets
    # the freshest VM; the scaling pair settles before each of its runs.
    _quiesce()
    spark = _session(CPUS)
    head = run_headline(spark)
    spark.stop()

    scaling = None
    if os.environ.get("ALP_BENCH_SCALING", "1") != "0":
        try:
            scaling = run_scaling()
        except Exception as exc:
            # r05i lesson: one dead subprocess (python-worker connection
            # reset) aborted the WHOLE bench and the driver artifact got
            # a traceback instead of a result line — the exact artifact
            # loss the compact-line contract exists to prevent. The
            # headline/sweep/volume sections must still report.
            scaling = {"error": f"scaling failed: {str(exc)[-400:]}"}

    qtimes: dict[str, float] = {}
    volume = None
    spark = _session(CPUS)
    if os.environ.get("ALP_BENCH_QUERIES", "1") != "0":
        qtimes = run_query_sweep(spark)
    if os.environ.get("ALP_BENCH_VOLUME", "1") != "0":
        volume = run_volume_check(spark, VOLUME_DOCS)
    spark.stop()

    failed_full = sorted(k for k, v in qtimes.items() if v < 0)
    failed = _compact_failed(failed_full)
    out = {
        "metric": "parse_route_docs_per_sec",
        "value": round(head["elapsed"], 3),
        "unit": "sec",
        "sf": SF_DIR.rstrip("/").split("sf")[-1],
        "docs": head["docs"],
        "lines": head["lines"],
        "docs_per_sec": head["docs_per_sec"],
        "lines_per_sec": head["lines_per_sec"],
        "headline_regime": head.get("regime"),
        "queries_n": len(qtimes),
        "queries_failed": failed,
        "queries_total_sec": round(sum(v for v in qtimes.values() if v > 0), 1),
        "volume_check": volume,
        "full": "bench_full_last.json",
    }
    if scaling:
        out["scaling"] = _compact_scaling(scaling)
    full = dict(out)
    full["queries_failed"] = failed_full
    full["queries"] = qtimes
    if scaling:
        full["scaling"] = scaling
    full_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench_full_last.json"
    )
    with open(full_path, "w") as f:
        json.dump(full, f, indent=1)
    # the compact result is the FINAL stdout line — the driver keeps only
    # the tail of stdout, so nothing may print after this
    print(json.dumps(out))


if __name__ == "__main__":
    main()
