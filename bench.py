"""Benchmark harness: run headline workload queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS]; print ONE JSON line with per-query seconds.

Each query is forced through a `noop` sink so the full plan executes
(a bare count() would let Catalyst prune the projections away).

Next to the per-query best wall in `queries`, the full line and the
full record carry `layers`: per query, `construct_s` (building the
DataFrame, including any jobs the build runs) and `exec_s` (the noop
write) of the run whose wall is kept, so the two add up to that wall
to rounding; and `construct_jobs`, `jobs` (construct plus exec),
`stages` and `tasks` of the query's last run, when the scans it reads
are already memoized.  Jobs are counted through public APIs only:
each run builds under job group `<name>:construct` and writes under
`<name>:exec`, read back through `statusTracker()`
(`perfbench.tracing.JobCounter`); the group calls and the reads sit
outside the timed window.  Streaming micro-batch jobs run under their
streaming query's own job group, so they are not counted.

A/B a change on a few queries by running the same subset in each
checkout, alternating:  SPARK_GRAFT_QUERIES=a,b python bench.py
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pandasy_spark.session import get_spark  # noqa: E402
from pandasy_spark.workload import QUERIES  # noqa: E402
from perfbench.tracing import JobCounter  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    # optional subset (comma-separated) for spot-benches and A/Bs, e.g.
    # the sf1.0 nonlinearity probe in scripts_scale.py; without one,
    # every registry query gets a row, so a new operator can never ship
    # without timing evidence
    subset = os.environ.get("SPARK_GRAFT_QUERIES")
    bench_queries = (
        [q.strip() for q in subset.split(",") if q.strip()]
        if subset
        else list(QUERIES)
    )
    spark = get_spark("pandasy-spark-bench")
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    # jobs between timed runs (warm-up, hygiene) go to their own group,
    # never to a query's, and never ungrouped: JobCounter charges new
    # ungrouped jobs to the next query it reads
    sc.setJobGroup("bench", "between queries")
    counter = JobCounter(sc)

    # warm the JVM + parquet footers with a trivial action
    QUERIES["q1_pricing_summary"](spark, sf_dir).count()

    # best of 3 runs per query: JVM/codegen warm-up + measured floor —
    # cuts local-mode scheduler jitter AND shared-host CPU noise out of
    # round-over-round comparisons (single runs on this host vary up to
    # ~1.5x run-to-run with identical code) without changing what is
    # measured
    # One failing query must NEVER null the whole bench file (BENCH_r05
    # `parsed: null` — a staged-stream row-cap trip at sf0.1 aborted the
    # run before a single timing was printed): record the error and
    # keep measuring the rest.
    # Wall-budget guards: the registry-derived list is ~314 queries
    # and the driver's bench window is finite — a timed-out bench
    # records NOTHING (the BENCH_r05 failure class).  Two guards keep
    # full coverage while bounding wall time: a query whose FIRST run
    # exceeds 15 s is not re-run (best-of-1 for the few heavyweights
    # costs a little jitter on queries where jitter is relatively
    # smallest), and once total elapsed passes the soft budget every
    # remaining query runs once.
    soft_budget = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET", "1500"))
    slow_cutoff = 15.0
    t_begin = time.perf_counter()
    times: dict[str, float] = {}
    errors: dict[str, str] = {}
    partial_times: dict[str, float] = {}
    layers: dict[str, dict] = {}

    def _cleanup() -> None:
        # Session hygiene BETWEEN queries (never between a query's own
        # best-of runs): ~330 sequential queries age the session —
        # every streaming gate leaves a memory-sink temp view pinned
        # in driver memory per run, and localCheckpoint blocks stay in
        # the block manager until their Python frames are collected.
        # Without this, late-registry machinery-floor gates pay other
        # queries' GC bill (streaming_outer_join read 2x its isolated
        # time inside the r9 full run).  Persistent warehouse tables
        # (bucketed-join gates) are untouched: temp views only.
        import gc

        try:
            for tv in spark.catalog.listTables():
                if tv.isTemporary:
                    spark.catalog.dropTempView(tv.name)
            spark.catalog.clearCache()
        except Exception:  # noqa: BLE001 — hygiene must never fail a bench
            pass
        gc.collect()

    for name in bench_queries:
        best = float("inf")
        construct_group, exec_group = f"{name}:construct", f"{name}:exec"
        counted: set[int] = set()  # job ids of this query's earlier runs
        try:
            for run in range(3):
                sc.setJobGroup(construct_group, name)
                start = time.perf_counter()
                df = QUERIES[name](spark, sf_dir)
                built = time.perf_counter()
                sc.setJobGroup(exec_group, name)
                exec_start = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                end = time.perf_counter()
                construct_s, exec_s = built - start, end - exec_start
                if construct_s + exec_s < best:
                    best = construct_s + exec_s
                    best_split = (construct_s, exec_s)
                construct_ids = counter.jobs(construct_group) - counted
                exec_ids = counter.jobs(exec_group) - counted
                counted |= construct_ids | exec_ids
                # heavyweights get best-of-2, not best-of-1: the
                # single-run streaming machinery floors ride state-store
                # maintenance timer alignment (streaming_outer_join read
                # 9.9-49 s across runs of identical code) and one retry
                # removes most of that variance for ~1 extra minute of
                # total wall
                if best >= slow_cutoff and run >= 1:
                    break
                if time.perf_counter() - t_begin > soft_budget:
                    break
        except Exception as exc:  # noqa: BLE001 — survive, report, move on
            errors[name] = f"{type(exc).__name__}: {exc}"[:200]
            print(f"BENCH ERROR {name}: {errors[name]}", file=sys.stderr)
            # a flaky query that succeeded on an earlier run keeps its
            # measured timing, but OUTSIDE the headline sum — an
            # errored name must never contribute to `value`, or the
            # round-over-round total stops being comparable (ADVICE r7)
            if best != float("inf"):
                partial_times[name] = round(best, 3)
            continue
        finally:
            sc.setJobGroup("bench", "between queries")
            _cleanup()
        times[name] = round(best, 3)
        stages, tasks = counter.stages_tasks(construct_ids | exec_ids)
        layers[name] = {
            "construct_s": round(best_split[0], 3),
            "exec_s": round(best_split[1], 3),
            "construct_jobs": len(construct_ids),
            "jobs": len(construct_ids) + len(exec_ids),
            "stages": stages,
            "tasks": tasks,
        }

    total = round(sum(times.values()), 3)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    payload = {
        "metric": "workload_total_wall",
        "value": total,
        "unit": "sec",
        "queries": times,
        "layers": layers,
        "sf": sf_val,
    }
    if errors:
        payload["errors"] = errors
    if partial_times:
        payload["partial_times"] = partial_times
    full = json.dumps(payload)
    # The driver's tail window keeps ~2 KB, so its BENCH_r{N}.json can
    # hold only the slowest ~60 queries.  Persist the COMPLETE
    # per-query map to a repo file (committed with the round) so the
    # full-registry ratio table survives even when stdout is truncated.
    # Subset spot-benches (SPARK_GRAFT_QUERIES) must NOT clobber the
    # full-registry record — the driver auto-commits dirty files.
    # Each core count keeps its own record: the 32-core default
    # (session.py) writes the legacy name, any other count a `_c{N}`
    # sibling.
    if not subset:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        record = ("BENCH_FULL_LATEST.json" if cpus == "32"
                  else f"BENCH_FULL_LATEST_c{cpus}.json")
        try:
            with open(
                os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             record),
                "w",
            ) as fh:
                fh.write(full + "\n")
        except OSError as exc:
            print(f"BENCH warning: could not persist full record: {exc}",
                  file=sys.stderr)
    # The driver records only the last ~2 KB of stdout and JSON-parses
    # the final line; with 90+ per-query entries the single line
    # overflows that window and the headline total becomes unparseable
    # (BENCH_r03 `parsed: null`).  So: if the full line fits a safe
    # budget, print it alone; otherwise print it for the log, then a
    # final compact line with the headline fields plus as many
    # slowest-first per-query entries as fit the budget.
    tail_budget = 1800
    if len(full) <= tail_budget:
        print(full)
    else:
        print(full)
        compact_q: dict[str, float] = {}
        base = {
            "metric": "workload_total_wall",
            "value": total,
            "unit": "sec",
            "sf": sf_val,
            "queries_total": len(times),
            "errors_total": len(errors),
            "queries": compact_q,
        }
        for name, t in sorted(times.items(), key=lambda kv: -kv[1]):
            compact_q[name] = t
            if len(json.dumps(base)) > tail_budget:
                del compact_q[name]
                break
        sys.stdout.flush()
        print(json.dumps(base))
    spark.stop()


if __name__ == "__main__":
    main()
