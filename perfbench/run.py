#!/usr/bin/env python3
"""Closed-loop benchmark of the pandasy_spark gate registry.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

One run, from the root of a checkout of the repository:

1. generates the input tables (``datagen``, scale 0.01) inside
   ``.perfbench_run/`` of the checkout;
2. sets up ``SETUPS`` times (the JVM runs its C1 compiler only, see
   ``spark_env``): the first set-up is process start ->
   ``get_spark(master="local[2]", shuffle_partitions=2)`` -> one untimed
   warm pass over every gate of the workload, each gate's result
   collected (``toPandas`` in place of the workload's sink) and checked
   against its DuckDB oracle (oracle time excluded); later set-ups stop
   the session, start a new one and warm-pass again.  ``setup_s`` is the
   median;
3. runs whole passes over the workload's gates, each pass in an order
   drawn from ``--seed``, until ``--seconds`` of gate time is measured.
   One client: a gate starts after the previous gate and its sink end.
   Between gates (outside the timed window) temp views are dropped, the
   cache cleared and the Python heap collected;
4. prints a detail line and, last, one JSON object: ``correct``,
   ``attempted``, ``failed`` and the end-to-end metrics (``--trace 0``)
   or the per-layer metrics (``--trace 1``).

``--trace 1`` additionally wraps the library's public layer functions
in span recorders, counts jobs through ``statusTracker()``, counts
micro-batches through a ``StreamingQueryListener`` and rolls up an
uncompressed event log.  End-to-end numbers come from ``--trace 0``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import random  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import datagen, stats  # noqa: E402
from perfbench.workloads import SINK_NAMES, WORKLOADS  # noqa: E402

SF = 0.01
MASTER, SHUFFLE_PARTITIONS = "local[2]", 2
SETUPS = 3
DRIVER_MEMORY = "2g"


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def host_probe() -> float:
    """Median time of a fixed pure-Python loop: a diagnostic of host
    speed that never scales a metric."""
    def once() -> float:
        t = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc = (acc + i * i) % 1_000_003
        return time.perf_counter() - t

    return stats.median([once() for _ in range(5)])


def spark_env(run_dir: str, trace: bool) -> None:
    """Keep every file Spark, the JVM and Python write inside the run
    directory, and enable the uncompressed event log when tracing."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    import tempfile

    tempfile.tempdir = tmp
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.sql.streaming.checkpointLocation": os.path.join(run_dir, "checkpoints"),
    }
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    args = []
    for k, v in conf.items():
        args += ["--conf", f"{k}={v}"]
    # C1 only: with the default tiered compiler, C2 compilation of Spark's
    # planner paths goes on for minutes, and per-pass time still fell
    # 20-30% across the timed passes after three warm passes, so each run
    # measured a different point of the warm-up curve
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:TieredStopAtLevel=1"
    args += ["--driver-java-options", java_opts, "pyspark-shell"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args)


def _collect_sink(spark, df, ctx) -> dict:
    return {"result": df.toPandas()}


class Bench:
    def __init__(self, args, run_dir: str):
        self.wl = WORKLOADS[args.workload]
        self.run_dir = run_dir
        self.sf_dir = os.path.join(run_dir, "data")
        self.ctx = {"out_dir": os.path.join(run_dir, "out")}
        self.rng = random.Random(args.seed)
        self.attempted = self.failed = 0
        self.mismatches: list[str] = []
        self.errors: list[str] = []
        self.tracer = self.counter = self.listener = None
        self.samples: list[dict] = []

    # -- library --------------------------------------------------------
    def import_library(self) -> None:
        import __spark_entry__
        from pandasy_spark.session import get_spark

        path = list(sys.path)
        import scripts_check  # the repository's own result normalizer

        sys.path[:] = path  # scripts_check prepends a path of its own
        self.get_spark = get_spark
        self.queries = __spark_entry__.queries()
        self.oracles = __spark_entry__.oracle_sql()
        self.normalize = scripts_check.normalize
        missing = [g for g in self.wl.gates if g not in self.queries or g not in self.oracles]
        if missing:
            raise SystemExit(f"gates missing from the registry: {missing}")

    def start_session(self):
        self.spark = self.get_spark("perfbench", master=MASTER, shuffle_partitions=SHUFFLE_PARTITIONS)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    # -- one gate ---------------------------------------------------------
    def hygiene(self) -> float:
        """Between-gate clean-up, never timed: drop temp views, clear
        the cache, collect the Python heap.  Returns its seconds."""
        t = time.perf_counter()
        spark = self.spark
        for row in spark.sql("SHOW VIEWS").collect():
            if row.isTemporary:
                spark.catalog.dropTempView(row.viewName)
        spark.catalog.clearCache()
        gc.collect()
        return time.perf_counter() - t

    def run_gate(self, name: str, group: str, sink=None):
        """Construct the gate, run its sink (the workload's unless one is
        given); returns (construct s, action s, sink output) or None if
        it raised."""
        sc = self.spark.sparkContext
        sc.setJobGroup(group, name)
        self.attempted += 1
        try:
            t0 = time.perf_counter()
            df = self.queries[name](self.spark, self.sf_dir)
            t1 = time.perf_counter()
            construct_end = time.time()
            construct_jobs = self.counter.jobs(group) if self.counter else None
            t2 = time.perf_counter()
            action_start = time.time()
            out = (sink or self.wl.sinks[name])(self.spark, df, self.ctx)
            t3 = time.perf_counter()
            action_end = time.time()
        except Exception as exc:  # noqa: BLE001 — a failed gate is counted, the run goes on
            self.failed += 1
            self.errors.append(f"{name}: {type(exc).__name__}: {str(exc)[:300]}")
            print(f"perfbench: gate {name} failed: {self.errors[-1]}", file=sys.stderr)
            return None
        finally:
            sc.setJobGroup("perfbench", "between gates")
        if construct_jobs is not None:
            out["construct_end"] = construct_end
            out["action_window"] = (action_start, action_end)
            out["construct_ids"] = construct_jobs
            out["action_ids"] = self.counter.jobs(group) - construct_jobs
            out["action_stages"], out["action_tasks"] = self.counter.stages_tasks(out["action_ids"])
        return t1 - t0, t3 - t2, out

    def oracle_check(self, name: str, result) -> None:
        got = self.normalize(result)
        want = self.normalize(self.duck.execute(self.oracles[name]).df())
        if not (got.shape == want.shape and got.equals(want)):
            self.failed += 1
            self.mismatches.append(name)
            print(f"perfbench: gate {name} does not match its oracle", file=sys.stderr)

    def warm_pass(self, check: bool) -> tuple[float, float]:
        """One untimed pass over every gate; returns (pass seconds
        without oracle and hygiene, oracle seconds).  With ``check``
        each result is collected to the driver in place of the
        workload's sink and compared with its oracle."""
        order = list(self.wl.gates)
        self.rng.shuffle(order)
        t0 = time.perf_counter()
        untimed = oracle_s = 0.0
        for i, name in enumerate(order):
            res = self.run_gate(name, f"warm:{i}:{name}", _collect_sink if check else None)
            if res is not None and check:
                t = time.perf_counter()
                self.oracle_check(name, res[2]["result"])
                oracle_s += time.perf_counter() - t
            untimed += self.hygiene()
        return time.perf_counter() - t0 - oracle_s - untimed, oracle_s

    # -- the measured loop --------------------------------------------------
    def timed_loop(self, seconds: float) -> tuple[float, int]:
        measured, passes = 0.0, 0
        while measured < seconds:
            if passes and not any(s["pass"] == passes - 1 for s in self.samples):
                break  # every gate of the last pass failed
            order = list(self.wl.gates)
            self.rng.shuffle(order)
            for name in order:
                idx = len(self.samples)
                if self.tracer is not None:
                    self.tracer.sample = idx
                e0 = time.time()
                res = self.run_gate(name, f"s:{idx}:{name}")
                e1 = time.time()
                if res is not None:
                    c_s, a_s, out = res
                    measured += c_s + a_s
                    self.samples.append({
                        "gate": name, "pass": passes, "group": f"s:{idx}:{name}",
                        "construct_s": c_s, "action_s": a_s, "epoch": (e0, e1), **out,
                    })
                if self.tracer is not None:
                    self.tracer.sample = None
                self.hygiene()
            passes += 1
        return measured, passes


def main(argv=None) -> int:
    args = parse_args(argv)
    trace = bool(args.trace)
    run_dir = os.path.join(ROOT, ".perfbench_run", str(os.getpid()))
    os.makedirs(run_dir, exist_ok=True)
    spark_env(run_dir, trace)
    b = Bench(args, run_dir)
    try:
        return _run(b, args, trace)
    finally:
        _shutdown()
        shutil.rmtree(run_dir, ignore_errors=True)
        with contextlib.suppress(OSError):  # another run may still use it
            os.rmdir(os.path.dirname(run_dir))


def _run(b: Bench, args, trace: bool) -> int:
    b.import_library()
    import duckdb
    import pyspark

    imports_s = time.perf_counter() - T_START
    datagen.write(b.sf_dir, SF)
    b.duck = duckdb.connect()
    b.duck.execute("SET threads = 1")
    for name in datagen.TABLES:
        b.duck.execute(f"CREATE VIEW {name} AS SELECT * FROM '{os.path.join(b.sf_dir, name)}.parquet'")
    probe_s = host_probe()

    # set-up 1: process start -> session ready -> warm pass with oracle check
    t = time.perf_counter()
    spark = b.start_session()
    session_s = imports_s + time.perf_counter() - t
    warm_s, oracle_s = b.warm_pass(check=True)
    setups = [session_s + warm_s]
    # later set-ups: a new session in the same JVM, warm pass again
    for _ in range(SETUPS - 1):
        t = time.perf_counter()
        spark.stop()
        spark = b.start_session()
        session_again_s = time.perf_counter() - t
        setups.append(session_again_s + b.warm_pass(check=False)[0])

    sc = spark.sparkContext
    info = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "master": sc.master, "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "nproc": os.cpu_count(), "spark": spark.version, "pyspark": pyspark.__version__,
        "python": platform.python_version(), "java": sc._jvm.System.getProperty("java.version"),
        "sf": SF, "driver_memory": DRIVER_MEMORY,
        "sinks": {g: SINK_NAMES[f] for g, f in b.wl.sinks.items()},
        "host_cpu_probe_s": probe_s, "setups_s": setups, "oracle_s": oracle_s,
        "oracle_mismatches": b.mismatches,
    }
    if trace:
        from perfbench import tracing

        b.tracer = tracing.Tracer(sc)
        info["wrapped_functions"] = b.tracer.install()
        # the gate call itself is the workload layer's span
        b.queries = {g: b.tracer.wrap(b.queries[g], "workload", g) for g in b.wl.gates}
        b.counter = tracing.JobCounter(sc)
        b.listener = tracing.make_stream_listener()
        spark.streams.addListener(b.listener)
        app_id = sc.applicationId
        jvm_cpu0, drv_cpu0 = _jvm_cpu_s(), time.process_time()

    measured, passes = b.timed_loop(args.seconds)
    lat = [s["construct_s"] + s["action_s"] for s in b.samples]
    pct, tail_v, beyond = stats.tail(lat) if lat else (50, 0.0, 0)
    e2e = {
        "gates_per_s": (len(lat) / measured if measured else 0.0, "gates/s"),
        "latency_p50_s": (stats.median(lat), "s"),
        "latency_tail_s": (tail_v, "s"),
        "setup_s": (stats.median(setups), "s"),
    }
    info.update({
        "passes": passes, "samples": len(lat), "measured_s": measured,
        "tail_percentile": pct, "tail_beyond": beyond,
        "pass_s": [
            sum(x for s, x in zip(b.samples, lat) if s["pass"] == n) for n in range(passes)
        ],
        "per_gate_median_s": {
            g: stats.median([x for s, x in zip(b.samples, lat) if s["gate"] == g]) for g in b.wl.gates
        },
        "gates_attempted": b.attempted, "gates_failed": b.failed, "errors": b.errors[:10],
    })
    if trace:
        time.sleep(1.0)  # let the listener bus deliver the last progress events
        scalars = {
            "process.jvm_cpu_s": (_jvm_cpu_s() - jvm_cpu0) / passes,
            "process.driver_cpu_s": (time.process_time() - drv_cpu0) / passes,
            "host.cpu_probe_s": probe_s,
            "session.start_s": session_s,
            "session.warm_s": warm_s,
            **{"traced." + k: v for k, (v, _u) in e2e.items()},
        }
        spark.stop()  # flushes and closes the event log
        from perfbench import layers

        metrics, info["count_repeat"] = layers.per_layer(b, passes, app_id, scalars)
    else:
        metrics = e2e
    print(json.dumps({"perfbench": info}, default=str))
    print(json.dumps({
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def _jvm_cpu_s() -> float:
    """User + system CPU seconds of the JVM the session runs in (the
    process pyspark launched), from the kernel's process accounting."""
    from pyspark import SparkContext

    with open(f"/proc/{SparkContext._gateway.proc.pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def _shutdown() -> None:
    """Stop the session, then the JVM the session started, and wait for
    it to exit."""
    try:
        from pyspark import SparkContext
    except ImportError:
        return
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


if __name__ == "__main__":
    sys.exit(main())
