"""End-to-end: run every workload query against its DuckDB oracle on
sf0.001 — the same check the driver performs at sf0.01."""

import glob
import json
import os

import duckdb
import pytest

from pandasy_spark.sources import TABLES, table_path
from pandasy_spark.workload import ORACLES, QUERIES
from tests.helpers import assert_pdf_eq


def _duck(sql: str, sf_dir: str):
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{table_path(sf_dir, t)}'"
            )
        return con.execute(sql).df()
    finally:
        con.close()


@pytest.mark.parametrize("name", sorted(ORACLES.keys()))
def test_query_matches_oracle(spark, sf_dir, name):
    actual = QUERIES[name](spark, sf_dir).toPandas()
    expected = _duck(ORACLES[name], sf_dir)
    # align column order (driver sorts columns by name before hashing)
    expected = expected[sorted(expected.columns)]
    actual = actual[sorted(actual.columns)]
    assert_pdf_eq(actual, expected)


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_queries_run(spark, sf_dir, name):
    df = QUERIES[name](spark, sf_dir)
    assert df.count() >= 0  # runs without error, stable schema
    assert len(df.schema.fields) > 0


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(e.oracle_sql()) <= set(e.queries())


def test_witness_order_fronts_unwitnessed_gates():
    """Each round's correctness gate records the first 50 names of
    queries(), so every gate no committed CORRECTNESS record has MATCHed
    must sit in that window; the order is derived from the records."""
    import __spark_entry__ as e

    root = os.path.dirname(os.path.abspath(e.__file__))
    fields = ("rows_match", "schema_match", "hash_match")
    matched = set()
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        with open(path) as fh:
            matched |= {
                k for k, r in json.load(fh).items()
                if all(r.get(f) for f in fields)
            }
    front = list(e.queries())[:50]
    assert set(QUERIES) - matched <= set(front)

    match = {"rows_match": True, "schema_match": True, "hash_match": True}
    no_oracle = {"rows_match": None, "schema_match": None,
                 "hash_match": None, "err": "no_oracle"}
    mismatch = {"rows_match": True, "schema_match": True, "hash_match": False}
    records = {
        1: {"a": match, "b": no_oracle},
        2: {"c": match, "e": match, "a": mismatch, "d": mismatch},
    }
    # b and d were never MATCHed (no_oracle / mismatch), a last MATCHed
    # in round 1, c and e in round 2 — registry order, not record
    # order, breaks every tie
    order = e._stalest_first(["e", "c", "a", "b", "d"], records)
    assert order == ["b", "d", "a", "e", "c"]


def test_udf_gate_runs_outside_repo_root(sf_dir, tmp_path):
    """UDF-based gates import pandasy_spark inside the Python worker: a
    session built the way the driver builds one, in a process started
    outside the repo root, must still run them."""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = (
        "import sys\n"
        f"sys.path.insert(0, {repo!r})\n"
        "from pyspark.sql import SparkSession\n"
        "import __spark_entry__ as e\n"
        "spark = (SparkSession.builder.master('local[2]')\n"
        "         .config('spark.ui.enabled', 'false').getOrCreate())\n"
        f"rows = e.queries()['multimodal_bmp'](spark, {sf_dir!r}).collect()\n"
        "print('ROWS', len(rows))\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "ROWS 200" in out.stdout, out.stdout[-3000:]


def test_bench_records_gate_layers(sf_dir):
    """bench.py, the one gate-timing harness, splits each gate's kept
    wall into construct and exec and counts its jobs, stages and tasks
    through public Spark APIs; a subset run leaves the full records
    alone."""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    def records():
        return {
            p: open(p, "rb").read()
            for p in glob.glob(os.path.join(repo, "BENCH_FULL_LATEST*.json"))
        }

    before = records()
    env = dict(
        os.environ,
        SPARK_GRAFT_QUERIES="q1_pricing_summary,agg_approx",
        SPARK_GRAFT_SF_DIR=sf_dir,
        SPARK_GRAFT_CPUS="2",
    )
    out = subprocess.run(
        [sys.executable, os.path.join(repo, "bench.py")],
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert records() == before
    last = json.loads(out.stdout.strip().splitlines()[-1])
    fields = {"construct_s", "exec_s", "construct_jobs", "jobs", "stages",
              "tasks"}
    for name in ("q1_pricing_summary", "agg_approx"):
        layer = last["layers"][name]
        assert set(layer) == fields, layer
        assert abs(layer["construct_s"] + layer["exec_s"]
                   - last["queries"][name]) <= 0.002
    # agg_approx pins its sketches concurrently while it is built
    approx = last["layers"]["agg_approx"]
    assert approx["jobs"] >= 1 and approx["construct_jobs"] >= 1, approx
    # no private scheduler probes anywhere in the repo's Python
    needle = "dag" + "Scheduler"
    offenders = []
    for root, dirs, files in os.walk(repo):
        dirs[:] = [d for d in dirs if not d.startswith(".")
                   and d not in ("__pycache__", "spark-warehouse")]
        for f in files:
            path = os.path.join(root, f)
            if f.endswith(".py") and needle in open(path).read():
                offenders.append(path)
    assert offenders == []
