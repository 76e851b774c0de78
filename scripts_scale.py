"""Materialize a synthetic sf1.0-equivalent dataset and probe registry
gates for nonlinearity against it (dev utility, not shipped API).

The driver provides sf0.001/0.01/0.1; the 100 TB question the sf0.1
bench cannot answer is NONLINEARITY — a plan that is accidentally
O(n^2), or spills, shows a >>10x wall-clock ratio at 10x the rows.
``build`` writes ``.bench_sf1`` next to this script by replicating the
fact tables of ``$SPARK_GRAFT_SF_DIR`` (default sf0.1) 10x with shifted keys (dimension tables are copied
as-is, like TPC-H's fixed-size dims):

- ``lineitem``/``orders``: orderkey' = orderkey*10 + rep, all other
  columns preserved, so join fan-out and date selectivity scale
  exactly 10x.
- ``documents``: doc_id' = doc_id*10 + rep and a per-replica token is
  interleaved between words, so every replica is a DISTINCT document
  (distinct shingles/fingerprints) — corpus stats scale ~10x instead
  of creating an artificial 90%-duplicate corpus.
- ``events``: event_id' shifted, user_id preserved (10x denser
  sessions per user — the realistic direction).

Gates filtered on an id bound (e.g. ``doc_id < N``) shrink under the
id-shifting replication: they measure less data at sf1.0, not more, so
their ratio says nothing about scaling.

``probe`` runs the named gates through ``bench.py`` (best of 3, noop
sink) on the source tables and on their 10x replica, and prints each
gate's wall ratio and job counts.  Both commands make their sessions
with ``session.get_spark``: size them with ``$SPARK_GRAFT_CPUS`` and
``$SPARK_DRIVER_MEMORY`` for the host.

Usage::

    python scripts_scale.py build                 # write .bench_sf1 (once)
    python scripts_scale.py probe graph_pagerank,q5_local_supplier
"""

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)

from pandasy_spark.session import DEFAULT_SF_DIR  # noqa: E402

SRC = DEFAULT_SF_DIR
DST = os.path.join(ROOT, ".bench_sf1")
COPY = [
    "region", "nation", "customer", "supplier", "part", "embeddings",
]


def build() -> None:
    from pyspark.sql import functions as F

    from pandasy_spark.session import get_spark

    spark = get_spark("pandasy-scale-build")
    spark.sparkContext.setLogLevel("ERROR")
    reps = spark.range(10).select(F.col("id").alias("__rep"))

    def rep10(df):
        return df.crossJoin(F.broadcast(reps))

    os.makedirs(DST, exist_ok=True)
    for t in COPY:
        spark.read.parquet(f"{SRC}/{t}.parquet").write.mode(
            "overwrite"
        ).parquet(f"{DST}/{t}.parquet")

    li = spark.read.parquet(f"{SRC}/lineitem.parquet")
    rep10(li).withColumn(
        "l_orderkey", F.col("l_orderkey") * 10 + F.col("__rep")
    ).drop("__rep").write.mode("overwrite").parquet(f"{DST}/lineitem.parquet")

    o = spark.read.parquet(f"{SRC}/orders.parquet")
    rep10(o).withColumn(
        "o_orderkey", F.col("o_orderkey") * 10 + F.col("__rep")
    ).drop("__rep").write.mode("overwrite").parquet(f"{DST}/orders.parquet")

    docs = spark.read.parquet(f"{SRC}/documents.parquet")
    rep10(docs).withColumn(
        "doc_id", F.col("doc_id") * 10 + F.col("__rep")
    ).withColumn(
        "text",
        F.regexp_replace(
            F.col("text"), r"\s+", F.concat(F.lit(" zz"), F.col("__rep"), F.lit(" "))
        ),
    ).drop("__rep").write.mode("overwrite").parquet(f"{DST}/documents.parquet")

    ev = spark.read.parquet(f"{SRC}/events.parquet")
    rep10(ev).withColumn(
        "event_id", F.col("event_id") * 10 + F.col("__rep")
    ).drop("__rep").write.mode("overwrite").parquet(f"{DST}/events.parquet")
    spark.stop()
    print("built", DST)


def probe(gates: str) -> None:
    out = {}
    base = os.path.basename(SRC.rstrip("/"))
    for label, sf_dir in ((base, SRC), ("x10", DST)):
        r = subprocess.run(
            [sys.executable, os.path.join(ROOT, "bench.py")],
            env=dict(os.environ, SPARK_GRAFT_QUERIES=gates,
                     SPARK_GRAFT_SF_DIR=sf_dir),
            capture_output=True,
            text=True,
            check=True,
        )
        # the full line (the one with `layers`); a compact tail line
        # may follow it when the full line is long
        out[label] = next(
            json.loads(line) for line in r.stdout.splitlines()
            if line.startswith("{") and '"layers"' in line
        )
        print(label, json.dumps(out[label]["queries"]),
              json.dumps(out[label].get("errors", {})), flush=True)
    ratios = {}
    for q in gates.split(","):
        a, b = out[base]["layers"].get(q), out["x10"]["layers"].get(q)
        if a is None or b is None:
            ratios[q] = None  # errored at one scale: see the lines above
            continue
        ratios[q] = {
            "wall": round(out["x10"]["queries"][q]
                          / max(out[base]["queries"][q], 1e-9), 2),
            "jobs": f"{a['jobs']} -> {b['jobs']}",
        }
    print(json.dumps({f"x10_over_{base}_ratio": ratios}))


if __name__ == "__main__":
    if sys.argv[1:2] == ["build"]:
        build()
    elif sys.argv[1:2] == ["probe"] and len(sys.argv) == 3:
        probe(sys.argv[2])
    else:
        sys.exit(__doc__)
