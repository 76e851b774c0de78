"""Round-6 fourth batch: source gates (CSV/JSONL/ORC/partitioned/
bucketed) plan assertions, exact Mann-Whitney, directed SCC."""

import pytest
from pyspark.sql import functions as F

from pandasy_spark.extended.graph import scc
from pandasy_spark.extended.profile import mann_whitney


# ----------------------------------------------------------- plans


def test_partitioned_read_prunes(spark, tmp_path):
    out = str(tmp_path / "part")
    df = spark.createDataFrame(
        [(i, ["a", "b", "c"][i % 3]) for i in range(30)],
        "id long, k string",
    )
    df.write.partitionBy("k").parquet(out)
    back = spark.read.parquet(out).filter(F.col("k") == "b")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "isnotnull(k" in plan
    assert back.count() == 10


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    from pandasy_spark.sources import load_table, write_bucketed_table

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    write_bucketed_table(o, "t6d_bkt_o", ["o_custkey"], 4, sort_by=["o_custkey"])
    write_bucketed_table(c, "t6d_bkt_c", ["c_custkey"], 4, sort_by=["c_custkey"])
    ob, cb = spark.table("t6d_bkt_o"), spark.table("t6d_bkt_c")
    # at test scale AQE would broadcast (adding a BroadcastExchange);
    # force the sort-merge path — the one bucketing serves at 100 TB —
    # and assert bucket-to-bucket reads with NO exchange and NO sort
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = ob.join(cb, ob["o_custkey"] == cb["c_custkey"])
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan
        # (the per-partition Sort remains: Spark only elides it for
        # single-file buckets; the shuffle elision is the 100 TB win)
        n = joined.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
    # values unchanged vs the plain-parquet join
    assert n == o.join(c, o["o_custkey"] == c["c_custkey"]).count()


# ------------------------------------------------------ mann-whitney


def test_mann_whitney_no_ties_hand_computed(spark):
    # a = {1,2,3}, b = {4,5}: ranks a = 1,2,3 -> R_a = 6, U_a = 0
    rows = [("a", 1.0), ("a", 2.0), ("a", 3.0), ("b", 4.0), ("b", 5.0)]
    r = mann_whitney(
        spark.createDataFrame(rows, "g string, v double"), "v", "g", "a", "b"
    ).collect()[0]
    assert r["n_a"] == 3 and r["n_b"] == 2
    assert r["u_a_x2"] == 0  # 2*U_a
    assert r["tie_term"] == 0
    # z^2 = (U - n_a n_b/2)^2 / (n_a n_b (n+1)/12) = 9/3 = 3
    assert abs(r["z_sq"] - 3.0) < 1e-6


def test_mann_whitney_all_tied(spark):
    # every value identical: U_a = n_a*n_b/2 exactly, variance zero ->
    # z_sq divides 0/0 -> NaN/NULL acceptable; U must still be exact
    rows = [("a", 7.0)] * 3 + [("b", 7.0)] * 5
    r = mann_whitney(
        spark.createDataFrame(rows, "g string, v double"), "v", "g", "a", "b"
    ).collect()[0]
    assert r["u_a_x2"] == 3 * 5  # 2*U = n_a*n_b
    assert r["tie_term"] == 8 * 8 * 8 - 8


def test_mann_whitney_with_ties_hand_computed(spark):
    # a = {1, 2}, b = {2, 3}: ranks 1; 2.5, 2.5; 4
    # R_a = 1 + 2.5 = 3.5 -> 2R_a = 7; 2U_a = 7 - n_a(n_a+1) = 1
    rows = [("a", 1.0), ("a", 2.0), ("b", 2.0), ("b", 3.0)]
    r = mann_whitney(
        spark.createDataFrame(rows, "g string, v double"), "v", "g", "a", "b"
    ).collect()[0]
    assert r["u_a_x2"] == 1
    assert r["tie_term"] == 2 * 2 * 2 - 2


# -------------------------------------------------------------- scc


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "u long, v long")


def _scc_map(df):
    return {r["node"]: r["scc_id"] for r in df.collect()}


def test_scc_two_cycles_one_way_bridge(spark):
    # cycle {1,2,3}, cycle {10,11}, bridge 3 -> 10 (one-way)
    e = _edges(
        spark,
        [(1, 2), (2, 3), (3, 1), (10, 11), (11, 10), (3, 10)],
    )
    m = _scc_map(scc(e))
    assert m[1] == m[2] == m[3] == 3
    assert m[10] == m[11] == 11
    assert m[3] != m[10]


def test_scc_chain_of_components_needs_outer_rounds(spark):
    # condensation chain A -> B -> C where upstream has HIGHER ids:
    # A = {20,21}, B = {10,11}, C = {1,2}; colors collapse to 21
    # everywhere, so only A settles in outer round 1, B in round 2,
    # C in round 3 — exercises the peeling loop.
    e = _edges(
        spark,
        [
            (20, 21), (21, 20),
            (10, 11), (11, 10),
            (1, 2), (2, 1),
            (21, 10), (11, 1),
        ],
    )
    m = _scc_map(scc(e, rounds=4, outer_rounds=3))
    assert m[20] == m[21] == 21
    assert m[10] == m[11] == 11
    assert m[1] == m[2] == 2


def test_scc_singletons_and_self_loop(spark):
    # 5 -> 6 -> 7 acyclic: three singleton SCCs; 8 has a self-loop
    e = _edges(spark, [(5, 6), (6, 7), (8, 8)])
    m = _scc_map(scc(e))
    assert m == {5: 5, 6: 6, 7: 7, 8: 8}


def test_scc_guard_raises_when_underprovisioned(spark):
    # the 3-chain condensation cannot settle in one outer round
    e = _edges(
        spark,
        [
            (20, 21), (21, 20),
            (10, 11), (11, 10),
            (1, 2), (2, 1),
            (21, 10), (11, 1),
        ],
    )
    with pytest.raises(Exception, match="unsettled"):
        scc(e, rounds=4, outer_rounds=1).collect()


def test_scc_long_cycle_needs_rounds(spark):
    # a directed 6-cycle: one SCC, diameter 5 -> rounds=8 suffices
    cyc = [(i, i + 1) for i in range(1, 6)] + [(6, 1)]
    m = _scc_map(scc(_edges(spark, cyc), rounds=8, outer_rounds=2))
    assert set(m.values()) == {6}
    # the cycle reaches its fixpoint in ~6 steps: a bound of 100 must
    # exit early (every step runs at least one job, so running the
    # bound out would take >= 100 jobs in the forward loop alone)
    sc = spark.sparkContext
    sc.setJobGroup("scc-early-exit", "scc-early-exit")
    try:
        m = _scc_map(scc(_edges(spark, cyc), rounds=100, outer_rounds=2))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert set(m.values()) == {6}
    n_jobs = len(sc.statusTracker().getJobIdsForGroup("scc-early-exit"))
    assert n_jobs < 100, n_jobs


# ------------------------------------------------- csv corrupt keep


def test_read_csv_explicit_schema_types(spark, tmp_path):
    from pandasy_spark.sources import read_csv

    p = tmp_path / "x.csv"
    p.write_text("id,score,d\n1,2.5,2024-01-31\n2,,2024-02-01\n")
    back = read_csv(
        spark, str(p), schema="id:long,score:double,d:date"
    ).orderBy("id")
    rows = back.collect()
    assert rows[0]["score"] == 2.5 and rows[1]["score"] is None
    assert str(rows[0]["d"]) == "2024-01-31"


# ------------------------------------------------- stable row ids


def test_stable_row_ids_exact_ranks(spark):
    from pandasy_spark.operators.sort import stable_row_ids

    import random

    rng = random.Random(7)
    vals = list(range(500))
    rng.shuffle(vals)
    df = spark.createDataFrame([(v,) for v in vals], "k long").repartition(7)
    out = stable_row_ids(df, ["k"], num_partitions=5)
    got = {r["k"]: r["row_id"] for r in out.collect()}
    assert got == {v: v for v in range(500)}


def test_stable_row_ids_no_single_partition_sort(spark):
    from pandasy_spark.operators.sort import stable_row_ids

    df = spark.range(1000).select(F.col("id").alias("k"))
    plan = (
        stable_row_ids(df, ["k"], num_partitions=4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the range exchange happens once at checkpoint materialization
    # (both the count pass and the id pass scan the SAME pinned
    # layout: "Scan ExistingRDD"), no data-path window/row_number;
    # the only single-partition exchange feeds the #partitions-row
    # offset table
    assert plan.count("rangepartitioning") == 0
    assert "Scan ExistingRDD" in plan
    assert "row_number" not in plan
    assert plan.count("Exchange SinglePartition") == 1


def test_stable_row_ids_duplicate_keys_dense(spark):
    from pandasy_spark.operators.sort import stable_row_ids

    df = spark.createDataFrame([(1,), (1,), (2,), (2,), (2,)], "k long")
    out = stable_row_ids(df, ["k"], num_partitions=3)
    rows = sorted((r["k"], r["row_id"]) for r in out.collect())
    assert [r[1] for r in rows] == [0, 1, 2, 3, 4]
    assert {r[1] for r in rows if r[0] == 1} == {0, 1}


# ------------------------------------------------------------- dpp


def test_dpp_subquery_in_fact_scan(spark, tmp_path):
    out = str(tmp_path / "dpp")
    df = spark.createDataFrame(
        [(i, ["a", "b", "c", "d"][i % 4]) for i in range(400)],
        "id long, k string",
    )
    df.write.partitionBy("k").parquet(out)
    fact = spark.read.parquet(out)
    # a LITERAL k-filter would be constant-folded into a static
    # PartitionFilter by constraint propagation; filtering on a
    # non-partition column is what forces the runtime DPP subquery
    dim = (
        df.filter(F.col("id") % 100 == 1)
        .select(F.col("k").alias("p"))
        .distinct()
    )
    joined = fact.join(dim, fact["k"] == dim["p"])
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruningexpression" in plan.lower(), plan[:2000]
    assert joined.count() == 100
