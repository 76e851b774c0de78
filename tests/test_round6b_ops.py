"""Round-6 second batch: CDC apply, timeseries resample/LOCF,
weighted minhash dedup, KMV intersection algebra, weighted shortest
paths, grid-bucketed radius joins — semantics unit tests plus the
plan shapes that matter."""

import pytest
from pyspark.sql import functions as F

from pandasy_spark.extended.events import resample_locf
from pandasy_spark.extended.graph import sssp
from pandasy_spark.extended.spatial import radius_join, radius_pairs
from pandasy_spark.operators.scd import cdc_apply


# ---------------------------------------------------------------- CDC


def _base(spark):
    return spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)],
        "k long, s string, v long",
    )


def test_cdc_upsert_insert_delete(spark):
    chg = spark.createDataFrame(
        [
            (2, "B", 99, 1, "U"),   # update existing
            (4, "d", 40, 2, "U"),   # insert new key
            (3, None, 0, 3, "D"),   # delete existing
            (9, None, 0, 4, "D"),   # delete absent: no-op
        ],
        "k long, s string, v long, seq long, op string",
    )
    got = {
        r["k"]: (r["s"], r["v"])
        for r in cdc_apply(_base(spark), chg, ["k"], ["s", "v"]).collect()
    }
    assert got == {1: ("a", 10), 2: ("B", 99), 4: ("d", 40)}


def test_cdc_last_wins_per_key(spark):
    # same key changed thrice: highest seq wins, including a
    # delete-then-reinsert sequence
    chg = spark.createDataFrame(
        [
            (1, "x", 1, 10, "U"),
            (1, None, 0, 11, "D"),
            (1, "z", 3, 12, "U"),
            (2, "y", 2, 20, "U"),
            (2, None, 0, 21, "D"),
        ],
        "k long, s string, v long, seq long, op string",
    )
    got = {
        r["k"]: (r["s"], r["v"])
        for r in cdc_apply(_base(spark), chg, ["k"], ["s", "v"]).collect()
    }
    assert got == {1: ("z", 3), 3: ("c", 30)}


def test_cdc_validates_columns(spark):
    chg = spark.createDataFrame([(1, 1, "U")], "k long, seq long, op string")
    with pytest.raises(ValueError):
        cdc_apply(_base(spark), chg, ["k"], ["s", "v"])


# ----------------------------------------------------------- resample


def _series(spark, rows):
    df = spark.createDataFrame(
        rows, "event_id long, ts string, event_type string, value double"
    )
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def test_resample_locf_fills_gaps(spark):
    rows = [
        (1, "2024-01-01 00:10:00", "a", 1.0),
        (2, "2024-01-01 00:50:00", "a", 2.0),   # same bucket, later: wins
        (3, "2024-01-01 03:20:00", "a", 5.0),   # buckets 1..2 are gaps
        (4, "2024-01-01 01:00:00", "b", 7.0),
    ]
    df = _series(spark, rows)
    out = resample_locf(
        df, key_col="event_type", step_seconds=3600
    ).collect()
    a = sorted(
        [
            (r["bucket_ts"].hour, r["value"], r["is_observed"])
            for r in out
            if r["event_type"] == "a"
        ]
    )
    assert a == [
        (0, 2.0, True),    # latest-in-bucket rule: value 2.0, not 1.0
        (1, 2.0, False),   # gap: carried forward
        (2, 2.0, False),
        (3, 5.0, True),
    ]
    b = [r for r in out if r["event_type"] == "b"]
    assert len(b) == 1 and b[0]["value"] == 7.0 and b[0]["is_observed"]


def test_resample_tie_break_is_deterministic(spark):
    # two readings at the IDENTICAL timestamp: higher event_id wins
    rows = [
        (5, "2024-01-01 00:00:00", "a", 1.5),
        (9, "2024-01-01 00:00:00", "a", 9.5),
    ]
    df = _series(spark, rows)
    out = resample_locf(df, key_col="event_type").collect()
    assert len(out) == 1 and out[0]["value"] == 9.5


def test_resample_windows_are_key_partitioned(spark):
    df = _series(spark, [(1, "2024-01-01 00:00:00", "a", 1.0)])
    plan = resample_locf(df)._jdf.queryExecution().executedPlan().toString()
    # every Window must carry a partition spec (no global sort)
    for line in plan.splitlines():
        if "Window" in line and "windowspecdefinition" in line:
            assert "windowspecdefinition(k" in line.replace(" ", "").replace(
                "#", ""
            ) or "partitionBy" not in line


# --------------------------------------------------- weighted minhash


def test_weighted_jaccard_repetition_sensitivity(spark):
    from pandasy_spark.extended.dedup import (
        token_weight_rows,
        weighted_jaccard_pairs,
    )

    docs = spark.createDataFrame(
        [
            (1, "spam ham eggs"),
            (2, "spam ham eggs"),                      # identical: wj = 1
            (3, "spam spam spam spam ham eggs"),       # repetition-heavy
        ],
        "doc_id long, text string",
    )
    got = {
        (r["id1"], r["id2"]): r
        for r in weighted_jaccard_pairs(
            docs, num_hashes=32, bands=16, threshold_milli=100
        ).collect()
    }
    assert got[(1, 2)]["wjaccard"] == 1.0
    # plain Jaccard on token SETS would call 1 and 3 identical; the
    # weighted form must not: min-sum 3, max-sum 6 -> 0.5
    assert (1, 3) in got
    assert got[(1, 3)]["inter_w"] == 3 and got[(1, 3)]["union_w"] == 6
    assert got[(1, 3)]["wjaccard"] == 0.5
    # cap clips counts
    tc = {
        (r["id"], r["tok"]): r["cnt"]
        for r in token_weight_rows(docs, cap=2).collect()
    }
    assert tc[(3, "spam")] == 2


def test_weighted_minhash_signature_shape(spark):
    from pandasy_spark.extended.dedup import (
        token_weight_rows,
        weighted_minhash_signatures,
    )

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a a a b")], "doc_id long, text string"
    )
    sigs = weighted_minhash_signatures(
        token_weight_rows(docs), num_hashes=16
    ).collect()
    assert all(len(r["signature"]) == 16 for r in sigs)
    assert all(
        0 <= v < 2147483647 for r in sigs for v in r["signature"]
    )


# ------------------------------------------------------ KMV intersect


def test_kmv_intersect_identical_groups(spark):
    from pandasy_spark.extended.sketches import kmv_intersect_estimate

    # two groups with IDENTICAL key sets: K∩ = k, jaccard = 1000,
    # est_inter == est_union — the algebra's fixed point
    df = spark.range(500).select(
        F.explode(F.array(F.lit("a"), F.lit("b"))).alias("g"),
        F.col("id").alias("k"),
    )
    r = kmv_intersect_estimate(df, "g", "k", k=16).collect()
    assert len(r) == 1
    row = r[0]
    assert row["k_common"] == 16
    assert row["jaccard_milli"] == 1000
    assert row["est_inter"] == row["est_union"]


def test_kmv_intersect_disjoint_groups(spark):
    from pandasy_spark.extended.sketches import kmv_intersect_estimate

    df = spark.range(400).select(
        F.when(F.col("id") < 200, "a").otherwise("b").alias("g"),
        F.col("id").alias("k"),
    )
    row = kmv_intersect_estimate(df, "g", "k", k=16).collect()[0]
    assert row["k_common"] == 0
    assert row["jaccard_milli"] == 0 and row["est_inter"] == 0


def test_kmv_intersect_overlap_bounds(spark):
    from pandasy_spark.extended.sketches import kmv_intersect_estimate

    # 0..299 vs 150..449: J = 150/450 = 1/3
    df = spark.range(300).select(
        F.lit("a").alias("g"), F.col("id").alias("k")
    ).union(
        spark.range(150, 450).select(
            F.lit("b").alias("g"), F.col("id").alias("k")
        )
    )
    row = kmv_intersect_estimate(df, "g", "k", k=64).collect()[0]
    assert 0 < row["k_common"] < 64
    # J=1/3, k=64: stderr ~ sqrt(J(1-J)/k) ~ 6%; assert within 4 sigma
    assert 100 <= row["jaccard_milli"] <= 570
    assert row["est_inter"] <= row["est_union"]


# --------------------------------------------------------------- SSSP


def test_sssp_prefers_cheap_two_hop_path(spark):
    # 1->2 costs 10 direct, but 1->3->2 costs 2+3=5
    e = spark.createDataFrame(
        [(1, 2, 10), (1, 3, 2), (3, 2, 3)], "x long, y long, w long"
    )
    src = spark.createDataFrame([(1,)], "node long")
    got = {r["node"]: r["dist"] for r in sssp(e, src, rounds=3).collect()}
    assert got == {1: 0, 3: 2, 2: 5}


def test_sssp_round_bound_and_parallel_edge_min(spark):
    # parallel edges keep the min weight; rounds=1 can't see 2 hops
    e = spark.createDataFrame(
        [(1, 2, 7), (1, 2, 4), (2, 3, 1)], "x long, y long, w long"
    )
    src = spark.createDataFrame([(1,)], "node long")
    got = {r["node"]: r["dist"] for r in sssp(e, src, rounds=1).collect()}
    assert got == {1: 0, 2: 4}
    got3 = {r["node"]: r["dist"] for r in sssp(e, src, rounds=2).collect()}
    assert got3 == {1: 0, 2: 4, 3: 5}
    # zero rounds: the sources alone, at distance 0
    got0 = {r["node"]: r["dist"] for r in sssp(e, src, rounds=0).collect()}
    assert got0 == {1: 0}


# ------------------------------------------------------- radius join


def _pts(spark, rows):
    return spark.createDataFrame(rows, "id long, x long, y long")


def test_radius_pairs_matches_brute_force(spark):
    import itertools
    import random

    rng = random.Random(7)
    rows = [
        (i, rng.randrange(-100, 100), rng.randrange(-100, 100))
        for i in range(80)
    ]
    want = set()
    for (i1, x1, y1), (i2, x2, y2) in itertools.combinations(rows, 2):
        if (x1 - x2) ** 2 + (y1 - y2) ** 2 <= 30 * 30:
            want.add((min(i1, i2), max(i1, i2)))
    got = {
        (r["id1"], r["id2"])
        for r in radius_pairs(_pts(spark, rows), radius=30).collect()
    }
    assert got == want


def test_radius_join_boundary_and_cells(spark):
    # exactly on the radius: included; one past: excluded; pairs that
    # straddle cell boundaries (including negative coords) are found
    left = _pts(spark, [(1, 0, 0), (2, -5, -5)])
    right = spark.createDataFrame(
        [(10, 5, 0), (11, 6, 0), (12, -9, -8)], "rid long, x long, y long"
    )
    got = {
        (r["id"], r["rid"]): r["dist_sq"]
        for r in radius_join(
            left, right, radius=5, id_cols=("id", "rid")
        ).collect()
    }
    assert got == {(1, 10): 25, (2, 12): 25}


def test_radius_join_plan_is_equi_join(spark):
    left = _pts(spark, [(1, 0, 0)])
    right = spark.createDataFrame([(2, 1, 1)], "rid long, x long, y long")
    plan = (
        radius_join(left, right, radius=10, id_cols=("id", "rid"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_radius_join_validates_radius(spark):
    p = _pts(spark, [(1, 0, 0)])
    with pytest.raises(ValueError):
        radius_pairs(p, radius=0)


# ------------------------------------------------------- beam ANN


def test_beam_topk_planted_clusters_recall(spark):
    import numpy as np

    from pandasy_spark.extended.similarity import beam_topk

    # 4 tight clusters, queries at cluster centers: graph edges stay
    # intra-cluster, beam must find exactly the planted neighbors
    rng = np.random.RandomState(3)
    centers = rng.uniform(-1, 1, size=(4, 8))
    rows = []
    for i in range(80):
        c = i % 4
        v = centers[c] + rng.uniform(-0.01, 0.01, 8)
        rows.append((i + 100, [float(x) for x in v]))
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qrows = [(c, [float(x) for x in centers[c]]) for c in range(4)]
    queries = spark.createDataFrame(
        qrows, "query_id long, embedding array<float>"
    )
    got = beam_topk(
        corpus, queries, k=5, m=8, beam_width=24, rounds=3, n_entry=4,
        query_id_col="query_id",
    ).collect()
    assert len(got) == 20
    for r in got:
        # every returned neighbor is from the query's own cluster
        assert (r["id"] - 100) % 4 == r["query_id"]


def test_knn_graph_is_topm_and_deterministic(spark):
    from pandasy_spark.extended.similarity import knn_graph

    rows = [(i, [float(i), 0.0]) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    g1 = sorted(
        (r["node"], r["nbr"], r["d2"]) for r in knn_graph(df, m=3).collect()
    )
    g2 = sorted(
        (r["node"], r["nbr"], r["d2"]) for r in knn_graph(df, m=3).collect()
    )
    assert g1 == g2
    from collections import Counter

    per_node = Counter(n for n, _, _ in g1)
    assert all(c <= 3 for c in per_node.values())


def test_beam_validates_widths(spark):
    from pandasy_spark.extended.similarity import beam_topk

    df = spark.createDataFrame(
        [(1, [0.0, 0.0])], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError):
        beam_topk(df, df, k=5, beam_width=3)


# ------------------------------------------------------------- EWMA


def test_ewma_hand_computed(spark):
    from pandasy_spark.extended.events import ewma_per_key

    # x = [100, 200, 400] cents, alpha=1/4:
    # v0=100; v1=floor((200+3*100)/4)=125; v2=floor((400+3*125)/4)=193
    rows = [
        (1, "2024-01-01 00:00:00", "a", 1.0),
        (2, "2024-01-01 00:01:00", "a", 2.0),
        (3, "2024-01-01 00:02:00", "a", 4.0),
    ]
    df = _series(spark, rows)
    out = ewma_per_key(df, key_col="event_type").collect()
    assert len(out) == 1
    assert out[0]["ewma_cents"] == 193 and out[0]["n"] == 3
    assert out[0]["ewma"] == 1.93


def test_ewma_order_and_validation(spark):
    from pandasy_spark.extended.events import ewma_per_key

    # same values in reversed insertion order: fold must follow ts
    rows = [
        (3, "2024-01-01 00:02:00", "a", 4.0),
        (1, "2024-01-01 00:00:00", "a", 1.0),
        (2, "2024-01-01 00:01:00", "a", 2.0),
    ]
    out = ewma_per_key(_series(spark, rows), key_col="event_type").collect()
    assert out[0]["ewma_cents"] == 193
    with pytest.raises(ValueError):
        ewma_per_key(_series(spark, rows), a=4, b=4)
