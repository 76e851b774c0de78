"""Focused pins for round-11 optimization rewrites: each test locks
the behavior an optimization could have disturbed (half-pair
mirroring, sparse iteration zero-fill, scoped shuffle partitions)."""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def spark():
    import sys

    sys.path.insert(0, "/root/repo")
    from pandasy_spark.session import get_spark

    s = get_spark("r11-opt-tests", master="local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def test_knn_graph_emits_both_directions(spark):
    """The half-pair rewrite scores node<nbr once and mirrors: the
    directed edge set must still contain BOTH orientations with equal
    d2."""
    from pandasy_spark.extended.similarity import knn_graph

    df = spark.createDataFrame(
        [(i, [float(i), float(i % 3)]) for i in range(12)],
        "vec_id long, embedding array<double>",
    )
    rows = {(r["node"], r["nbr"]): r["d2"] for r in knn_graph(df, m=11, planes=1, tables=2).collect()}
    assert rows, "graph must be non-empty"
    for (u, w), d in rows.items():
        assert (w, u) in rows, f"missing mirror of ({u},{w})"
        assert rows[(w, u)] == d


def test_pagerank_sparse_matches_dense_zero_fill(spark):
    """Nodes with no incoming edges must read exactly base rank after
    the sparse-iteration rewrite, and dangling-sink ranks must match
    the dense formulation's coalesce-0 arithmetic."""
    from pandasy_spark.extended.graph import SCALE, pagerank

    # 1 -> 2 -> 3, 4 isolated-as-source (4 -> 2): node 1 and 4 have no
    # in-edges, 3 is a dangling sink
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 2)], "src long, dst long"
    )
    got = {r["node"]: r["rank_nano"] for r in pagerank(e, iterations=2).collect()}
    base = (100 - 85) * SCALE // 100
    assert got[1] == base and got[4] == base
    # node 2: two in-edges from rank-SCALE sources with outdeg 1 each
    r2_round1 = base + 85 * (SCALE + SCALE) // 100
    # node 3 after round 2: incoming = r2_round1 div 1
    assert got[3] == base + 85 * r2_round1 // 100
    assert set(got) == {1, 2, 3, 4}


def test_ppr_seed_base_persists_without_incoming(spark):
    """A seed with no in-edges must keep rank seed*base after round 1
    (the left-join fix: an inner join on sparse incoming would drop
    its contribution in later rounds)."""
    from pandasy_spark.extended.graph import SCALE, personalized_pagerank

    e = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    seeds = spark.createDataFrame([(1,)], "node long")
    got = {
        r["node"]: r["rank_nano"]
        for r in personalized_pagerank(e, seeds, iterations=2).collect()
    }
    base = (100 - 85) * SCALE // 100
    assert got[1] == base  # seed, no in-edges: restart mass only
    # node 2 round 2: restart 0 + d * (seed rank base div outdeg 1)
    assert got[2] == 85 * base // 100
    # node 3 round 2: fed by node 2's ROUND-1 rank = d*SCALE div 100
    assert got[3] == 85 * (85 * SCALE // 100) // 100
    assert set(got) == {1, 2, 3}
    # zero iterations: the start vector, SCALE on seeds and 0 elsewhere
    got0 = {
        r["node"]: r["rank_nano"]
        for r in personalized_pagerank(e, seeds, iterations=0).collect()
    }
    assert got0 == {1: SCALE, 2: 0, 3: 0}


def test_hits_dense_output_after_sparse_rounds(spark):
    """Every vertex must appear in the output with exact zero-filled
    scores even when it drops out of the sparse intermediate
    frames."""
    from pandasy_spark.extended.graph import hits

    # 2 -> 1: node 2 is a pure hub, node 1 a pure authority; after two
    # UNNORMALIZED rounds hub(1) = 0 and auth(2) = 0 exactly
    e = spark.createDataFrame([(2, 1)], "src long, dst long")
    got = {r["node"]: (r["hub"], r["auth"]) for r in hits(e, iterations=2).collect()}
    assert got[2][1] == 0 and got[1][0] == 0
    assert got[2][0] > 0 and got[1][1] > 0


def test_scoped_shuffle_partitions_restores(spark):
    from pandasy_spark.session import scoped_shuffle_partitions

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    with scoped_shuffle_partitions(spark, 1):
        assert spark.conf.get("spark.sql.shuffle.partitions") == "1"
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
    # exception path must restore too
    with pytest.raises(RuntimeError):
        with scoped_shuffle_partitions(spark, 1):
            raise RuntimeError("boom")
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev


def test_materialize_concurrently_preserves_results(spark):
    from pandasy_spark.concurrency import materialize_concurrently

    a = spark.range(100).select(F.col("id"), (F.col("id") * 2).alias("x"))
    b = spark.range(50).groupBy((F.col("id") % 5).alias("k")).count()
    pa, pb = materialize_concurrently([a, b])
    assert pa.orderBy("id").collect() == a.orderBy("id").collect()
    assert pb.orderBy("k").collect() == b.orderBy("k").collect()


def test_neighbor_agg_half_pair_equals_directed_distinct(spark):
    """graph_neighbor_agg's mirrored half-pair dedup must equal the
    directed-distinct formulation on a frame with multi-slot pairs."""
    rows = [(1, 10), (2, 10), (3, 10), (1, 20), (2, 20), (2, 30)]
    e = spark.createDataFrame(rows, "u long, slot long").distinct()
    a, b = e.alias("a"), e.alias("b")
    directed = (
        a.join(
            b,
            (F.col("b.slot") == F.col("a.slot"))
            & (F.col("b.u") != F.col("a.u")),
        )
        .select(F.col("a.u").alias("u"), F.col("b.u").alias("w"))
        .distinct()
    )
    half = (
        a.join(
            b,
            (F.col("b.slot") == F.col("a.slot"))
            & (F.col("b.u") > F.col("a.u")),
        )
        .select(F.col("a.u").alias("u"), F.col("b.u").alias("w"))
        .distinct()
    )
    mirrored = half.select(
        F.explode(
            F.array(
                F.struct("u", "w"),
                F.struct(F.col("w").alias("u"), F.col("u").alias("w")),
            )
        ).alias("__e")
    ).select("__e.*")
    assert sorted(map(tuple, directed.collect())) == sorted(
        map(tuple, mirrored.collect())
    )
