"""Round-6 operators: multi-source BFS, Markov transitions, count-min
sketch, HLL merge, BM25 retrieval, magic-byte sniffing, script
profiling — semantics unit tests plus the plan shapes that matter."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from pandasy_spark.extended.graph import bfs_hops
from pandasy_spark.extended.sketches import (
    cms_point_estimate,
    cms_sketch,
    hll_merge,
    hll_sketch,
)
from tests.helpers import GRAPH_GATE_JOBS


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "x long, y long")


def test_bfs_multi_source_min_distance(spark):
    # path 1-2-3-4-5 plus island 10-11; sources {1, 5}
    e = _edges(spark, [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)])
    src = spark.createDataFrame([(1,), (5,)], "node long")
    got = {r["node"]: r["dist"] for r in bfs_hops(e, src, max_hops=2).collect()}
    assert got == {1: 0, 5: 0, 2: 1, 4: 1, 3: 2}
    # island unreachable: absent, not NULL


def test_bfs_zero_hops_and_validation(spark):
    e = _edges(spark, [(1, 2)])
    src = spark.createDataFrame([(2,)], "node long")
    got = bfs_hops(e, src, max_hops=0).collect()
    assert [(r["node"], r["dist"]) for r in got] == [(2, 0)]
    with pytest.raises(ValueError):
        bfs_hops(e, src, max_hops=-1)


def test_transition_matrix_counts_and_probs(spark):
    from pandasy_spark.extended.events import transition_matrix

    rows = [
        # user 1: a -> b -> a ; user 2: a -> b (ts tie broken by id)
        (1, 1, "a"), (1, 2, "b"), (1, 3, "a"),
        (2, 4, "a"), (2, 5, "b"),
    ]
    df = spark.createDataFrame(
        [(u, i, t) for u, i, t in rows], "user_id long, event_id long, event_type string"
    ).withColumn("ts", F.timestamp_seconds(F.col("event_id") * 60))
    out = {
        (r["from_type"], r["to_type"]): (r["n"], r["prob"])
        for r in transition_matrix(df).collect()
    }
    assert out[("a", "b")] == (2, 1.0)
    assert out[("b", "a")] == (1, 1.0)
    assert ("b", None) not in out and len(out) == 2


def test_cms_one_sided_and_exact_when_wide(spark):
    df = spark.range(1000).select(
        (F.col("id") % 10).alias("k"), F.lit("g").alias("g")
    )
    sk = cms_sketch(df, ["g"], "k", depth=3, width=4096)
    probes = spark.range(12).select(
        F.col("id").alias("k"), F.lit("g").alias("g")
    )
    est = {
        r["k"]: r["est"]
        for r in cms_point_estimate(sk, probes, ["g"], "k", width=4096).collect()
    }
    # 10 distinct keys in 3x4096 cells: collisions essentially absent,
    # so the one-sided estimate is exact; absent keys estimate 0
    for k in range(10):
        assert est[k] == 100
    assert est[10] == 0 and est[11] == 0


def test_cms_merges_by_cell_sum(spark):
    df = spark.range(400).select(
        (F.col("id") % 7).alias("k"), F.lit("g").alias("g")
    )
    a = cms_sketch(df.filter(F.col("id") < 150), ["g"], "k")
    b = cms_sketch(df.filter(F.col("id") >= 150), ["g"], "k")
    merged = (
        a.unionByName(b)
        .groupBy("g", "d", "cell")
        .agg(F.sum("cnt").alias("cnt"))
    )
    whole = cms_sketch(df, ["g"], "k")
    assert (
        merged.exceptAll(whole).count() == 0
        and whole.exceptAll(merged).count() == 0
    )


def test_cms_validation(spark):
    df = spark.range(4).select(F.col("id").alias("k"))
    with pytest.raises(ValueError):
        cms_sketch(df, [], "k", depth=0)
    with pytest.raises(ValueError):
        cms_sketch(df, [], "k", width=1)


def test_hll_merge_equals_direct(spark):
    df = spark.range(3000).select(
        F.col("id").alias("k"), (F.col("id") % 5).alias("part")
    )
    per = hll_sketch(df, ["part"], "k", p=6)
    merged = hll_merge(per, [])
    direct = hll_sketch(df, [], "k", p=6)
    assert (
        merged.exceptAll(direct).count() == 0
        and direct.exceptAll(merged).count() == 0
    )


def test_bm25_ranking_and_validation(spark):
    from pandasy_spark.extended.text import bm25_search

    docs = spark.createDataFrame(
        [
            (1, "apple apple apple banana"),
            (2, "apple banana banana"),
            (3, "cherry cherry cherry cherry"),
            (4, "apple"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in bm25_search(docs, ["apple"]).collect()}
    assert set(out) == {1, 2, 4}
    # higher tf, same length band: doc 1 outranks doc 2
    assert out[1]["score"] > out[2]["score"]
    # shorter doc with same tf=1 outranks longer (length normalization)
    assert out[4]["score"] > out[2]["score"]
    assert all(r["n_terms"] == 1 for r in out.values())
    with pytest.raises(ValueError):
        bm25_search(docs, [])


def test_sniff_format_routes_every_codec(spark):
    from pandasy_spark.extended.audio import encode_wav
    from pandasy_spark.extended.gif import encode_gif
    from pandasy_spark.extended.jpeg import encode_jpeg
    from pandasy_spark.extended.multimodal import (
        encode_bmp,
        encode_png,
        encode_tga,
        encode_tiff,
        sniff_format,
    )
    from pandasy_spark.extended.webp import encode_webp_lossless

    arr = np.full((2, 3, 3), 99, np.uint8)
    rows = [
        (encode_png(arr), "png"),
        (encode_bmp(arr), "bmp"),
        (encode_gif(arr), "gif"),
        (encode_tiff(arr), "tiff"),
        (encode_jpeg(arr), "jpeg"),
        (encode_webp_lossless(arr), "webp"),
        (encode_wav(np.zeros(4, np.int16)), "wav"),
        (b"P6 3 2 255\n" + arr.tobytes(), "ppm"),
        (encode_tga(arr), "tga"),
        (b"\x00\x01garbage", "unknown"),
        (None, None),
    ]
    df = spark.createDataFrame(
        [(bytearray(p) if p is not None else None, w) for p, w in rows],
        "payload binary, want string",
    )
    got = df.select(
        sniff_format(F.col("payload")).alias("got"), "want"
    ).collect()
    for r in got:
        assert r["got"] == r["want"], (r["got"], r["want"])


def test_script_profile_counts_and_dominance(spark):
    from pandasy_spark.extended.text import script_profile

    df = spark.createDataFrame(
        [
            (1, "hello мир"),          # latin 5, cyrillic 3 -> latin
            (2, "яяя ab"),             # cyrillic 3 > latin 2 -> cyrillic
            (3, "中中中中"),            # cjk
            (4, "αβγ"),                # greek
            (5, "123 !!"),             # none -> other
            (6, ""),                   # empty -> other
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in script_profile(df).collect()}
    assert out[1]["n_latin"] == 5 and out[1]["n_cyrillic"] == 3
    assert out[1]["dominant"] == "latin"
    assert out[2]["dominant"] == "cyrillic"
    assert out[3]["dominant"] == "cjk" and out[3]["n_cjk"] == 4
    assert out[4]["dominant"] == "greek"
    assert out[5]["dominant"] == "other" and out[5]["n_digit"] == 3
    assert out[6]["dominant"] == "other"


def test_new_gates_plan_shapes(spark, sf_dir):
    """The scale-shape pins: sniff/script/bm25/markov stay Python-free
    (sniff's encoder stage is the one declared mapInPandas), and the
    CMS estimate broadcasts the probe side."""
    from pandasy_spark.workload import QUERIES

    for name in ["text_script", "text_bm25", "events_markov"]:
        plan = (
            QUERIES[name](spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BatchEvalPython" not in plan, name
        assert "FlatMapGroupsInPandas" not in plan, name
    cms = (
        QUERIES["sketch_cms"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Python" not in cms
    assert "CartesianProduct" not in cms


def test_kmv_bottom_and_union(spark):
    from pandasy_spark.extended.sketches import (
        kmv_bottom,
        kmv_union_estimate,
        portable_hash56,
    )

    df = spark.range(600).select(
        F.col("id").alias("k"),
        F.when(F.col("id") < 400, "a").otherwise("b").alias("g"),
    )
    # bottom-k is exactly the k smallest distinct hashes per group
    bot = kmv_bottom(df, ["g"], "k", k=8)
    truth = (
        df.select("g", portable_hash56(F.col("k")).alias("h"))
        .distinct()
        .orderBy("g", "h")
        .collect()
    )
    want = {}
    for r in truth:
        want.setdefault(r["g"], []).append(r["h"])
    got = {}
    for r in bot.orderBy("g", "rk").collect():
        got.setdefault(r["g"], []).append(r["h"])
    assert got["a"] == want["a"][:8] and got["b"] == want["b"][:8]
    # union kth from merged sketches equals kth of the full union set
    uni = kmv_union_estimate(df, "g", "k", k=8).collect()
    assert len(uni) == 1
    all_h = sorted(set(want["a"] + want["b"]))
    assert uni[0]["kth_hash"] == all_h[7]
    assert uni[0]["est"] == (7 * (1 << 56)) // all_h[7]


def test_kmv_union_validation(spark):
    from pandasy_spark.extended.sketches import kmv_union_estimate

    df = spark.range(10).select(F.col("id").alias("k"), F.lit("a").alias("g"))
    with pytest.raises(ValueError):
        kmv_union_estimate(df, "g", "k", k=1)
    with pytest.raises(ValueError):
        kmv_union_estimate(df, "g", "k", k=128)
    # single group: no pairs
    assert kmv_union_estimate(df, "g", "k", k=4).count() == 0


def test_ivfpq_planted_clusters_recall(spark):
    """On well-separated planted clusters the composed IVF-PQ index
    must recover the true neighbors: the coarse quantizer routes each
    query to its own cluster, and residual-PQ distances preserve
    within-cluster order well enough for recall 1.0 at k=3."""
    import numpy as np

    from pandasy_spark.extended.similarity import ivfpq_topk

    rng = np.random.RandomState(7)
    centers = rng.uniform(-10, 10, size=(4, 16))
    rows = []
    vid = 0
    for ci in range(4):
        for _ in range(25):
            v = centers[ci] + rng.uniform(-0.05, 0.05, 16)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qrows = [
        (100 + ci, [float(x) for x in centers[ci] + 0.01]) for ci in range(4)
    ]
    queries = spark.createDataFrame(
        qrows, "query_id long, embedding array<float>"
    )
    out = ivfpq_topk(
        corpus,
        queries,
        k=3,
        n_clusters=4,
        nprobe=1,
        m=4,
        n_codes=8,
        coarse_iters=2,
        pq_iters=1,
    ).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r["id"])
    assert set(by_q) == {100, 101, 102, 103}
    for ci in range(4):
        ids = by_q[100 + ci]
        assert len(ids) == 3
        # every returned neighbor comes from the query's own planted
        # cluster (ids ci*25 .. ci*25+24)
        assert all(ci * 25 <= i < (ci + 1) * 25 for i in ids), (ci, ids)


def test_ivfpq_validation(spark):
    from pandasy_spark.extended.similarity import ivfpq_topk

    df = spark.createDataFrame(
        [(1, [0.0, 1.0])], "vec_id long, embedding array<float>"
    )
    q = spark.createDataFrame(
        [(9, [0.0, 1.0])], "query_id long, embedding array<float>"
    )
    with pytest.raises(ValueError):
        ivfpq_topk(df, q, k=0)
    with pytest.raises(ValueError):
        ivfpq_topk(df, q, k=1, coarse_iters=-1)


def test_normalize_text_rules(spark):
    from pandasy_spark.extended.text import normalize_text

    df = spark.createDataFrame(
        [
            (1, "\u201cHello\u201d\u00a0\u2014 It\u2019s\u200b FINE\u2026"),
            (2, "a\u2013b\u2212c  and\tmore\x00ctl"),
            (3, "  already clean  "),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["norm_text"] for r in normalize_text(df).collect()}
    assert out[1] == '"hello" - it\'s fine...'
    assert out[2] == "a-b-c and more ctl"
    assert out[3] == "already clean"


def test_linear_attribution_shares(spark):
    from pandasy_spark.extended.events import linear_attribution

    rows = [
        # user 1: click, view, purchase -> each touch gets 1/2
        (1, 1, "click"), (1, 2, "view"), (1, 3, "purchase"),
        # user 1 after conversion: orphan click (no later conv) -> dropped
        (1, 4, "click"),
        # user 2: single signup then purchase -> full credit
        (2, 5, "signup"), (2, 6, "purchase"),
        # user 3: touch with no conversion at all -> dropped
        (3, 7, "view"),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, event_type string"
    ).withColumn("ts", F.timestamp_seconds(F.col("event_id") * 60))
    out = {r["touch_type"]: r for r in linear_attribution(df).collect()}
    assert set(out) == {"click", "view", "signup"}
    assert out["click"]["n_touches"] == 1 and out["click"]["credit"] == 0.5
    assert out["view"]["n_touches"] == 1 and out["view"]["credit"] == 0.5
    assert out["signup"]["n_touches"] == 1 and out["signup"]["credit"] == 1.0


def test_quantile_twopass_exact_and_edge(spark):
    from pandasy_spark.extended.profile import quantile_disc_twopass

    df = spark.createDataFrame(
        [(g, v) for g in ("a", "b") for v in range(1, 101)]
        + [("a", 50)] * 40,  # heavy ties in one group
        "g string, v long",
    )
    # a: 140 values (1..100 + forty 50s); rank(0.5) = 70 -> sorted
    # multiset position 70 is 50; b: rank 50 -> 50
    out = {(r["g"]): r for r in
           quantile_disc_twopass(df, ["g"], "v", q_milli=500).collect()}
    assert out["a"]["n"] == 140 and out["a"]["q_value"] == 50
    assert out["b"]["n"] == 100 and out["b"]["q_value"] == 50
    # q=1000 -> max; q tiny -> min
    hi = {r["g"]: r["q_value"] for r in
          quantile_disc_twopass(df, ["g"], "v", q_milli=1000).collect()}
    lo = {r["g"]: r["q_value"] for r in
          quantile_disc_twopass(df, ["g"], "v", q_milli=1).collect()}
    assert hi == {"a": 100, "b": 100} and lo == {"a": 1, "b": 1}
    # constant column (range 0, step clamps to 1)
    const = spark.createDataFrame([("a", 7)] * 5, "g string, v long")
    r = quantile_disc_twopass(const, ["g"], "v", q_milli=500).collect()[0]
    assert r["q_value"] == 7 and r["n"] == 5
    # NULL values are ignored, as percentile_disc ignores them: three
    # non-NULL values [1, 2, 7] -> rank ceil(0.5*3) = 2 -> 2
    nulls = spark.createDataFrame(
        [(None,)] * 3 + [(1,), (2,), (7,)], "v long"
    )
    r = quantile_disc_twopass(nulls, [], "v", q_milli=500).collect()
    assert [(x["n"], x["q_value"]) for x in r] == [(3, 2)]
    gnulls = spark.createDataFrame(
        [("a", None), ("a", None), ("a", 4), ("a", 9)], "g string, v long"
    )
    r = quantile_disc_twopass(gnulls, ["g"], "v", q_milli=500).collect()
    assert [(x["g"], x["n"], x["q_value"]) for x in r] == [("a", 2, 4)]
    with pytest.raises(ValueError):
        quantile_disc_twopass(df, ["g"], "v", q_milli=0)


def test_quantile_twopass_no_global_sort_plan(spark, sf_dir):
    from pandasy_spark.workload import QUERIES

    plan = (
        QUERIES["agg_median_twopass"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the whole point: no data-sized range-partitioned sort anywhere
    assert "rangepartitioning" not in plan.lower()
    assert "Python" not in plan


@pytest.mark.parametrize(
    "name", ["agg_median_twopass", "text_length_quantiles"]
)
def test_quantile_gates_one_order_stats_pass(spark, sf_dir, name):
    """Three quantiles per group must come from ONE shared stats pass,
    histogram and sliver: one call runs ~12 jobs from construction
    through a noop write, the former three-calls-and-union form 37."""
    from pandasy_spark.workload import QUERIES

    sc = spark.sparkContext
    group = f"jobs-{name}"
    sc.setJobGroup(group, group)
    try:
        QUERIES[name](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < n_jobs <= 15, n_jobs


@pytest.mark.parametrize("name", sorted(GRAPH_GATE_JOBS))
def test_graph_gates_job_budget(spark, sf_dir, name):
    """The iterative graph gates share their round kernels and pin
    cadence: none may run more jobs, from construction through a noop
    write, than its budget in ``tests.helpers.GRAPH_GATE_JOBS``.  The
    scans are memoized first: a session's first read of a table runs
    one schema job, which would make the count depend on test order."""
    from pandasy_spark.sources import TABLES, load_table
    from pandasy_spark.workload import QUERIES

    for t in TABLES:
        load_table(spark, sf_dir, t)
    sc = spark.sparkContext
    group = f"jobs-{name}"
    sc.setJobGroup(group, group)
    try:
        QUERIES[name](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < n_jobs <= GRAPH_GATE_JOBS[name], n_jobs


def test_chi_square_known_value(spark):
    from pandasy_spark.extended.profile import chi_square

    # 2x2 with perfect independence -> chi2 == 0
    rows = [("x", 0)] * 10 + [("x", 1)] * 10 + [("y", 0)] * 30 + [("y", 1)] * 30
    df = spark.createDataFrame(rows, "a string, b long")
    r = chi_square(df, "a", "b").collect()[0]
    assert r["n"] == 80 and r["dof"] == 1 and r["chi2"] == 0.0
    # fully dependent 2x2 -> chi2 == n
    rows2 = [("x", 0)] * 20 + [("y", 1)] * 20
    r2 = chi_square(spark.createDataFrame(rows2, "a string, b long"), "a", "b").collect()[0]
    assert abs(r2["chi2"] - 40.0) < 0.01


def test_cms_inner_product_one_sided(spark):
    from pandasy_spark.extended.sketches import cms_inner_product, cms_sketch

    df = spark.range(2000).select(
        (F.col("id") % 50).alias("k"), F.lit("g").alias("g")
    )
    sk = cms_sketch(df, ["g"], "k", width=4096)
    est = cms_inner_product(sk, sk, ["g"]).collect()[0]["est"]
    # exact self-join size: 50 keys x 40 occurrences -> 50 * 1600
    assert est >= 50 * 1600
    # wide sketch, 50 keys: collisions essentially absent
    assert est == 50 * 1600
