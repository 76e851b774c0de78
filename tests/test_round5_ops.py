"""Round-5 operators: trained quality probe, paragraph dedup, k-core,
snapshot diff, RAKE keywords — hand-computed truth on planted inputs
(the sf-table oracles cover the distributional cases)."""

import pytest
from pyspark.sql import functions as F


def test_quality_train_learns_separable_labels(spark):
    """On a corpus where the heuristic label is separable (long clean
    text vs punctuation soup), two gradient steps move every weight in
    the right direction and the training error drops below the
    all-zero predictor's."""
    from pandasy_spark.extended.text import quality_train

    good = "the quick brown fox jumps over the lazy dog " * 20
    bad = "!!! ??? ### $$$ %%% ^^^ &&& *** ((( )))"
    df = spark.createDataFrame([(good,)] * 6 + [(bad,)] * 6, "text string")
    row = quality_train(df, iters=2).collect()[0]
    assert row["n_docs"] == 12
    # zero-weight predictor: every residual is |0 - y| = grid for the
    # 6 positive docs -> 6e6; training must beat that
    assert row["sum_abs_err"] < 6_000_000
    # determinism: rerun bit-identical
    row2 = quality_train(df, iters=2).collect()[0]
    assert row.asDict() == row2.asDict()
    with pytest.raises(ValueError):
        quality_train(df, iters=-1)


def test_quality_train_zero_iters_zero_weights(spark):
    from pandasy_spark.extended.text import quality_train

    df = spark.createDataFrame([("hello world",)], "text string")
    row = quality_train(df, iters=0).collect()[0]
    assert all(
        row[f"w_{n}"] == 0 for n in ("bias", "len", "atl", "punct", "alpha")
    )


def test_paragraph_dedup_first_occurrence_rule(spark):
    from pandasy_spark.extended.dedup import paragraph_dedup

    sep = "\n\n"
    rows = [
        (1, sep.join(["shared boilerplate", "unique one", "shared boilerplate"])),
        (2, sep.join(["shared boilerplate", "unique two"])),
        (3, sep.join(["  SHARED   boilerplate  ", "unique three"])),
        (4, "shared boilerplate"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in paragraph_dedup(df).collect()}
    # doc 1 keeps its first copy + unique; the repeat inside doc 1 drops
    assert out[1]["clean_text"] == sep.join(["shared boilerplate", "unique one"])
    assert out[1]["n_paragraphs"] == 3 and out[1]["n_kept"] == 2
    # docs 2/3: boilerplate drops (doc 3 via whitespace/case normalize)
    assert out[2]["clean_text"] == "unique two"
    assert out[3]["clean_text"] == "unique three"
    # doc 4: everything was boilerplate -> empty reconstruction
    assert out[4]["clean_text"] == "" and out[4]["n_kept"] == 0


def test_paragraph_dedup_drops_blank_paragraphs(spark):
    from pandasy_spark.extended.dedup import paragraph_dedup

    df = spark.createDataFrame(
        [(1, "a\n\n   \n\nb")], "doc_id long, text string"
    )
    row = paragraph_dedup(df).collect()[0]
    assert row["n_paragraphs"] == 2 and row["clean_text"] == "a\n\nb"


def test_kcore_hand_graph(spark):
    from pandasy_spark.extended.graph import kcore

    # triangle 1-2-3 (2-core) with pendant 4 hanging off 1
    edges = [(1, 2), (2, 3), (1, 3), (1, 4)]
    df = spark.createDataFrame(edges, "x long, y long")
    out = {r["node"]: r["degree"] for r in kcore(df, k=2, rounds=2).collect()}
    assert out == {1: 2, 2: 2, 3: 2}
    # zero rounds peel nothing: the input degrees
    out0 = {r["node"]: r["degree"] for r in kcore(df, k=2, rounds=0).collect()}
    assert out0 == {1: 3, 2: 2, 3: 2, 4: 1}
    # k=3: the triangle dies too (no node reaches degree 3 once 4 drops)
    assert kcore(df, k=3, rounds=2).count() == 0
    # rounds matter: a 4-chain peels end-in (one round leaves 2-3)
    chain = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "x long, y long"
    )
    assert kcore(chain, k=2, rounds=1).count() == 2
    assert kcore(chain, k=2, rounds=2).count() == 0
    with pytest.raises(ValueError):
        kcore(df, k=-1)


def test_snapshot_diff_hand_tables(spark):
    from pandasy_spark.operators.scd import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", None)],
        "k long, s string, v double",
    )
    new = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 21.0), (4, "d", 40.0)],
        "k long, s string, v double",
    )
    out = {r["k"]: r for r in snapshot_diff(old, new, ["k"]).collect()}
    assert set(out) == {2, 3, 4}
    assert out[2]["change_type"] == "changed" and out[2]["n_changed_cols"] == 1
    assert out[3]["change_type"] == "removed" and out[3]["n_changed_cols"] == 0
    assert out[4]["change_type"] == "added"
    # null-safe: NULL == NULL is unchanged
    new2 = spark.createDataFrame(
        [(3, "c", None)], "k long, s string, v double"
    )
    old2 = spark.createDataFrame(
        [(3, "c", None)], "k long, s string, v double"
    )
    assert snapshot_diff(old2, new2, ["k"]).count() == 0
    assert (
        snapshot_diff(old2, new2, ["k"], include_unchanged=True)
        .collect()[0]["change_type"]
        == "unchanged"
    )
    with pytest.raises(ValueError):
        snapshot_diff(old, new, [])


def test_rake_keywords_hand_corpus(spark):
    from pandasy_spark.extended.text import rake_keywords

    # "red apple" appears twice; "banana" once; stopwords split phrases
    df = spark.createDataFrame(
        [
            ("red apple and banana",),
            ("the red apple is tasty!",),
        ],
        "text string",
    )
    out = rake_keywords(df, top_k=10).collect()
    rows = {r["phrase"]: r for r in out}
    assert rows["red apple"]["n_occurrences"] == 2
    # red: freq 2, degree 4 -> 2.0; apple: freq 2, degree 4 -> 2.0
    # phrase score = 4.0 on the 1e4 grid
    assert rows["red apple"]["score"] == 40000
    assert rows["banana"]["score"] == 10000  # freq 1, degree 1
    # multi-word phrases outrank singletons (RAKE's signature bias)
    assert out[0]["phrase"] == "red apple"
    with pytest.raises(ValueError):
        rake_keywords(df, max_words=0)


def test_rake_keywords_multiplicity(spark):
    """A word repeated inside one phrase counts per instance in freq,
    degree AND the phrase-score multiplicity."""
    from pandasy_spark.extended.text import rake_keywords

    df = spark.createDataFrame([("very very good",)], "text string")
    rows = {r["phrase"]: r for r in rake_keywords(df, top_k=5).collect()}
    # very: freq 2, degree 6 -> 3.0; good: freq 1, degree 3 -> 3.0
    # phrase = 2*3.0 + 3.0 = 9.0
    assert rows["very very good"]["score"] == 90000


def test_pq_exact_on_planted_clusters(spark):
    """On separable clustered data (each subspace takes one of two
    far-apart values) PQ with enough codes is EXACT: ADC ranks recover
    the true neighbors with recall 1.0."""
    from pandasy_spark.extended.similarity import pq_topk

    import itertools

    # 4-dim vectors, m=2 subspaces of 2 dims; 16 corpus points on a
    # lattice of two well-separated values per subspace + jitter by id
    rows = []
    vid = 10
    for a, b in itertools.product([0.0, 10.0], repeat=2):
        for j in range(4):
            rows.append(
                (vid, [a + j * 0.01, a, b + j * 0.01, b])
            )
            vid += 1
    # queries sit exactly on two lattice corners
    rows.append((0, [0.0, 0.0, 10.0, 10.0]))
    rows.append((1, [10.0, 10.0, 0.0, 0.0]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    corpus = df.filter("vec_id >= 10")
    queries = df.filter("vec_id < 10").selectExpr(
        "vec_id AS query_id", "embedding"
    )
    out = pq_topk(corpus, queries, k=4, m=2, n_codes=4, iters=2)
    res = out.collect()
    by_q = {}
    for r in res:
        by_q.setdefault(r["query_id"], []).append(r["id"])
    # query 0 = corner (a=0, b=10): its 4 true neighbors are vids 14..17
    assert sorted(by_q[0]) == [14, 15, 16, 17]
    # query 1 = corner (a=10, b=0): vids 18..21
    assert sorted(by_q[1]) == [18, 19, 20, 21]


def test_pq_encode_shapes_and_determinism(spark):
    from pandasy_spark.extended.similarity import pq_encode

    df = spark.createDataFrame(
        [(i, [float(i % 3), float(i % 5), float(i % 7), float(i % 11)])
         for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    cents, codes = pq_encode(df, m=2, n_codes=4, iters=1)
    c = cents.collect()
    assert len(c) <= 2 * 4 and all(len(r["cv"]) == 2 for r in c)
    k = codes.collect()
    assert len(k) == 20 * 2
    c2, k2 = pq_encode(df, m=2, n_codes=4, iters=1)
    assert sorted(map(str, c)) == sorted(map(str, c2.collect()))
    assert sorted(map(str, k)) == sorted(map(str, k2.collect()))
    with pytest.raises(ValueError):
        pq_encode(df, m=0)
