"""Round-4 operators: attribution, RFM, label propagation, hashing
vectorizer, logistic quality, entropy profiling — hand-computed truth
on planted inputs (the sf-table oracles cover the distributional
cases)."""

import pytest
from pyspark.sql import functions as F


def test_last_touch_attribution_hand_graph(spark):
    from pandasy_spark.extended.events import last_touch_attribution

    import datetime

    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)

    def ts(m):
        return t0 + datetime.timedelta(minutes=m)

    rows = [
        # user 1: click -> purchase (attributed), then purchase with a
        # later signup in between (attributed to the signup)
        (1, 1, ts(0), "click", 1.0),
        (2, 1, ts(5), "purchase", 9.0),
        (3, 1, ts(6), "signup", 0.0),
        (4, 1, ts(9), "purchase", 5.0),
        # user 2: purchase with NO prior touch -> NULL attribution
        (5, 2, ts(1), "purchase", 3.0),
        (6, 2, ts(2), "click", 0.0),
        # user 3: view never counts as a touch
        (7, 3, ts(0), "view", 0.0),
        (8, 3, ts(1), "purchase", 1.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, "
        "event_type string, value double"
    )
    got = {
        r["conversion_id"]: r["touch_id"]
        for r in last_touch_attribution(df).collect()
    }
    assert got == {2: 1, 4: 3, 5: None, 8: None}


def test_rfm_segments_hand_computed(spark):
    from pandasy_spark.extended.events import rfm_segments

    import datetime

    d = datetime.datetime(2024, 1, 10, 0, 0, 0)

    def ts(days_ago):
        return d - datetime.timedelta(days=days_ago)

    rows = []
    eid = 0
    # user 1: recent + frequent + big spender; user 4: stale + rare + small
    for u, (ago, n, v) in enumerate(
        [(0, 4, 100.0), (2, 3, 10.0), (5, 2, 5.0), (9, 1, 1.0)], start=1
    ):
        for i in range(n):
            eid += 1
            rows.append((eid, u, ts(ago + i * 0), "view", v))
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, "
        "event_type string, value double"
    )
    out = {r["user_id"]: r for r in rfm_segments(df, buckets=4).collect()}
    assert out[1]["recency_days"] == 0 and out[4]["recency_days"] == 9
    assert out[1]["frequency"] == 4 and out[4]["frequency"] == 1
    assert out[1]["monetary_cents"] == 40000
    # 4 users, 4 buckets -> each ntile is a distinct rank
    assert out[1]["r_score"] == 1 and out[1]["f_score"] == 1
    assert out[1]["m_score"] == 1
    assert out[4]["r_score"] == 4 and out[4]["f_score"] == 4
    assert out[4]["m_score"] == 4


def test_label_propagation_bounded_rounds(spark):
    from pandasy_spark.extended.graph import label_propagation

    # chain 1-2-3-4-5 plus isolated pair 10-11
    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)]
    df = spark.createDataFrame(edges, "x long, y long")
    # after 2 rounds: nodes within distance 2 of the min carry it
    l2 = {
        r["node"]: r["label"]
        for r in label_propagation(df, rounds=2).collect()
    }
    assert l2[1] == 1 and l2[2] == 1 and l2[3] == 1
    assert l2[4] == 2  # distance 3 from node 1: best seen is 2
    assert l2[5] == 3
    assert l2[10] == 10 and l2[11] == 10
    # enough rounds converge to the component minimum
    l4 = {
        r["node"]: r["label"]
        for r in label_propagation(df, rounds=4).collect()
    }
    assert all(l4[n] == 1 for n in (1, 2, 3, 4, 5))
    # zero rounds: every node keeps its own id
    l0 = {
        r["node"]: r["label"]
        for r in label_propagation(df, rounds=0).collect()
    }
    assert l0 == {n: n for n in (1, 2, 3, 4, 5, 10, 11)}
    with pytest.raises(ValueError):
        label_propagation(df, rounds=-1)


def test_hash_features_deterministic_and_complete(spark):
    from pandasy_spark.extended.text import hash_features

    df = spark.createDataFrame(
        [(1, "aa bb aa"), (2, "AA cc"), (3, "")],
        "doc_id long, text string",
    )
    out = hash_features(df, num_buckets=8).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], {})[r["bucket"]] = r["tf"]
    # total tf equals word counts; lowercase fold: 'AA' == 'aa'
    assert sum(by_doc[1].values()) == 3
    assert sum(by_doc[2].values()) == 2
    assert 3 not in by_doc  # empty doc has no triples
    # same word -> same bucket across docs
    aa_buckets_1 = {b for b, tf in by_doc[1].items() if tf == 2}
    assert aa_buckets_1 & set(by_doc[2])


def test_quality_logistic_decision_is_exp_free(spark):
    from pandasy_spark.extended.text import quality_logistic

    df = spark.createDataFrame(
        [(1, "a good clean sentence with words " * 20),
         (2, "!!! ??? ### $$$ %%% ^^^ &&& *** " * 10),
         (3, "")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in quality_logistic(df).collect()}
    assert out[1]["keep"] is True and out[1]["quality_prob"] > 0.5
    assert out[2]["keep"] is False and out[2]["quality_prob"] < 0.5
    # empty text: f1=f2=f3=f4=0 -> logit = bias = -1
    assert out[3]["quality_logit"] == -1.0 and out[3]["keep"] is False
    # prob and decision agree
    for r in out.values():
        assert (r["quality_prob"] > 0.5) == r["keep"] or r["quality_prob"] == 0.5


def test_column_entropy_known_distributions(spark):
    from pandasy_spark.extended.profile import column_entropy

    df = spark.createDataFrame(
        [("a", "x"), ("a", "y"), ("b", "z"), ("b", None)],
        "c1 string, c2 string",
    )
    out = {r["column"]: r for r in column_entropy(df, ["c1", "c2"]).collect()}
    # c1: 2 values 50/50 -> 1 bit, gini 0.5
    assert out["c1"]["n_distinct"] == 2
    assert out["c1"]["entropy_bits"] == 1.0
    assert out["c1"]["gini"] == 0.5
    # c2: 4 distinct (NULL counts as a category) -> 2 bits, gini 0.75
    assert out["c2"]["n_distinct"] == 4
    assert out["c2"]["entropy_bits"] == 2.0
    assert out["c2"]["gini"] == 0.75


def test_encode_bmp_roundtrip_all_pad_widths():
    import numpy as np

    from pandasy_spark.extended.multimodal import decode_image, encode_bmp

    rng = np.random.default_rng(7)
    for h in (1, 2, 3, 5):
        for w in (1, 2, 3, 4, 7):  # w%4 covers all row-padding cases
            a = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
            payload = encode_bmp(a)
            assert payload[:2] == b"BM"
            # row stride must be 4-byte aligned
            assert (len(payload) - 54) % 4 == 0 or h == 0
            b = decode_image(payload)
            assert (a == b).all(), (h, w)


def test_streaming_dedup_within_watermark_suppresses_resends(spark):
    import pandas as pd

    from pandasy_spark.streaming import run_stream_to_memory, staged_file_stream

    t0 = pd.Timestamp("2024-01-01 12:00:00")
    real = pd.DataFrame(
        {
            "event_id": [1, 2, 3, 4],
            "ts": [t0 + pd.Timedelta(minutes=m) for m in (0, 1, 2, 3)],
            "v": [10.0, 20.0, 30.0, 40.0],
        }
    )
    dup = real.head(2).copy()  # re-send ids 1, 2
    stream = staged_file_stream(spark, [real, dup])
    out = stream.withWatermark("ts", "365 days").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    q = run_stream_to_memory(out, "t_sdedup_unit", output_mode="append")
    q.stop()
    got = spark.table("t_sdedup_unit").toPandas()
    assert sorted(got["event_id"]) == [1, 2, 3, 4]
