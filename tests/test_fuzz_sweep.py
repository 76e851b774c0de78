"""Multi-seed differential fuzz sweep: randomized collision-heavy
frames through the relational operator surface, engine vs DuckDB.

Widens the reference's fixed-seed randomization (SURVEY.md §5.3) to
many seeds per operator family in one sweep — joins, set ops, grouped
aggregation, and windows all hit NULL keys, duplicate rows, and
mixed-type columns every round.
"""

import datetime as dt

import pytest

from pyspark.sql import functions as F
from pyspark.sql.window import Window

pytestmark = pytest.mark.slow

from pandasy_spark.operators import (
    agg,
    except_df,
    intersect,
    join,
    union,
    window_spec,
    with_ranking,
    with_running,
)
from tests.helpers import assert_duck_eq, make_rand_df

SEEDS = range(6)


def _obj(pdf):
    # object+None form so BOTH engines see SQL NULLs (a registered
    # Float64 masked array reaches DuckDB as NaN, which is not NULL)
    return pdf.astype(object).where(pdf.notna(), None)


def _pair(spark, seed):
    a = _obj(
        make_rand_df(
            60, seed=seed, k=(int, 12), s=(str, 12), v=(float, 12), t=(dt.datetime, 12)
        )
    )
    b = _obj(
        make_rand_df(45, seed=seed + 100, k=(int, 8), s=(str, 8), w=(float, 8))
    )
    return spark.createDataFrame(a), spark.createDataFrame(b), a, b


def test_fuzz_joins(spark):
    for seed in SEEDS:
        da, db, a, b = _pair(spark, seed)
        for how, sql_how in [
            ("inner", "INNER"),
            ("left_outer", "LEFT OUTER"),
            ("full_outer", "FULL OUTER"),
        ]:
            res = join(da, db, how, on=["k", "s"])
            assert_duck_eq(
                res,
                f"""
                SELECT COALESCE(a.k, b.k) AS k, COALESCE(a.s, b.s) AS s,
                       a.v, a.t, b.w
                FROM a {sql_how} JOIN b ON a.k = b.k AND a.s = b.s
                """,
                a=a,
                b=b,
            )


def test_fuzz_semi_anti(spark):
    for seed in SEEDS:
        da, db, a, b = _pair(spark, seed)
        assert_duck_eq(
            join(da, db, "semi", on=["k"]),
            "SELECT * FROM a WHERE k IN (SELECT k FROM b WHERE k IS NOT NULL)",
            a=a,
            b=b,
        )
        assert_duck_eq(
            join(da, db, "anti", on=["k"]),
            """
            SELECT * FROM a WHERE k NOT IN (SELECT k FROM b WHERE k IS NOT NULL)
               OR k IS NULL
            """,
            a=a,
            b=b,
        )


def test_fuzz_setops(spark):
    for seed in SEEDS:
        a = _obj(make_rand_df(50, seed=seed, k=(int, 10), s=(str, 10)))
        b = _obj(make_rand_df(50, seed=seed + 7, k=(int, 10), s=(str, 10)))
        da = spark.createDataFrame(a, "k: bigint, s: string")
        db = spark.createDataFrame(b, "k: bigint, s: string")
        assert_duck_eq(
            union(da, db, unique=True), "SELECT * FROM a UNION SELECT * FROM b", a=a, b=b
        )
        assert_duck_eq(
            intersect(da, db, unique=True),
            "SELECT * FROM a INTERSECT SELECT * FROM b",
            a=a,
            b=b,
        )
        assert_duck_eq(
            except_df(da, db, unique=True),
            "SELECT * FROM a EXCEPT SELECT * FROM b",
            a=a,
            b=b,
        )


def test_fuzz_grouped_agg(spark):
    for seed in SEEDS:
        a = _obj(make_rand_df(80, seed=seed, k=(int, 16), s=(str, 16), v=(int, 16)))
        da = spark.createDataFrame(a)
        res = agg(
            da,
            ["k", "s"],
            {
                "n": F.count(F.lit(1)),
                "nv": F.count("v"),
                "sv": F.sum("v"),
                "mn": F.min("v"),
                "mx": F.max("v"),
            },
        )
        assert_duck_eq(
            res,
            """
            SELECT k, s, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(COUNT(v) AS BIGINT) AS nv,
                   SUM(v) AS sv, MIN(v) AS mn, MAX(v) AS mx
            FROM a GROUP BY k, s
            """,
            a=a,
        )


def test_fuzz_windows(spark):
    for seed in SEEDS:
        a = _obj(
            make_rand_df(60, seed=seed, k=(int, 10), v=int, u=int).assign(
                o=range(60)
            )
        )
        da = spark.createDataFrame(a)
        spec = window_spec(partition_by=["k"], order_by=["o"])
        ranked = with_ranking(da, spec, row_number="row_number", rank="rank")
        assert_duck_eq(
            ranked,
            """
            SELECT k, v, u, o,
                   CAST(ROW_NUMBER() OVER (PARTITION BY k ORDER BY o) AS INT) AS row_number,
                   CAST(RANK() OVER (PARTITION BY k ORDER BY o) AS INT) AS rank
            FROM a
            """,
            a=a,
        )
        rspec = window_spec(
            partition_by=["k"], order_by=["o"], rows_between=(Window.unboundedPreceding, Window.currentRow)
        )
        running = with_running(da, rspec, {"rs": F.sum("v")})
        assert_duck_eq(
            running,
            """
            SELECT k, v, u, o,
                   SUM(v) OVER (PARTITION BY k ORDER BY o
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS rs
            FROM a
            """,
            a=a,
        )


def _rand_docs(seed, n=40):
    """Seeded word-soup corpus with planted duplicates, empties, and
    unicode — the adversarial shapes for the text/dedup family."""
    import random

    rng = random.Random(seed)
    vocab = ["alpha", "beta", "gamma", "delta", "käse", "żółć", "data", "spark"]
    rows = []
    for i in range(n):
        r = rng.random()
        if r < 0.08:
            text = ""
        elif r < 0.14:
            text = " ".join(rng.choices(vocab[:2], k=3))  # heavy dup chunks
        else:
            text = " ".join(rng.choices(vocab, k=rng.randint(1, 30)))
        rows.append((i, text))
    # planted exact duplicate pair
    rows.append((n, rows[0][1]))
    import pandas as pd

    return pd.DataFrame(rows, columns=["doc_id", "text"])


def test_fuzz_span_dedup(spark):
    from pandasy_spark.extended.dedup import span_dedup
    from pandasy_spark.workload import ORACLES

    for seed in SEEDS:
        docs = _rand_docs(seed)
        res = span_dedup(spark.createDataFrame(docs), "text", "doc_id", 8)
        assert_duck_eq(res, ORACLES["dedup_span"], documents=docs)


def test_fuzz_lm_score(spark):
    from pandasy_spark.extended.text import bigram_lm_score
    from pandasy_spark.workload import ORACLES

    for seed in SEEDS:
        docs = _rand_docs(seed + 50)
        res = bigram_lm_score(spark.createDataFrame(docs), "text", "doc_id")
        assert_duck_eq(res, ORACLES["text_lm_score"], documents=docs)


def test_fuzz_tficf(spark):
    from pandasy_spark.extended.text import tficf_top_terms
    from pandasy_spark.workload import ORACLES

    for seed in SEEDS:
        docs = _rand_docs(seed + 90)
        res = tficf_top_terms(spark.createDataFrame(docs), "text", "doc_id", k=3)
        assert_duck_eq(res, ORACLES["text_tficf"], documents=docs)


def test_fuzz_winnow(spark):
    from pandasy_spark.extended.dedup import winnow_dup_pairs
    from pandasy_spark.workload import ORACLES

    for seed in SEEDS:
        docs = _rand_docs(seed + 130)  # 41 rows, all doc_id < 100
        res = winnow_dup_pairs(
            spark.createDataFrame(docs), k=5, w=4, min_shared=2
        )
        assert_duck_eq(res, ORACLES["dedup_winnow"], documents=docs)


def _docs_with_source(seed, n=40):
    """_rand_docs plus the source/n_chars metadata the sampling
    operators key on (n_chars is independent of the text so every
    curriculum stage is populated)."""
    import random

    rng = random.Random(seed * 31 + 5)
    docs = _rand_docs(seed, n)
    docs["source"] = [
        rng.choice(["web", "books", "code", None]) for _ in range(len(docs))
    ]
    docs["n_chars"] = [rng.randint(0, 1000) for _ in range(len(docs))]
    return docs


def test_fuzz_mixture_weights(spark):
    from pandasy_spark.extended import sampling as X_samp
    from pandasy_spark.extended import text as X_text
    from pandasy_spark.functions.kernels import qround
    from pandasy_spark.workload import ORACLES

    for seed in SEEDS:
        docs = _docs_with_source(seed + 170)
        da = spark.createDataFrame(docs).withColumn(
            "n_tokens", X_text.token_count(F.col("text"))
        )
        out = X_samp.mixture_weights(da, "source", "n_tokens", target=None)
        res = out.select(
            "source",
            "mass",
            qround(F.col("observed_share"), 6).alias("observed_share"),
            qround(F.col("target_share"), 6).alias("target_share"),
            qround(F.col("weight"), 6).alias("weight"),
            qround(F.col("keep_prob"), 6).alias("keep_prob"),
        )
        assert_duck_eq(res, ORACLES["sample_mixture"], documents=docs)


def test_fuzz_curriculum_order(spark):
    from pandasy_spark.extended import sampling as X_samp
    from pandasy_spark.workload import ORACLES

    for seed in SEEDS:
        docs = _docs_with_source(seed + 210)
        staged = spark.createDataFrame(docs).withColumn(
            "stage",
            F.when(F.col("n_chars") >= 800, 0)
            .when(F.col("n_chars") >= 300, 1)
            .otherwise(2),
        )
        out = X_samp.curriculum_order(
            staged, "stage", "doc_id", num_shards=8, salt=7
        )
        assert_duck_eq(
            out.select("doc_id", "stage", "shard", "pos"),
            ORACLES["sample_curriculum"],
            documents=docs,
        )


def test_fuzz_equidepth_histogram(spark):
    import random

    import pandas as pd

    from pandasy_spark.workload import ORACLES

    for seed in SEEDS:
        rng = random.Random(seed + 250)
        # collision-heavy prices so ntile tie-breaking is exercised
        orders = pd.DataFrame(
            {
                "o_orderkey": range(70),
                "o_totalprice": [
                    round(rng.choice([10.0, 42.5, 99.9, 500.0, rng.random() * 1e4]), 2)
                    for _ in range(70)
                ],
            }
        )
        o = spark.createDataFrame(orders)
        w = Window.orderBy(F.col("o_totalprice"), F.col("o_orderkey"))
        res = (
            o.select("o_totalprice", F.ntile(8).over(w).alias("bucket"))
            .groupBy("bucket")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.min("o_totalprice").alias("lo"),
                F.max("o_totalprice").alias("hi"),
            )
        )
        assert_duck_eq(res, ORACLES["profile_equidepth"], orders=orders)


def test_fuzz_chunking(spark):
    from pandasy_spark.extended.text import chunk_documents
    from pandasy_spark.workload import ORACLES

    # the workload oracle filters doc_id < 500; seeded ids are < 50
    for seed in SEEDS:
        docs = _rand_docs(seed + 130)
        res = chunk_documents(
            spark.createDataFrame(docs), size=120, overlap=30
        )
        assert_duck_eq(res, ORACLES["text_chunking"], documents=docs)


def test_fuzz_collocations(spark):
    from pandasy_spark.extended.text import collocations
    from pandasy_spark.workload import ORACLES

    for seed in SEEDS:
        docs = _rand_docs(seed + 170)
        res = collocations(spark.createDataFrame(docs), min_count=5)
        assert_duck_eq(res, ORACLES["text_collocations"], documents=docs)


def test_fuzz_reservoir(spark):
    from pandasy_spark.extended.sampling import reservoir_per_group
    from pandasy_spark.workload import _fold_sql

    for seed in SEEDS:
        docs = _rand_docs(seed + 210)
        docs["g"] = (docs["doc_id"] % 3).astype(str)
        res = reservoir_per_group(
            spark.createDataFrame(docs), ["g"], "doc_id", k=4, salt=seed
        ).select("g", "doc_id")
        assert_duck_eq(
            res,
            f"""
            WITH p AS (
              SELECT g, doc_id,
                     {_fold_sql('CAST(doc_id AS VARCHAR)', salt=seed)} AS pr
              FROM documents
            ), r AS (
              SELECT g, doc_id,
                     ROW_NUMBER() OVER (PARTITION BY g ORDER BY pr, doc_id)
                       AS rk
              FROM p
            )
            SELECT g, doc_id FROM r WHERE rk <= 4
            """,
            documents=docs,
        )


def test_fuzz_tokenize_vs_reference(spark):
    from pandasy_spark.extended.text import bpe_learn, tokenize_bpe
    from tests.test_round3_ops import _reference_encode

    for seed in SEEDS[:3]:
        docs = _rand_docs(seed + 250)
        sdf = spark.createDataFrame(docs)
        merges = bpe_learn(sdf, num_merges=8)
        out = {
            r["doc_id"]: [list(t) for t in r["word_tokens"]]
            for r in tokenize_bpe(sdf, merges, keep_word_tokens=True).collect()
        }
        for _, row in docs.iterrows():
            words = row["text"].split()
            if not words:
                assert row["doc_id"] not in out
                continue
            assert out[row["doc_id"]] == [
                _reference_encode(w, merges) for w in words
            ]


def test_fuzz_heavy_hitters(spark):
    from pandasy_spark.extended.profile import heavy_hitters

    for seed in SEEDS:
        docs = _rand_docs(seed + 300)
        words = spark.createDataFrame(docs).select(
            F.explode(
                F.filter(F.split("text", r"\s+"), lambda t: F.length(t) > 0)
            ).alias("w")
        )
        exact = sorted(
            (r["w"], r["count"])
            for r in words.groupBy("w").count().filter("count >= 5").collect()
        )
        got = sorted(
            (r["w"], r["ct"])
            for r in heavy_hitters(words, "w", 5, depth=2, width=16).collect()
        )
        assert got == exact, seed


def test_fuzz_funnel(spark):
    """Randomized event streams vs a python brute-force funnel."""
    import datetime as dt
    import random

    from pandasy_spark.extended.events import funnel

    steps = ["a", "b", "c"]
    for seed in SEEDS:
        rng = random.Random(seed + 400)
        rows = []
        for i in range(120):
            rows.append(
                (
                    rng.randrange(8),
                    dt.datetime(2024, 1, 1) + dt.timedelta(minutes=rng.randrange(500)),
                    rng.choice(steps + ["x"]),
                )
            )
        df = spark.createDataFrame(
            rows, "user_id long, ts timestamp, event_type string"
        )
        got = {
            r["user_id"]: (r["t_0"], r["t_1"], r["t_2"], r["steps_completed"])
            for r in funnel(df, steps).collect()
        }
        # brute force
        expect = {}
        for u in {r[0] for r in rows}:
            ev = sorted((t, s) for uu, t, s in rows if uu == u)
            t0 = min((t for t, s in ev if s == "a"), default=None)
            if t0 is None:
                continue
            t1 = min((t for t, s in ev if s == "b" and t > t0), default=None)
            t2 = (
                min((t for t, s in ev if s == "c" and t > t1), default=None)
                if t1 is not None
                else None
            )
            n = 1 + (t1 is not None) + (t2 is not None)
            expect[u] = (t0, t1, t2, n)
        assert got == expect, seed


def test_fuzz_sequence_ngrams(spark):
    """Randomized event streams vs a DuckDB lead-window oracle."""
    import random

    from pandasy_spark.extended.events import sequence_ngrams

    for seed in SEEDS:
        rng = random.Random(seed + 500)
        rows = [
            (
                i,
                dt.datetime(2024, 1, 1)
                + dt.timedelta(minutes=rng.randrange(60)),  # many ts ties
                rng.randrange(6),
                rng.choice("abcd"),
            )
            for i in range(150)
        ]
        df = spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, event_type string"
        )
        assert_duck_eq(
            sequence_ngrams(df, n=2, tiebreak_col="event_id"),
            """
            WITH s AS (
              SELECT user_id,
                     event_type || '>' || lead(event_type, 1) OVER w AS ngram,
                     lead(event_type, 1) OVER w IS NOT NULL AS ok
              FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            )
            SELECT ngram, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
                   CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
            FROM s WHERE ok GROUP BY ngram
            """,
            ev=df,
        )


def test_fuzz_agg_state_merge(spark):
    """Random split points + NULL keys: merged states == full recompute."""
    from pandasy_spark.operators import agg_state, merge_agg_states

    specs = {
        "n": ("count", "v"),
        "s": ("sum", "v"),
        "lo": ("min", "v"),
        "hi": ("max", "v"),
    }
    for seed in SEEDS:
        pdf = _obj(make_rand_df(80, seed=seed + 600, k=(int, 20), v=(int, 15)))
        df = spark.createDataFrame(pdf, "k bigint, v bigint")
        cut = seed * 13 % 7 - 3
        parts = [
            df.filter(F.col("v") < cut),
            df.filter(F.col("v") >= cut),
            df.filter(F.col("v").isNull()),
        ]
        merged = merge_agg_states(
            [agg_state(p, ["k"], specs) for p in parts], ["k"], specs
        )
        full = agg_state(df, ["k"], specs)
        key = lambda r: (float("-inf") if r[0] is None else r[0],)
        assert sorted(map(tuple, merged.collect()), key=key) == sorted(
            map(tuple, full.collect()), key=key
        ), seed


def test_fuzz_corr_pairs_vs_numpy(spark):
    import numpy as np

    from pandasy_spark.extended.profile import corr_pairs

    for seed in SEEDS:
        rng = np.random.RandomState(seed + 700)
        n = 50 + seed * 17
        x = np.round(rng.uniform(-50, 50, n), 2)
        y = np.round(rng.uniform(0, 10, n) + x * (seed % 3 - 1), 2)
        df = spark.createDataFrame(
            [(float(a), float(b)) for a, b in zip(x, y)], "x double, y double"
        )
        got = corr_pairs(df, ["x", "y"], decimals=2).collect()[0]["corr"]
        assert abs(got - np.corrcoef(x, y)[0, 1]) < 1e-9, seed


def test_fuzz_pagerank_vs_reference(spark):
    import random

    from pandasy_spark.extended.graph import pagerank
    from tests.test_round3b_ops import _pagerank_numpy

    for seed in SEEDS:
        rng = random.Random(seed + 800)
        edges = list(
            {(rng.randrange(12), rng.randrange(12)) for _ in range(30)}
        )
        edges = [(s, d) for s, d in edges if s != d]
        df = spark.createDataFrame(edges, "src long, dst long")
        it = 1 + seed % 4
        got = {
            r["node"]: r["rank_nano"]
            for r in pagerank(df, iterations=it).collect()
        }
        assert got == _pagerank_numpy(edges, it), seed


def test_fuzz_robust_anomalies_vs_python(spark):
    import random
    import statistics

    from pandasy_spark.extended.events import robust_anomalies

    for seed in SEEDS:
        rng = random.Random(seed + 900)
        rows = [
            (rng.choice("pq"), round(rng.uniform(0, 20), 2))
            for _ in range(60)
        ] + [("p", 500.0)]
        df = spark.createDataFrame(rows, "event_type string, value double")
        got = {
            r["event_type"]: (r["n"], r["n_anomalies"], r["med"], r["mad"])
            for r in robust_anomalies(df, k=5).collect()
        }
        for grp in "pq":
            vals = [round(v * 10000) for g, v in rows if g == grp]
            med = statistics.median(vals)
            ads = [abs(v - med) for v in vals]
            mad = statistics.median(ads)
            n_anom = sum(1 for a in ads if a > 5 * mad)
            assert got[grp] == (len(vals), n_anom, med / 10000, mad / 10000), (
                seed,
                grp,
            )


def test_fuzz_merge_upsert_vs_duckdb(spark):
    """Random targets/deltas incl. NULL keys and overlapping rows."""
    from pandasy_spark.operators import merge_upsert

    for seed in SEEDS:
        t = _obj(make_rand_df(40, seed=seed + 1000, k=(int, 10), v=(float, 8)))
        s = _obj(make_rand_df(25, seed=seed + 1100, k=(int, 6), v=(float, 5)))
        # distinct keys per side (MERGE requires a deterministic match)
        t = t.drop_duplicates(subset=["k"])
        s = s.drop_duplicates(subset=["k"])
        dt = spark.createDataFrame(t, "k bigint, v double")
        ds = spark.createDataFrame(s, "k bigint, v double")
        assert_duck_eq(
            merge_upsert(dt, ds, ["k"]),
            """
            SELECT COALESCE(t.k, s.k) AS k,
                   CASE WHEN s.ok THEN s.v ELSE t.v END AS v
            FROM (SELECT *, TRUE AS ok FROM tt) t
            FULL OUTER JOIN (SELECT *, TRUE AS ok FROM ss) s
              ON t.k IS NOT DISTINCT FROM s.k
            """,
            tt=dt,
            ss=ds,
        )


def test_fuzz_distribution_drift_vs_python(spark):
    import random
    from collections import Counter

    from pandasy_spark.extended.profile import distribution_drift

    for seed in SEEDS:
        rng = random.Random(seed + 1200)
        rows = [
            (rng.randrange(6), rng.random() < 0.5) for _ in range(120)
        ]
        df = spark.createDataFrame(rows, "v long, base boolean")
        r = distribution_drift(df, "v", F.col("base")).collect()[0]
        a = Counter(v for v, b in rows if b)
        b = Counter(v for v, b in rows if not b)
        na, nb = sum(a.values()), sum(b.values())
        buckets = set(a) | set(b)
        s = sum(abs(a[x] * nb - b[x] * na) for x in buckets)
        expect = s / (2 * na * nb) if na and nb else None
        assert (r["n_a"], r["n_b"], r["n_buckets"]) == (na, nb, len(buckets))
        if expect is None:
            assert r["tvd"] is None
        else:
            assert r["tvd"] == expect, seed  # bit-exact by construction
