"""Deterministic sampling / splitting / packing (extended/sampling.py).

Each operator is checked against an independent Python reimplementation
of its contract (the portable hash recomputed with plain ints, greedy
packing replayed imperatively), plus the plan-shape properties that
matter at scale (split is shuffle-free, stratification broadcasts, the
packing cumsum is NOT a single-task global window).
"""

import math

import pandas as pd
import pytest
from pyspark.sql import functions as F

from pandasy_spark.extended import sampling as S
from pandasy_spark.sources import load_table

P31 = 2147483647
M53 = 9007199254740992


def py_bucket(ident, salt: int = 0) -> int:
    """Independent reimplementation of split_bucket for oracles."""
    h = 0
    for ch in str(ident):
        h = (h * 257 + ord(ch)) % M53
    h %= P31
    return ((h * 48271 + salt) % P31) % 10000


def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


# ------------------------------------------------------------------ split


def test_hash_split_matches_python_oracle(spark, sf_dir):
    out = S.hash_split(
        docs(spark, sf_dir), "doc_id", {"train": 0.9, "val": 0.05, "test": 0.05}
    ).select("doc_id", "split").toPandas()
    assert len(out) > 0
    for doc_id, split in out.itertuples(index=False):
        b = py_bucket(doc_id)
        want = "train" if b < 9000 else ("val" if b < 9500 else "test")
        assert split == want, (doc_id, b, split)


def test_hash_split_stable_under_corpus_growth(spark, sf_dir):
    """The split of a given id must not depend on what other rows are
    present (the property RNG-based splits lack)."""
    d = docs(spark, sf_dir)
    full = S.hash_split(d, "doc_id", {"a": 0.5, "b": 0.5})
    subset = S.hash_split(d.filter(F.col("doc_id") % 3 == 0), "doc_id", {"a": 0.5, "b": 0.5})
    f = {r["doc_id"]: r["split"] for r in full.collect()}
    for r in subset.collect():
        assert f[r["doc_id"]] == r["split"]


def test_hash_split_rejects_bad_fractions(spark, sf_dir):
    try:
        S.hash_split(docs(spark, sf_dir), "doc_id", {"a": 0.5, "b": 0.2})
        assert False, "expected ValueError"
    except ValueError:
        pass


def test_hash_split_is_shuffle_free(spark, sf_dir):
    df = S.hash_split(docs(spark, sf_dir), "doc_id", {"a": 0.5, "b": 0.5})
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Python" not in plan


# ------------------------------------------------------------- stratified


def test_stratified_sample_matches_python_oracle(spark, sf_dir):
    d = docs(spark, sf_dir)
    kept = S.stratified_sample(
        d, "doc_id", "lang", {"en": 0.5, "de": 0.2}, default_fraction=0.1
    ).select("doc_id", "lang").toPandas()
    src = d.select("doc_id", "lang").toPandas()
    hi = {"en": 5000, "de": 2000}
    want = {
        int(r.doc_id)
        for r in src.itertuples(index=False)
        if py_bucket(r.doc_id) < hi.get(r.lang, 1000)
    }
    got = set(kept["doc_id"].astype(int))
    assert got == want
    assert 0 < len(got) < len(src)


def test_stratified_sample_broadcasts_policy(spark, sf_dir):
    df = S.stratified_sample(
        docs(spark, sf_dir), "doc_id", "lang", {"en": 0.5}, default_fraction=0.1
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


# ------------------------------------------------------------ interleave


def test_weighted_interleave_proportions_and_determinism(spark, sf_dir):
    d = docs(spark, sf_dir)
    en = d.filter(F.col("lang") == "en")
    rest = d.filter((F.col("lang") != "en") | F.col("lang").isNull())
    mixed = S.weighted_interleave(
        {"en": en, "rest": rest}, {"en": 2.0, "rest": 1.0}, "doc_id"
    )
    counts = {r["source"]: r["n"] for r in mixed.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    n_en, n_rest = counts.get("en", 0), counts.get("rest", 0)
    assert n_en > 0 and n_rest > 0
    # 2:1 target within hash-grid tolerance (10k buckets, small corpus)
    ratio = n_en / n_rest
    assert 1.4 < ratio < 2.8, counts
    # deterministic: a second run returns the identical id set
    again = S.weighted_interleave(
        {"en": en, "rest": rest}, {"en": 2.0, "rest": 1.0}, "doc_id"
    )
    a = sorted(r["doc_id"] for r in mixed.select("doc_id").collect())
    b = sorted(r["doc_id"] for r in again.select("doc_id").collect())
    assert a == b


# ------------------------------------------------------------ chunk_pack


def _chunk_oracle(pdf: pd.DataFrame, budget: int) -> set[tuple]:
    pdf = pdf[pdf["n"] > 0].sort_values("doc_id", ignore_index=True)
    out = set()
    pos = 0
    for doc_id, n in pdf[["doc_id", "n"]].itertuples(index=False):
        start, end = pos, pos + int(n)
        for chunk in range(start // budget, (end - 1) // budget + 1):
            lo = max(start, chunk * budget)
            hi = min(end, (chunk + 1) * budget)
            out.add((int(doc_id), chunk, lo - start, hi - start))
        pos = end
    return out


def test_chunk_pack_matches_python_oracle(spark, sf_dir):
    d = docs(spark, sf_dir).select(
        "doc_id", F.regexp_count("text", F.lit(r"\S+")).cast("long").alias("n")
    )
    got = {
        (r["doc_id"], r["chunk_id"], r["tok_start"], r["tok_end"])
        for r in S.chunk_pack(d, "doc_id", "n", budget=128).collect()
    }
    want = _chunk_oracle(d.toPandas(), 128)
    assert got == want and len(got) > 0


def test_chunk_pack_chunks_are_full(spark, sf_dir):
    d = docs(spark, sf_dir).select(
        "doc_id", F.regexp_count("text", F.lit(r"\S+")).cast("long").alias("n")
    )
    out = S.chunk_pack(d, "doc_id", "n", budget=128)
    per_chunk = (
        out.groupBy("chunk_id")
        .agg(F.sum(F.col("tok_end") - F.col("tok_start")).alias("tok"))
        .collect()
    )
    last = max(r["chunk_id"] for r in per_chunk)
    for r in per_chunk:
        if r["chunk_id"] != last:
            assert r["tok"] == 128, r
        else:
            assert 0 < r["tok"] <= 128


def test_chunk_pack_avoids_single_task_window(spark, sf_dir):
    d = docs(spark, sf_dir).select(
        "doc_id", F.regexp_count("text", F.lit(r"\S+")).cast("long").alias("n")
    )
    plan = S.chunk_pack(d, "doc_id", "n", budget=128)._jdf.queryExecution().executedPlan().toString()
    # the big-table window must be partitioned (range partitioning),
    # not a bare global Window (SinglePartition exchange feeding it)
    assert "rangepartitioning" in plan.lower()
    assert "Python" not in plan


# ----------------------------------------------------------- greedy_pack


def _greedy_oracle(pdf: pd.DataFrame, budget: int) -> dict[int, tuple]:
    out = {}
    for shard, grp in pdf.groupby("shard"):
        grp = grp.sort_values("doc_id", ignore_index=True)
        bin_id, fill, first = 0, 0, True
        rows = []
        for doc_id, n in grp[["doc_id", "n"]].itertuples(index=False):
            n = int(n)
            if not first and fill + n > budget:
                bin_id += 1
                fill = 0
            rows.append((int(doc_id), bin_id))
            fill += n
            first = False
        totals = {}
        for (doc_id, b), n in zip(rows, grp["n"]):
            totals[b] = totals.get(b, 0) + int(n)
        for doc_id, b in rows:
            out[doc_id] = (int(shard), b, totals[b])
    return out


@pytest.mark.slow
def test_greedy_pack_matches_python_oracle(spark, sf_dir):
    d = docs(spark, sf_dir).select(
        (F.col("doc_id") % 8).cast("long").alias("shard"),
        "doc_id",
        F.regexp_count("text", F.lit(r"\S+")).cast("long").alias("n"),
    )
    got = {
        r["doc_id"]: (r["shard"], r["bin_id"], r["bin_tokens"])
        for r in S.greedy_pack(d, "shard", "doc_id", "n", budget=150).collect()
    }
    want = _greedy_oracle(d.toPandas(), 150)
    assert got == want and len(got) > 0


def test_greedy_pack_respects_budget(spark, sf_dir):
    d = docs(spark, sf_dir).select(
        (F.col("doc_id") % 8).cast("long").alias("shard"),
        "doc_id",
        F.regexp_count("text", F.lit(r"\S+")).cast("long").alias("n"),
    )
    out = S.greedy_pack(d, "shard", "doc_id", "n", budget=150)
    per_bin = (
        out.groupBy("shard", "bin_id", "bin_tokens")
        .agg(F.count(F.lit(1)).alias("docs"))
        .collect()
    )
    for r in per_bin:
        # a bin only exceeds the budget when a single oversized doc owns it
        assert r["bin_tokens"] <= 150 or r["docs"] == 1, r


def test_curriculum_order_contract(spark):
    from pandasy_spark.convert import to_df
    from pandasy_spark.extended.sampling import curriculum_order

    df = to_df(
        spark,
        [(i, i % 3) for i in range(200)],
        "doc_id:long,stage:int",
    )
    out = curriculum_order(df, "stage", "doc_id", num_shards=4).collect()
    by_shard = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append((r["pos"], r["stage"], r["doc_id"]))
    assert set(by_shard) <= {0, 1, 2, 3}
    for shard, rows in by_shard.items():
        rows.sort()
        # positions contiguous from 1
        assert [p for p, _, _ in rows] == list(range(1, len(rows) + 1))
        # stages non-decreasing along the read order
        stages = [s for _, s, _ in rows]
        assert stages == sorted(stages)
    # deterministic: second run is byte-identical
    again = curriculum_order(df, "stage", "doc_id", num_shards=4).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_mixture_weights_with_explicit_target(spark):
    from pandasy_spark.extended.sampling import mixture_weights

    rows = [("a", 30), ("a", 30), ("b", 20), ("c", 20)]
    df = spark.createDataFrame(rows, ["source", "toks"])
    out = {
        r["source"]: r
        for r in mixture_weights(
            df, "source", "toks", target={"a": 0.5, "b": 0.5}
        ).collect()
    }
    # masses: a=60, b=20, c=20, total=100
    assert out["a"]["observed_share"] == 0.6
    assert out["a"]["target_share"] == 0.5
    assert abs(out["a"]["weight"] - 0.5 / 0.6) < 1e-12
    assert out["a"]["keep_prob"] == out["a"]["weight"]
    # b is upweighted; keep_prob caps at 1
    assert abs(out["b"]["weight"] - 2.5) < 1e-12
    assert out["b"]["keep_prob"] == 1.0
    # c absent from target -> weight 0
    assert out["c"]["target_share"] == 0.0 and out["c"]["weight"] == 0.0
