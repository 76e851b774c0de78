"""Test helpers: DuckDB oracle comparison + randomized frames.

Same testing strategy as the reference (/root/repo/SURVEY.md §5):
run the engine's result and a reference SQL through DuckDB on the same
inputs, compare order-insensitively with float tolerance
(/root/reference/slide_test/utils.py:10-90 describes the behavior;
this is an independent implementation against pandas/duckdb APIs).
"""

from __future__ import annotations

import datetime as dt
from typing import Any

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import DataFrame


def spark_to_pd(df: DataFrame) -> pd.DataFrame:
    return df.toPandas()


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    out = pdf.copy()
    for c in out.columns:
        s = out[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            out[c] = pd.to_datetime(s).astype("datetime64[us]")
        elif pd.api.types.is_bool_dtype(s):
            out[c] = s.astype("boolean")
        elif pd.api.types.is_integer_dtype(s):
            out[c] = s.astype("Int64")
        elif pd.api.types.is_float_dtype(s):
            out[c] = s.astype("Float64").round(8)
        elif s.dtype == object:
            out[c] = s.where(pd.notna(s), None)
    # order-insensitive: sort by all columns (NULLs last), reset index
    out = out.sort_values(
        by=list(out.columns), na_position="last", ignore_index=True
    )
    return out


def assert_pdf_eq(actual: pd.DataFrame, expected: pd.DataFrame) -> None:
    a, e = _normalize(actual), _normalize(expected)
    assert list(a.columns) == list(e.columns), f"{list(a.columns)} != {list(e.columns)}"
    assert len(a) == len(e), f"row count {len(a)} != {len(e)}"
    pd.testing.assert_frame_equal(a, e, check_dtype=False, check_exact=False, atol=1e-6)


def duck_sql(sql: str, **tables: pd.DataFrame) -> pd.DataFrame:
    con = duckdb.connect()
    try:
        for name, pdf in tables.items():
            con.register(name, pdf)
        return con.execute(sql).df()
    finally:
        con.close()


def assert_duck_eq(actual: DataFrame | pd.DataFrame, sql: str, **tables: Any) -> None:
    """Compare engine output against DuckDB running ``sql`` over the
    same (pandas) inputs — the oracle pattern of the reference suite."""
    a = actual if isinstance(actual, pd.DataFrame) else spark_to_pd(actual)
    tbls = {
        k: (v if isinstance(v, pd.DataFrame) else spark_to_pd(v))
        for k, v in tables.items()
    }
    e = duck_sql(sql, **tbls)
    assert_pdf_eq(a, e)


# ----------------------------------------------------------- rand frames
def make_rand_df(size: int, seed: int = 0, **cols: Any) -> pd.DataFrame:
    """Deterministic pseudo-random frame.  ``cols`` maps name -> dtype
    or (dtype, null_count).  Small 10-value domains force key
    collisions, as in the reference's generator design
    (/root/reference/slide_test/utils.py:93-130; independent impl)."""
    rng = np.random.RandomState(seed)
    data: dict[str, Any] = {}
    for name, spec in cols.items():
        nulls = 0
        tp = spec
        if isinstance(spec, tuple):
            tp, nulls = spec
        if tp is int:
            s = pd.Series(rng.randint(0, 10, size), dtype="Int64")
        elif tp is float:
            s = pd.Series(rng.randint(0, 10, size).astype(float), dtype="Float64")
        elif tp is bool:
            s = pd.Series(rng.randint(0, 2, size).astype(bool), dtype="boolean")
        elif tp is str:
            s = pd.Series([f"s{v}" for v in rng.randint(0, 10, size)], dtype=object)
        elif tp is dt.datetime:
            base = dt.datetime(2020, 1, 1)
            s = pd.Series(
                [base + dt.timedelta(days=int(v)) for v in rng.randint(0, 10, size)]
            )
        else:
            raise ValueError(f"unsupported rand type {tp}")
        if nulls > 0:
            idx = rng.choice(size, min(nulls, size), replace=False)
            s = s.copy()
            s[idx] = None
        data[name] = s
    return pd.DataFrame(data)


#: Jobs each iterative graph gate runs from construction through a noop
#: write (sf0.001, ``local[4]``, 4 shuffle partitions, job group counted
#: with ``statusTracker().getJobIdsForGroup``, scans memoized first), as
#: run by the per-operator round loops before they shared kernels;
#: graph_scc reads 47 or 48 from run to run.  Budgets may only go down.
GRAPH_GATE_JOBS = {
    "text_textrank": 13,
    "graph_pagerank": 15,
    "graph_ppr": 21,
    "graph_hits": 22,
    "graph_label_prop": 11,
    "graph_kcore": 14,
    "graph_bfs": 25,
    "graph_sssp": 16,
    "graph_closeness": 26,
    "graph_scc": 48,
}
