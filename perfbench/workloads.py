"""The benchmark's workloads: which gates each runs and where each
gate's result goes.  Every workload is a closed loop with one client:
the next gate starts only after the previous gate and its sinks end.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass
from typing import Callable

# convert.as_array gets a bounded head of each result, so the row-list
# egress cost stays proportional across gates of very different sizes
ARRAY_HEAD_ROWS = 10_000


def noop_sink(spark, df, ctx) -> dict:
    df.write.format("noop").mode("overwrite").save()
    return {}


def egress_sink(spark, df, ctx) -> dict:
    """Results leave the engine the way library users consume them:
    an Arrow table, a row list, and a parquet file that is read back."""
    from pandasy_spark import convert, sources

    tbl = convert.as_arrow(df)
    rows = convert.as_array(df.limit(ARRAY_HEAD_ROWS))
    path = os.path.join(ctx["out_dir"], "egress")
    sources.write_parquet(df, path)
    n = sources.read_back(spark, path).count()
    if n != tbl.num_rows:
        raise AssertionError(f"read back {n} rows, wrote {tbl.num_rows}")
    files = [f for f in os.listdir(path) if f.endswith(".parquet")]
    out = {
        "rows_out": tbl.num_rows + len(rows),
        "arrow_bytes_out": tbl.nbytes,
        "files_written": len(files),
        "bytes_written": sum(os.path.getsize(os.path.join(path, f)) for f in files),
    }
    shutil.rmtree(path)
    return out


@dataclass(frozen=True)
class Workload:
    name: str
    sinks: dict[str, Callable]  # gate -> sink

    @property
    def gates(self) -> tuple[str, ...]:
        return tuple(self.sinks)


SINK_NAMES = {
    noop_sink: "noop write",
    egress_sink: "convert.as_arrow, convert.as_array (bounded head), "
    "sources.write_parquet, sources.read_back count",
}

WORKLOADS = {
    w.name: w
    for w in [
        # The library's own contract: functions and operators over source
        # scans, one gate per operator family (TPC-H joins, full join,
        # set op, window, cube, grouped apply).  Action-bound and free of
        # extended and convert code, so it is the bypass workload for
        # changes there.
        Workload(
            "relational_tpch",
            dict.fromkeys(
                (
                    "q1_pricing_summary", "q3_shipping_priority", "q18_large_orders",
                    "q21_waiting_supplier", "join_full", "setop_except_all",
                    "window_distribution", "agg_cube", "groupby_apply",
                ),
                noop_sink,
            ),
        ),
        # Gates whose jobs run inside the gate call: multi-job extended
        # kernels (quantile core, iterative graph), a concurrency gate
        # (materialize_concurrently) and a micro-batch stream, plus one
        # wide relational result leaving through convert and parquet
        # sinks.  ml_recall_panel (17-24 s a call) and the timer-bound
        # streaming gates stay out: either would dominate every pass.
        Workload(
            "kernels_egress",
            {
                **dict.fromkeys(
                    ("profile_winsorize", "graph_pagerank", "agg_approx", "streaming_enrich"),
                    noop_sink,
                ),
                "join_left": egress_sink,
            },
        ),
    ]
}
