"""Workload definitions: which registry queries run, at which scale.

Each workload is a closed loop with one client. A run sets up once, runs
every query once untimed and checks its output against the DuckDB oracle,
then times whole passes over the queries, in an order shuffled by the
seed each pass, until `--seconds` have elapsed. The first query is the
set-up's warm-up operation.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float
    queries: tuple[str, ...]
    why: str
    # check the output of every timed operation, not only the first run
    check_each_op: bool = False
    # times each query runs in one pass of an untraced run: enough that
    # one pass outlasts the gated window, so every run times the same
    # operations
    repeats: int = 1


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "batch_apps",
            0.02,
            (
                "hot_items", "hot_urls", "page_view", "uv_exact", "market_by_channel",
                "ad_clicks_filtered", "login_fail", "order_timeout", "order_receipt_join",
                "tpch_q1", "tpch_q9",
            ),
            "the paper's nine reference apps plus a TPC-H scan (q1) and join (q9): time goes to executor and sources",
        ),
        Workload(
            "driver_loops",
            0.01,
            ("kmeans_embeddings", "components_knn", "wordpiece_encode", "dedup_clusters"),
            "trainer and graph loops whose plan build dwarfs execution: operators and scheduler barrier jobs",
        ),
        Workload(
            "epoch_views",
            0.001,
            ("hot_items_mv_stream_view",),
            "stream-maintained view: epoch write, fold, retention purge, view read; streaming and catalog",
            check_each_op=True,
            repeats=2,
        ),
    )
}
