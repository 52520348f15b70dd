"""The benchmark's workloads: which registry ids each runs, and how a
streaming id's output is checked against its batch analog.

Oracle-backed ids are checked against their DuckDB ``oracle_sql`` in
``run.py``; streaming ids have no oracle and are checked here, with the same
stream == batch pairs the engine's streaming tests assert.
"""

from __future__ import annotations

from collections.abc import Callable

WORKLOADS: dict[str, tuple[str, ...]] = {
    # The hybrid batch-stream engine's relational side, all JVM work and no
    # Python workers or fixpoint loops: one batch id per operator module
    # (top-k, join, TPC-H shape, scalar subquery, window, session window)
    # plus the CPU-bound Poisson bootstrap, then three availableNow drains
    # with checkpoint commits: event-time windows over three time-ordered
    # files (three data micro-batches, state carried between them, late rows
    # dropped by the watermark), the stream-static hybrid join and a parquet
    # sink write (one data micro-batch each).
    "batch_stream": (
        "topk_revenue_orders",
        "join_5way_regional_revenue",
        "q8_market_share",
        "subquery_scalar_part_avg",
        "win_rank_orders_per_cust",
        "win_session_30m_batch",
        "agg_bootstrap_ci",
        "stream_watermark_drop",
        "stream_static_enrich",
        "stream_sink_parquet",
    ),
    # Launch-bound fixpoint loops (connected components behind dedup, the
    # BPE trainer) and a Python/Arrow kernel (the gram matrix). An odd id
    # count keeps the latency median inside one id's samples.
    "llm_pipeline": (
        "llm_dedup_keep",
        "llm_bpe_train_merges",
        "llm_embedding_gram",
    ),
}

#: A steady pass's wall time on a quiet 4-core host. A run measures
#: ``--seconds / PASS_S`` steady passes (rounded, at least one): a fixed
#: count, so every run of a workload compares the same pass positions while
#: the JIT is still settling, instead of a count that follows the host's speed.
PASS_S = {"batch_stream": 10.0, "llm_pipeline": 7.0}


def _sorted(rows, *cols) -> list[tuple]:
    return sorted(tuple(r[c] for c in cols) for r in rows)


def _watermark_drop(spark, sf_dir, load_table):
    """The drain stages events as ts >= Jan 10, then Jan 5..10, then < Jan 5,
    one micro-batch each, with a one-hour watermark. The last file is behind
    the watermark and dropped; append mode emits the hourly windows that the
    final watermark (latest event time minus one hour) has closed."""
    import pyspark.sql.functions as F

    ev = load_table(spark, sf_dir, "events")
    wm = ev.agg((F.max("ts") - F.expr("INTERVAL 1 HOUR")).alias("wm"))
    batch = (
        ev.filter(F.col("ts") >= "2024-01-05")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .crossJoin(wm)
        .filter(F.col("w.end") <= F.col("wm"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    want = _sorted(batch.collect(), "ws", "n")
    return lambda rows: _sorted(rows, "ws", "n") == want


def _static_enrich(spark, sf_dir, load_table):
    import pyspark.sql.functions as F

    cols = ("n_name", "event_type", "n_events")
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_nationkey"
    )
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    batch = (
        load_table(spark, sf_dir, "events")
        .join(c, "user_id")
        .join(n, c.c_nationkey == n.n_nationkey)
        .groupBy("n_name", "event_type")
        .agg(F.count("*").alias("n_events"))
    )
    want = _sorted(batch.collect(), *cols)
    return lambda rows: _sorted(rows, *cols) == want


def _sink_parquet(spark, sf_dir, load_table):
    import pyspark.sql.functions as F

    want = {
        r["user_id"]: r["n"]
        for r in load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    return lambda rows: {r["user_id"]: r["n_purchases"] for r in rows} == want


#: stream id -> factory(spark, sf_dir, load_table) of a checker
#: ``rows -> bool`` that compares one drain's output with its batch analog.
STREAM_CHECKS: dict[str, Callable] = {
    "stream_watermark_drop": _watermark_drop,
    "stream_static_enrich": _static_enrich,
    "stream_sink_parquet": _sink_parquet,
}
