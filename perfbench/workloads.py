"""The benchmark's two workloads as lists of calls into the program.

A call has a timed *build* (constructing the DataFrame through a public
entry point: a registry op or a `secdb_spark.api` function, including the
input reads it needs) and a timed *exec* (`.write.format("noop").save()`),
plus an untimed projection used only by the correctness gate.

Every call names a golden check (`check`): registry ops are checked
against their own DuckDB oracle, `api` calls against their registry
twin's oracle through the projection the twin tests use, with the same
projection applied on the DuckDB side (`oracle_wrap`).
"""

from __future__ import annotations

from collections.abc import Callable, Mapping
from dataclasses import dataclass

# bench.py's HEADLINE map, op ids in its order (the benchmark's own tests
# pin the equality, so the two cannot drift apart silently).
HEADLINE_OPS = (
    "agg_group",
    "join_inner",
    "win_topk_group",
    "win_lag_lead",
    "stream_session",
    "sim_cosine_topk",
    "dedup_exact",
    "dedup_near",
    "sql_tpch_q18",
    "events_sessionize",
    "funnel_events",
    "rollup_timeseries",
)

# The SECDB build pipeline: XBRL parse -> facts, parquet + SQLite build,
# standardized metrics.
SECDB_OPS = ("src_xbrl_etl", "build_secdb", "xbrl_metrics")

# `api_secdb` holds the two paths that bypass the headline kernels: the
# SECDB build and the api layer.  They share one workload because a fresh
# process per run (set-up plus cold pass, about 25 s) leaves room for two
# workloads, not three, in a full measurement of 4 + 22 x workloads runs.
WORKLOADS = ("headline", "api_secdb")


@dataclass(frozen=True)
class Call:
    """One closed-loop call: `build(spark, sf_dir)` returns the lazy result."""

    id: str
    layer: str  # "registry" or "api"
    build: Callable
    check: str  # registry op whose oracle certifies the output
    project: Callable | None = None  # untimed, applied before checking
    oracle_wrap: str | None = None  # DuckDB SELECT over `({oracle})`




def _read(spark, sf_dir: str, table: str):
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


def _near_dup_pairs(spark, sf_dir):
    from secdb_spark import api

    return api.near_dup_pairs(
        _read(spark, sf_dir, "documents"), "doc_id", "text", threshold=0.9
    )


def _near_dup_project(df):
    from pyspark.sql import functions as F

    return df.select(
        F.least("id_a", "id_b").alias("doc_a"),
        F.greatest("id_a", "id_b").alias("doc_b"),
        F.round("jaccard", 6).alias("jaccard"),
    )


def _pagerank(spark, sf_dir):
    from pyspark.sql import functions as F

    from secdb_spark import api

    o = _read(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _read(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    e0 = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.concat(F.lit("c"), "o_custkey").alias("a"),
            F.concat(F.lit("s"), "l_suppkey").alias("b"),
        )
        .distinct()
    )
    edges = e0.select(F.col("a").alias("s"), F.col("b").alias("d")).union(
        e0.select(F.col("b").alias("s"), F.col("a").alias("d"))
    )
    return api.pagerank(edges, "s", "d", iters=3, damping=0.85)


def _pagerank_project(df):
    from pyspark.sql import functions as F

    return (
        df.select(
            "node",
            F.floor(F.col("pr") * 1e9 + 0.5).cast("bigint").alias("pr9"),
        )
        .orderBy(F.desc("pr9"), "node")
        .limit(20)
    )


def _sessionize(spark, sf_dir):
    from secdb_spark import api

    return api.sessionize(
        _read(spark, sf_dir, "events"), "user_id", "ts", gap_minutes=30
    )


def _sessionize_project(df):
    from pyspark.sql import functions as F

    return df.groupBy(
        "user_id", F.col("session_id").cast("long").alias("session_seq")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


def _funnel(spark, sf_dir):
    from secdb_spark import api

    return api.funnel(
        _read(spark, sf_dir, "events"), "user_id", "ts", "event_type",
        ["view", "click", "purchase"], tie_col="event_id",
    )


def _funnel_project(df):
    return df.select("stage", "n_users")


_API_CALLS = (
    Call(
        "api.near_dup_pairs", "api", _near_dup_pairs, "dedup_near",
        _near_dup_project,
        "SELECT least(doc_a, doc_b) AS doc_a, greatest(doc_a, doc_b) AS doc_b,"
        " round(jaccard, 6) AS jaccard FROM ({oracle})",
    ),
    Call("api.pagerank", "api", _pagerank, "graph_pagerank", _pagerank_project),
    Call(
        "api.sessionize", "api", _sessionize, "events_sessionize",
        _sessionize_project,
    ),
    Call(
        "api.funnel", "api", _funnel, "funnel_events", _funnel_project,
        "SELECT stage, n_users FROM ({oracle})",
    ),
)


def calls(workload: str, queries: Mapping[str, Callable]) -> tuple[Call, ...]:
    """The workload's calls in their listed (cold-pass) order.

    `queries` is `registry.all_queries()`, resolved once by the caller so
    that a registry call's build times only the op itself."""
    if workload == "headline":
        ops, extra = HEADLINE_OPS, ()
    elif workload == "api_secdb":
        ops, extra = SECDB_OPS, _API_CALLS
    else:
        raise ValueError(f"unknown workload {workload!r}; choose from {WORKLOADS}")
    return tuple(Call(op, "registry", queries[op], op) for op in ops) + extra


def all_call_ids() -> tuple[str, ...]:
    """Every call id of every workload (the per-call metric namespace)."""
    return HEADLINE_OPS + SECDB_OPS + tuple(c.id for c in _API_CALLS)
