"""Plan inheritance of the api functions that bind a registry kernel:
api.near_dup_pairs runs dedup_near's first-matching-band kernel, and
api.pagerank (the kernel graph_pagerank calls) carries the gated
per-round broadcast of the rank vector.  The twin tests prove the
values; these tests pin the plan shapes the values came with."""

from __future__ import annotations

import contextlib
import io
import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from secdb_spark import api  # noqa: E402

from conftest import SF_DIR  # noqa: E402


def _formatted(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@contextlib.contextmanager
def _hints_only(spark):
    """Turn off size-based auto-broadcast, so every BroadcastExchange in
    a plan comes from an explicit hint in the code under test."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        yield
    finally:
        spark.conf.set(key, old)


def test_near_dup_pairs_plan_has_no_pair_aggregate(spark):
    """Each candidate pair is emitted once by the first-matching-band
    join (one equi-join per band, unioned), so no distinct or aggregate
    runs over the candidate stream — and none over tokens either: the
    signatures are array expressions on each row."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    p = _formatted(api.near_dup_pairs(docs, "doc_id", "text", n_bands=4))
    assert "Aggregate" not in p, p
    assert re.search(r"\(\d+\) Union", p), p
    joins = re.findall(r"\(\d+\) (?:SortMergeJoin|BroadcastHashJoin)", p)
    assert len(joins) >= 4 + 2, p  # one per band, plus the two verify sides


def _ring(spark):
    rows = [(i, (i + 1) % 12) for i in range(12)] + [(0, 6), (3, 9)]
    return spark.createDataFrame(
        rows + [(b, a) for a, b in rows], "s long, d long"
    )


def test_pagerank_broadcasts_rank_vector_every_iteration(spark):
    """Under the PR_BROADCAST_NODES gate every round's join of the edge
    list against the rank vector broadcasts the rank vector."""
    iters = 4
    with _hints_only(spark):
        p = _formatted(api.pagerank(_ring(spark), "s", "d", iters=iters))
    assert len(re.findall(r"\(\d+\) BroadcastExchange", p)) >= iters, p


def test_pagerank_both_gate_branches_agree(spark, monkeypatch):
    """Above the gate the joins shuffle (no broadcast hint at all) and the
    ranks are bit-identical to the broadcast branch."""
    from secdb_spark.operators import warehouse_extras4

    small = api.pagerank(_ring(spark), "s", "d", iters=5)
    monkeypatch.setattr(warehouse_extras4, "PR_BROADCAST_NODES", 0)
    with _hints_only(spark):
        big = api.pagerank(_ring(spark), "s", "d", iters=5)
        assert "BroadcastExchange" not in _formatted(big)
        got = sorted(map(tuple, big.collect()))
    assert got == sorted(map(tuple, small.collect()))
