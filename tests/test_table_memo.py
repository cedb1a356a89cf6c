"""Focused pins for the corpus-table plan memo (round-15 optimizations).

Each test pins an operator-internal change from the optimization
round: the corpus-table plan memo (sources/tables.py), its staleness
rule, the re-registration skip, and the alternating-CC
``edges_distinct`` fast path.  End-to-end result equality for every
touched QUERY key is separately pinned by the oracle replay
(tools/replay.py — 370/370 green at HEAD); these tests cover the
pieces the oracle cannot see (cache identity, invalidation, operator
flags on planted graphs).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from data_engineering_assessment_spark.sources.tables import (
    load_table,
    register_corpus,
)

SF_DIR = "/root/testdata/sf0.001"


def test_load_table_memo_returns_same_plan_object(spark):
    a = load_table(spark, SF_DIR, "nation")
    b = load_table(spark, SF_DIR, "nation")
    assert a is b, "second call must serve the memoized analyzed frame"


def test_load_table_memo_invalidates_on_file_change(spark, tmp_path):
    src = os.path.join(SF_DIR, "nation.parquet")
    d = str(tmp_path)
    shutil.copy(src, os.path.join(d, "nation.parquet"))
    a = load_table(spark, d, "nation")
    n_before = a.count()
    # regenerate in place: same path, new content (one row filtered out)
    a.filter(F.col("n_nationkey") > 0).write.mode("overwrite").parquet(
        os.path.join(d, "_tmp_nation")
    )
    shutil.rmtree(os.path.join(d, "nation.parquet"), ignore_errors=True)
    os.remove(os.path.join(d, "nation.parquet")) if os.path.exists(
        os.path.join(d, "nation.parquet")
    ) else None
    shutil.move(os.path.join(d, "_tmp_nation"), os.path.join(d, "nation.parquet"))
    b = load_table(spark, d, "nation")
    assert b is not a, "size/mtime fingerprint must invalidate the memo"
    assert b.count() == n_before - 1


def test_register_corpus_skips_identical_reregistration(spark):
    first = register_corpus(spark, SF_DIR)
    second = register_corpus(spark, SF_DIR)
    assert all(first[k] is second[k] for k in first)
    # the view must still resolve to the memoized frame's content
    assert (
        spark.table("nation").count()
        == load_table(spark, SF_DIR, "nation").count()
    )


def test_cc_alternating_edges_distinct_flag_is_result_neutral(spark):
    from data_engineering_assessment_spark.operators.graph import (
        connected_components_alternating,
    )

    # planted graph: a chain, a separate clique edge, duplicate rows
    # and a self-loop-only node (40) — the cases the distinct/self-loop
    # handling must preserve
    rows = [(1, 2), (2, 3), (3, 4), (10, 11), (11, 10), (20, 21), (40, 40)]
    raw = spark.createDataFrame(rows, "src long, dst long")
    base = dict(
        connected_components_alternating(raw)[0]
        .select("node", "component")
        .collect()
    )
    pre = raw.distinct()
    fast = dict(
        connected_components_alternating(pre, edges_distinct=True)[0]
        .select("node", "component")
        .collect()
    )
    assert base == fast
    assert base[40] == 40  # self-loop-only node keeps its own label
    assert base[1] == base[4] == 1
