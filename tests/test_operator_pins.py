"""Focused pins for operator internals (round-16 optimizations).

Each test pins an operator-internal change from optimization round 2:

- the alternating-CC small-star rewrite (re-orientation identity +
  smins-union form) and the ``edges_symmetric`` round-1 fast path;
- the shared-sample / threaded-count IVF-PQ trainer guard constants;
- the register_corpus catalog-existence guard.

(The PPJoin-style prefix filter was implemented, proven bit-identical,
measured 2.3–2.6× SLOWER at this corpus shape, and reverted — the
negative A/B lives in ngram_jaccard_pairs' docstring; no pin needed
for code that did not ship.)

End-to-end result equality for every touched QUERY key is separately
pinned by the oracle replay (tools/replay.py); these tests cover the
pieces the oracle cannot see (operator flags on planted inputs, path
equivalences under parameters no query key exercises).
"""

from __future__ import annotations

import pyspark.sql.functions as F

SF_DIR = "/root/testdata/sf0.001"

def _planted_symmetric_edges(spark):
    """A multi-component graph, emitted with BOTH orientations and no
    duplicates/self-loops — the exact contract graph_cc_alternating's
    collect_set edge build guarantees."""
    und = [
        # chain 1-2-3-4 (diameter > 1 forces multiple star rounds)
        (1, 2), (2, 3), (3, 4),
        # triangle 10-11-12
        (10, 11), (11, 12), (10, 12),
        # star centered high (20 is NOT the min of its component)
        (20, 5), (20, 6), (20, 7),
        # 2-cycle
        (30, 31),
    ]
    both = und + [(b, a) for a, b in und]
    return spark.createDataFrame(both, "x long, y long")


def test_cc_alternating_symmetric_flag_and_small_star_rewrite(spark):
    """The r16 small-star rewrite + edges_symmetric fast path must
    produce the same labels AND the same round count as the default
    path, and agree with plain min-label propagation."""
    from data_engineering_assessment_spark.operators.graph import (
        connected_components,
        connected_components_alternating,
    )

    e = _planted_symmetric_edges(spark)
    lab_default, rounds_default = connected_components_alternating(
        e, src="x", dst="y"
    )
    lab_fast, rounds_fast = connected_components_alternating(
        e, src="x", dst="y", edges_distinct=True, edges_symmetric=True
    )
    d = {r.node: r.component for r in lab_default.collect()}
    f = {r.node: r.component for r in lab_fast.collect()}
    assert d == f
    assert rounds_default == rounds_fast
    prop = {
        r.node: r.component
        for r in connected_components(e, src="x", dst="y").collect()
    }
    assert f == prop
    # ground truth
    want = {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10,
            5: 5, 6: 5, 7: 5, 20: 5, 30: 30, 31: 30}
    assert f == want


def test_ivfpq_caps_derive_from_trainer_constants():
    import inspect

    from data_engineering_assessment_spark.operators.ivf import (
        KM_TRAIN_CAP,
        train_kmeans_sampled,
    )
    from data_engineering_assessment_spark.operators.pq import (
        PQ_TRAIN_CAP,
        train_pq_codebooks,
    )

    assert (
        inspect.signature(train_kmeans_sampled).parameters["train_cap"].default
        == KM_TRAIN_CAP
    )
    assert (
        inspect.signature(train_pq_codebooks).parameters["train_cap"].default
        == PQ_TRAIN_CAP
    )


def test_register_corpus_reregisters_dropped_view(spark):
    """ADVICE r15: if a corpus view is dropped, the identity memo must
    not skip re-registration."""
    from data_engineering_assessment_spark.sources.tables import register_corpus

    register_corpus(spark, SF_DIR)
    spark.catalog.dropTempView("nation")
    assert not spark.catalog.tableExists("nation")
    register_corpus(spark, SF_DIR)
    assert spark.catalog.tableExists("nation")
    assert spark.table("nation").count() > 0
