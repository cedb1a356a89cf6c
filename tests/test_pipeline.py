"""Unit tests for the training-data-pipeline operators: planted
near-duplicate recall (embedding + text tiers) and multimodal
plumbing shape (thumbnail bytes, frame fan-out)."""

from __future__ import annotations

import random

import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_engineering_assessment_spark.operators.dedup import (
    minhash_candidate_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from data_engineering_assessment_spark.operators.multimodal import (
    fake_resize,
    resize_assets,
    sample_frames,
    synth_assets,
)
from data_engineering_assessment_spark.operators.similarity import (
    cosine_near_dup_lsh,
    cosine_near_dup_pairs,
)
from data_engineering_assessment_spark.plans import queries as _queries
from data_engineering_assessment_spark.sources import layout
from tests.conftest import SF_DIR

QUERIES = _queries()


def _planted_vectors(spark, n=40, dim=64, seed=7):
    """n random unit-ish vectors plus one planted near-identical pair
    (ids 1000/1001, cosine ≈ 1)."""
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        rows.append((i, [rng.gauss(0, 1) for _ in range(dim)]))
    base = [rng.gauss(0, 1) for _ in range(dim)]
    near = [x + 1e-4 * rng.gauss(0, 1) for x in base]
    rows.append((1000, base))
    rows.append((1001, near))
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    return spark.createDataFrame(rows, schema)


def test_embed_near_dup_exact_finds_planted_pair(spark):
    vecs = _planted_vectors(spark)
    pairs = cosine_near_dup_pairs(vecs, threshold=0.9).collect()
    assert [(r.id_a, r.id_b) for r in pairs] == [(1000, 1001)]
    assert pairs[0].cosine_micro > 999000


def test_embed_near_dup_lsh_finds_planted_pair(spark):
    vecs = _planted_vectors(spark)
    pairs = cosine_near_dup_lsh(vecs, threshold=0.9).collect()
    assert [(r.id_a, r.id_b) for r in pairs] == [(1000, 1001)]


def test_embed_lsh_subset_of_exact(spark):
    vecs = _planted_vectors(spark)
    exact = {
        (r.id_a, r.id_b) for r in cosine_near_dup_pairs(vecs, threshold=0.3).collect()
    }
    approx = {
        (r.id_a, r.id_b) for r in cosine_near_dup_lsh(vecs, threshold=0.3).collect()
    }
    assert approx <= exact


def _planted_docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again " * 3
    near = base.replace("lazy", "sleepy")
    far = "completely different words that share nothing with the others at all"
    return spark.createDataFrame(
        [(1, base), (2, near), (3, far)], ["doc_id", "text"]
    )


def test_ngram_jaccard_finds_planted_near_dup(spark):
    docs = _planted_docs(spark)
    pairs = ngram_jaccard_pairs(docs, threshold=0.5).collect()
    assert [(r.doc_a, r.doc_b) for r in pairs] == [(1, 2)]


def test_minhash_agrees_on_planted_near_dup(spark):
    docs = _planted_docs(spark)
    pairs = minhash_candidate_pairs(docs, min_est_jaccard=0.5).collect()
    assert (1, 2) in {(r.doc_a, r.doc_b) for r in pairs}


def test_simhash_identical_docs_distance_zero(spark):
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"),
         (3, "unrelated totally disjoint vocabulary here")],
        ["doc_id", "text"],
    )
    pairs = simhash_pairs(docs, max_hamming=3).collect()
    found = {(r.doc_a, r.doc_b): r.hamming for r in pairs}
    assert found.get((1, 2)) == 0


def test_resize_thumb_shape(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(30)
    assets = synth_assets(docs)
    out = resize_assets(assets, width=8, height=8, resize_fn=fake_resize).collect()
    assert out  # image assets exist
    assert all(len(bytes(r.thumb)) == 64 for r in out)
    assert all(r.media_type == "image/png" for r in out)


def test_real_codec_swap_point_with_pil(spark):
    """End-to-end decode through the REAL-codec swap point when an
    imaging library exists (skipped in containers without PIL): a
    genuine PNG payload flows through the same Arrow-batched
    mapInPandas plumbing as the graded fake-codec keys, and the
    decoded (width, height) must match the encoded image.  This gives
    clusters that DO ship PIL the execution coverage this container
    cannot provide."""
    Image = pytest.importorskip("PIL.Image")
    import io

    from data_engineering_assessment_spark.operators.multimodal import (
        decode_assets,
    )

    def png_bytes(w, h):
        buf = io.BytesIO()
        Image.new("RGB", (w, h), (w % 256, h % 256, 7)).save(buf, format="PNG")
        return buf.getvalue()

    sizes = [(3, 5), (17, 11), (64, 2)]
    assets = spark.createDataFrame(
        [
            (i, "image/png", len(png_bytes(w, h)), bytearray(png_bytes(w, h)))
            for i, (w, h) in enumerate(sizes)
        ],
        "asset_id long, media_type string, byte_len long, payload binary",
    )

    def pil_decode(payload: bytes, media_type: str):
        with Image.open(io.BytesIO(payload)) as im:
            return im.width, im.height, getattr(im, "n_frames", 1)

    got = {
        r.asset_id: (r.width, r.height, r.n_frames)
        for r in decode_assets(assets, decode_fn=pil_decode).collect()
    }
    assert got == {i: (w, h, 1) for i, (w, h) in enumerate(sizes)}


def test_frame_sampling_fanout(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(30)
    assets = synth_assets(docs)
    frames = sample_frames(assets, every_n=4)
    per_asset = (
        frames.groupBy("asset_id").agg(F.count("*").alias("n")).collect()
    )
    metas = {
        r.asset_id: r.byte_len % 16 + 1
        for r in assets.filter(F.col("media_type") == "video/mp4").collect()
    }
    assert per_asset
    for r in per_asset:
        n_frames = metas[r.asset_id]
        assert r.n == len(range(0, n_frames, 4))


def test_connected_components_chain_and_islands(spark):
    from data_engineering_assessment_spark.operators.graph import (
        connected_components,
        dedup_cluster_assignments,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 20)],
        ["doc_a", "doc_b"],
    )
    cc = {r.node: r.component for r in
          connected_components(edges, "doc_a", "doc_b").collect()}
    assert cc == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}

    clusters = dedup_cluster_assignments(edges).collect()
    canon = {r.doc_id: (r.canonical_id, r.is_canonical) for r in clusters}
    assert canon[4] == (1, False) and canon[1] == (1, True)
    assert canon[11] == (10, False) and canon[20] == (20, True)


def test_alternating_cc_matches_propagation_in_log_rounds(spark):
    """Large-star/small-star CC produces the IDENTICAL label set as
    min-label propagation, and converges in O(log n) rounds on the
    chain graph where propagation needs O(diameter): 64-node chain →
    propagation takes 64 rounds, star-contraction ≤ 8."""
    from data_engineering_assessment_spark.operators.graph import (
        connected_components,
        connected_components_alternating,
    )

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(64)] + [(100, 101), (200, 200)],
        ["src", "dst"],
    )
    alt, rounds = connected_components_alternating(chain)
    prop = connected_components(chain)
    assert rounds <= 8
    got = {r.node: r.component for r in alt.collect()}
    want = {r.node: r.component for r in prop.collect()}
    assert got == want
    assert got[64] == 0 and got[101] == 100


def test_alternating_cc_matches_propagation_on_cosupply_graph(spark):
    """The graded alternating key emits the exact summary row of the
    propagation key on the real co-supply graph."""
    a = QUERIES["graph_cc_alternating"](spark, SF_DIR).collect()
    b = QUERIES["graph_connected_components"](spark, SF_DIR).collect()
    assert a == b


def test_dedup_clusters_a_chain_longer_than_twenty_hops(spark):
    """Label propagation runs to its fixpoint: a 25-document near-dup
    chain (i, i+1) is ONE cluster with canonical id 1, not the
    partial labels a round cap would leave."""
    from data_engineering_assessment_spark.operators.graph import (
        dedup_cluster_assignments,
    )

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 25)], "doc_a long, doc_b long"
    )
    got = {r.doc_id: r.canonical_id for r in dedup_cluster_assignments(pairs).collect()}
    assert got == {i: 1 for i in range(1, 26)}


def _persistent_rdd_ids(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keys()}


def test_fixpoint_releases_spent_rounds(spark):
    """A 41-node chain takes 41 propagation rounds; once the result is
    read, only the edge frame and the final state are still pinned
    among the RDDs the build persisted."""
    from data_engineering_assessment_spark.operators.graph import (
        connected_components,
    )

    chain = spark.createDataFrame([(i, i + 1) for i in range(40)], "src long, dst long")
    before = _persistent_rdd_ids(spark)
    got = {r.node: r.component for r in connected_components(chain).collect()}
    alive = _persistent_rdd_ids(spark) - before
    assert got == {i: 0 for i in range(41)}
    assert len(alive) <= 2, alive


def test_graph_results_survive_a_second_build(spark):
    """Releasing a spent round never breaks a live result: the frames
    of a first build, read after a second build of the same keys on
    the same session, still equal the results read before either."""
    keys = ("graph_kcore", "graph_pagerank_converged", "graph_cc_alternating")
    want = {k: sorted(QUERIES[k](spark, SF_DIR).collect()) for k in keys}
    first = {k: QUERIES[k](spark, SF_DIR) for k in keys}
    second = {k: QUERIES[k](spark, SF_DIR) for k in keys}
    for k in keys:
        assert sorted(first[k].collect()) == want[k], k
        assert sorted(second[k].collect()) == want[k], k
    assert want["graph_cc_alternating"] == QUERIES["graph_connected_components"](
        spark, SF_DIR
    ).collect()


def test_graph_loops_go_through_fixpoint():
    """``operators.graph.fixpoint`` is the package's one loop that
    checkpoints per round, and ``session.release_checkpoint`` is the
    one place that drops checkpoint blocks: no ``localCheckpoint``
    call sits in a ``for``/``while`` body elsewhere, and no
    ``.unpersist(`` is reached through ``_jdf`` elsewhere."""
    import ast
    import pathlib

    from data_engineering_assessment_spark import session
    from data_engineering_assessment_spark.operators import graph

    pkg = pathlib.Path(session.__file__).resolve().parent
    assert callable(graph.fixpoint) and callable(session.release_checkpoint)
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        tree = ast.parse(path.read_text())
        owner = {}
        for fn in ast.walk(tree):
            if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                for node in ast.walk(fn):
                    owner.setdefault(id(node), fn.name)  # outermost function
        in_loop = {
            id(node)
            for loop in ast.walk(tree)
            if isinstance(loop, (ast.For, ast.While))
            for node in ast.walk(loop)
        }
        for node in ast.walk(tree):
            if not isinstance(node, ast.Attribute):
                continue
            if node.attr == "localCheckpoint" and id(node) in in_loop:
                allowed = ("operators/graph.py", "fixpoint")
            elif node.attr == "unpersist" and "_jdf" in ast.unparse(node.value):
                allowed = ("session.py", "release_checkpoint")
            else:
                continue
            if (rel, owner.get(id(node))) != allowed:
                offenders.append(f"{rel}:{node.lineno}")
    assert not offenders, offenders


def test_salted_join_equals_plain_join_under_skew(spark):
    from data_engineering_assessment_spark.operators.skew import salted_join

    # pathological skew: 90% of fact rows share one key
    fact = spark.createDataFrame(
        [(1 if i % 10 else i, i, float(i)) for i in range(1000)],
        ["k", "row_id", "v"],
    )
    dim = spark.createDataFrame(
        [(i, f"d{i}") for i in range(1000)], ["dk", "attr"]
    )
    salted = salted_join(fact, dim, "k", "dk", salts=8)
    plain = fact.join(dim, fact.k == dim.dk)
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


def test_approx_percentile_close_to_exact(spark):
    from data_engineering_assessment_spark.plans import queries

    exact = {
        r.l_returnflag: r
        for r in queries()["agg_percentile"](spark, SF_DIR).collect()
    }
    approx = {
        r.l_returnflag: r
        for r in queries()["agg_approx_percentile"](spark, SF_DIR).collect()
    }
    assert exact.keys() == approx.keys()
    for flag, e in exact.items():
        a = approx[flag]
        # exact tier emits micro-units (BIGINT); scale back for comparison
        p50_qty, p90_qty, p50_price = (
            e.p50_qty_micro / 1e6,
            e.p90_qty_micro / 1e6,
            e.p50_price_micro / 1e6,
        )
        assert abs(float(a.p50_qty) - p50_qty) <= max(1.0, 0.05 * p50_qty)
        assert abs(float(a.p90_qty) - p90_qty) <= max(1.0, 0.05 * p90_qty)
        assert abs(float(a.p50_price) - p50_price) <= 0.05 * p50_price


def test_ivf_exhaustive_probe_equals_brute_force(spark):
    from data_engineering_assessment_spark.operators.ivf import ivf_ann_topk
    from data_engineering_assessment_spark.operators.similarity import cosine_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5)
    brute = cosine_topk(emb, q, k=3).collect()
    full_probe = ivf_ann_topk(emb, q, k=3, n_clusters=8, nprobe=8).collect()
    key = lambda rows: sorted((r.q_id, r.neighbor_id, r.rank) for r in rows)
    assert key(full_probe) == key(brute)


def test_ivf_limited_probe_is_subset_with_exact_scores(spark):
    from data_engineering_assessment_spark.operators.ivf import ivf_ann_topk
    from data_engineering_assessment_spark.operators.similarity import cosine_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5)
    brute = {(r.q_id, r.neighbor_id): r.cosine_micro for r in cosine_topk(emb, q, k=50).collect()}
    probed = ivf_ann_topk(emb, q, k=3, n_clusters=8, nprobe=2).collect()
    assert probed  # returns something
    for r in probed:
        # every retrieved neighbor carries its true cosine score
        assert (r.q_id, r.neighbor_id) in brute
        assert abs(r.cosine_micro - brute[(r.q_id, r.neighbor_id)]) <= 2


def test_ngram_df_cap_soundness(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    base = {
        (r.doc_a, r.doc_b)
        for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    uncapped = {
        (r.doc_a, r.doc_b)
        for r in ngram_jaccard_pairs(docs, threshold=0.5, df_cap=10**6).collect()
    }
    assert uncapped == base  # cap above max df changes nothing
    capped = {
        (r.doc_a, r.doc_b)
        for r in ngram_jaccard_pairs(docs, threshold=0.5, df_cap=2).collect()
    }
    assert capped <= base  # aggressive cap only removes pairs


def _asof_frames(spark, seed=11, n_left=120, n_right=80, n_keys=5):
    import pandas as pd

    rng = random.Random(seed)
    left = pd.DataFrame(
        {
            "k": [rng.randrange(n_keys) for _ in range(n_left)],
            "t": [rng.randrange(1000) for _ in range(n_left)],
            "lv": list(range(n_left)),
        }
    )
    right = pd.DataFrame(
        {
            "k": [rng.randrange(n_keys) for _ in range(n_right)],
            "t": [rng.randrange(1000) for _ in range(n_right)],
            "rv": [i * 10 for i in range(n_right)],
        }
    )
    # merge_asof requires unique, sorted keys per (k, t) — dedupe ties
    right = right.drop_duplicates(subset=["k", "t"]).reset_index(drop=True)
    return left, right


@pytest.mark.parametrize("direction,tolerance", [
    ("backward", None), ("forward", None), ("backward", 50), ("forward", 25),
])
def test_asof_join_matches_pandas_merge_asof(spark, direction, tolerance):
    import pandas as pd

    from data_engineering_assessment_spark.operators.asof import asof_join

    left, right = _asof_frames(spark)
    expected = pd.merge_asof(
        left.sort_values("t", kind="mergesort"),
        right.sort_values("t", kind="mergesort"),
        on="t",
        by="k",
        direction=direction,
        tolerance=tolerance,
        suffixes=("", "_right"),
    )
    got = asof_join(
        spark.createDataFrame(left),
        spark.createDataFrame(right),
        on="t",
        by="k",
        direction=direction,
        tolerance=tolerance,
    ).toPandas()

    exp = sorted(
        (int(r.k), int(r.t), int(r.lv), None if pd.isna(r.rv) else int(r.rv))
        for r in expected.itertuples()
    )
    act = sorted(
        (int(r.k), int(r.t), int(r.lv), None if pd.isna(r.rv_right) else int(r.rv_right))
        for r in got.itertuples()
    )
    assert act == exp


def test_pii_scrub_plants_and_redacts(spark):
    from data_engineering_assessment_spark.functions.text import scrub_pii

    rows = [
        (1, "contact me at alice.smith+x@example.org today"),
        (2, "card 1234-5678-9012-3456 and phone 555-867-5309 ok"),
        (3, "nothing sensitive here"),
        (4, "two mails a@b.io c.d@e-f.com and +1 555.123.4567x"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    scrubbed, n = scrub_pii("text")
    got = {
        r.doc_id: (r.s, r.n)
        for r in df.select("doc_id", scrubbed.alias("s"), n.alias("n")).collect()
    }
    assert got[1] == ("contact me at <EMAIL> today", 1)
    assert got[2] == ("card <CARD> and phone <PHONE> ok", 2)
    assert got[3] == ("nothing sensitive here", 0)
    # "+1 555.123.4567" — the phone pattern needs 3-3-4 digit groups,
    # so it matches "555.123.4567" (the leading "+1 " survives).
    assert got[4] == ("two mails <EMAIL> <EMAIL> and +1 <PHONE>x", 3)


def test_similarity_dispatch_routes_by_corpus_size(spark):
    """The public dispatchers pick the exact tier under the bound and
    the LSH tier above it — the O(n²) baseline is unreachable at
    scale."""
    from data_engineering_assessment_spark.operators.similarity import (
        ann_topk,
        cosine_topk,
        lsh_ann_topk,
        near_dup_pairs,
    )

    vecs = _planted_vectors(spark)
    q = vecs.filter(F.col("vec_id") < 3)

    def key(rows):
        return sorted(map(tuple, rows))

    # corpus under the bound → identical to the exact tier
    assert key(ann_topk(vecs, q, k=2).collect()) == key(
        cosine_topk(vecs, q, k=2).collect()
    )
    assert key(near_dup_pairs(vecs, threshold=0.9).collect()) == key(
        cosine_near_dup_pairs(vecs, threshold=0.9).collect()
    )
    # corpus over the (forced-tiny) bound → identical to the LSH tier
    assert key(ann_topk(vecs, q, k=2, max_exact_rows=5).collect()) == key(
        lsh_ann_topk(vecs, q, k=2).collect()
    )
    assert key(near_dup_pairs(vecs, threshold=0.9, max_exact_rows=5).collect()) == key(
        cosine_near_dup_lsh(vecs, threshold=0.9).collect()
    )


def test_training_shaping_invariants(spark):
    """Structural invariants of the round-3 training-shaping keys
    (value-exactness is covered by their DuckDB oracles)."""
    from data_engineering_assessment_spark.plans import queries

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n_docs = docs.count()
    total_words = docs.select(
        F.sum(F.size(F.split("text", " "))).alias("s")
    ).collect()[0].s

    shards = queries()["shard_assign"](spark, SF_DIR).collect()
    assert sum(r.n_docs for r in shards) == n_docs
    assert all(r.shard in "0123456789abcdef" for r in shards)
    # hash sharding should be roughly balanced (within 4x of uniform)
    sizes = [r.n_docs for r in shards]
    assert max(sizes) <= 4 * max(1, n_docs // 16)

    bins = queries()["quality_bins"](spark, SF_DIR).collect()
    assert sum(r.n_docs for r in bins) == n_docs
    assert all(0 <= r.bin <= 9 for r in bins)

    mix = queries()["corpus_mix"](spark, SF_DIR)
    premium = docs.filter(F.col("source").isin("src0", "src1", "src2"))
    # premium sources are kept whole; total is a strict subset of docs
    assert mix.filter(F.col("source").isin("src0", "src1", "src2")).count() == premium.count()
    assert mix.count() < n_docs

    packs = queries()["seq_pack_chunks"](spark, SF_DIR).collect()
    # token conservation: every doc's tokens land in exactly one pack
    assert sum(r.pack_tokens for r in packs) == total_words
    assert sum(r.n_docs for r in packs) == n_docs
    # pack ids are unique per shard, start at 0, and stay within the
    # global token budget (contiguity is NOT guaranteed: a doc longer
    # than the chunk size makes ids jump — see the edge-case test)
    by_shard = {}
    for r in packs:
        by_shard.setdefault(r.shard, []).append(r.pack_id)
    assert min(min(ids) for ids in by_shard.values()) == 0
    for ids in by_shard.values():
        assert len(ids) == len(set(ids))
        assert max(ids) <= total_words // 1024


def test_seq_pack_chunks_edge_cases(spark, tmp_path, monkeypatch):
    """Packing edge cases on a synthetic corpus: an empty doc, a doc
    far larger than the chunk size (straddles many packs), and a swarm
    of tiny docs — token conservation and contiguous pack ids must
    hold in every shard."""
    from data_engineering_assessment_spark.plans import queries

    rows = [(0, "", "en", "src0", 0), (1, "w " * 5000 + "w", "en", "src0", 10001)]
    rows += [(i, "a b c", "en", "src1", 5) for i in range(2, 200)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    sf = str(tmp_path)
    df.write.parquet(f"{sf}/documents.parquet")

    packs = queries()["seq_pack_chunks"](spark, sf).collect()
    total_words = sum(len(t.split(" ")) for _, t, *_ in rows)
    assert sum(r.pack_tokens for r in packs) == total_words
    assert sum(r.n_docs for r in packs) == len(rows)
    # a doc belongs to the pack where its FIRST token lands, so a doc
    # larger than the chunk size makes pack ids jump (monotone, not
    # contiguous): ids must be unique, start at 0 in some shard, and
    # never exceed the global token count / chunk size
    by_shard = {}
    for r in packs:
        by_shard.setdefault(r.shard, []).append(r.pack_id)
    assert min(min(ids) for ids in by_shard.values()) == 0
    for ids in by_shard.values():
        assert len(ids) == len(set(ids))
        assert max(ids) <= total_words // 1024


def test_split_chunk_repetition_invariants(spark):
    """Structural invariants of the split/chunk/repetition trio
    (value-exactness is covered by their DuckDB oracles)."""
    from data_engineering_assessment_spark.plans import queries

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n_docs = docs.count()

    splits = queries()["split_train_eval"](spark, SF_DIR).collect()
    assert sum(r.n_docs for r in splits) == n_docs
    by_split = {}
    for r in splits:
        by_split[r.split] = by_split.get(r.split, 0) + r.n_docs
    assert set(by_split) <= {"train", "valid", "test"}
    # train dominates (93.75% expected share)
    assert by_split["train"] > 0.8 * n_docs

    chunks = queries()["chunk_overlap"](spark, SF_DIR).collect()
    by_doc = {}
    for r in chunks:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert len(by_doc) == n_docs  # every doc (n_tok >= 1) chunks
    for rows in by_doc.values():
        rows.sort(key=lambda r: r.chunk_idx)
        # stride-96 starts, contiguous idx, every chunk non-empty and
        # within size; only the last chunk may be short
        assert [r.chunk_idx for r in rows] == list(range(len(rows)))
        assert all(r.chunk_start == 96 * r.chunk_idx for r in rows)
        assert all(1 <= r.n_chunk_tok <= 128 for r in rows)
        # a chunk with a successor covers at least one full stride
        # past its start (it may still be <128: stride < size means
        # the tail can straddle two short chunks)
        assert all(r.n_chunk_tok >= 97 for r in rows[:-1])

    reps = queries()["repetition_stats"](spark, SF_DIR).collect()
    for r in reps:
        assert 1 <= r.n_uniq_tri <= r.n_tri
        assert 0 <= r.dup_ratio_x10000 <= 10000
        assert r.keep == ((r.n_tri - r.n_uniq_tri) * 5 <= r.n_tri)


def test_repetition_stats_degenerate_doc(spark, tmp_path):
    """A degenerate doc ('spam ham ' repeated) must be dropped; a
    varied doc kept."""
    from data_engineering_assessment_spark.plans import queries

    rows = [
        (0, "spam ham " * 50 + "spam", "en", "src0", 9),
        (1, " ".join(f"w{i}" for i in range(100)), "en", "src0", 100),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    sf = str(tmp_path)
    df.write.parquet(f"{sf}/documents.parquet")
    out = {r.doc_id: r for r in queries()["repetition_stats"](spark, sf).collect()}
    assert not out[0].keep and out[0].dup_ratio_x10000 > 9000
    assert out[1].keep and out[1].dup_ratio_x10000 == 0


def test_shuffle_vocab_quartile_bpe_invariants(spark):
    """Structural invariants of the round-3 corpus-analytics keys
    (value-exactness is covered by their DuckDB oracles)."""
    from data_engineering_assessment_spark.plans import queries

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n_docs = docs.count()

    # global_shuffle: positions are exactly a permutation of 0..n-1
    pos = [r.pos for r in queries()["global_shuffle"](spark, SF_DIR).collect()]
    assert sorted(pos) == list(range(n_docs))

    # vocab_coverage: one row per doc; coverage is a valid fraction
    cov = queries()["vocab_coverage"](spark, SF_DIR).collect()
    assert len(cov) == n_docs
    assert all(0 <= r.coverage_x10000 <= 10000 for r in cov)
    assert all(0 <= r.n_in_vocab <= r.n_tok for r in cov)

    # doc_length_quartiles: quartiles ordered, outliers a strict minority
    for r in queries()["doc_length_quartiles"](spark, SF_DIR).collect():
        assert r.p25 <= r.p50 <= r.p75
        assert 0 <= r.n_outliers < r.n_docs

    # bpe_pair_counts: exactly 20 two-char pairs, sorted by count desc
    pairs = queries()["bpe_pair_counts"](spark, SF_DIR).collect()
    assert len(pairs) == 20
    assert all(len(r.pair) == 2 and r.n > 0 for r in pairs)
    assert [r.n for r in pairs] == sorted((r.n for r in pairs), reverse=True)

    # key_skew_profile: top-20, shares are valid and ordered
    skew = queries()["key_skew_profile"](spark, SF_DIR).collect()
    assert len(skew) == 20
    assert all(0 <= r.pct_x10000 <= 10000 for r in skew)
    assert [r.n for r in skew] == sorted((r.n for r in skew), reverse=True)


def test_scd_type2_interval_chain(spark):
    """SCD2 versions per user: contiguous version numbers, chained
    [from, to) intervals, one open current row, collapsed runs."""
    from data_engineering_assessment_spark.plans import queries

    rows = queries()["scd_type2"](spark, SF_DIR).collect()
    n_events = spark.read.parquet(f"{SF_DIR}/events.parquet").count()
    assert sum(r.n_events for r in rows) == n_events

    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    for vs in by_user.values():
        vs.sort(key=lambda r: r.version)
        assert [r.version for r in vs] == list(range(1, len(vs) + 1))
        for a, b in zip(vs, vs[1:]):
            assert a.valid_to_s == b.valid_from_s  # no gaps, no overlap
            assert not a.is_current
            assert a.status != b.status  # runs were collapsed
        assert vs[-1].is_current and vs[-1].valid_to_s == 253402300800


def test_snapshot_diff_partitions_keyspace(spark):
    """The CDC diff classes exactly partition the v2 keyspace: v2 holds
    every order (deletes only exist in v1), so 'removed' never appears
    and added/changed/unchanged counts are closed-form."""
    from pyspark.sql import functions as F

    from data_engineering_assessment_spark.plans import queries

    diff = {r.change_type: r.n for r in queries()["snapshot_diff"](spark, SF_DIR).collect()}
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    n = o.count()
    n_added = o.filter(F.col("o_orderkey") % 97 == 0).count()
    n_changed = o.filter(
        (F.col("o_orderkey") % 89 == 0) & (F.col("o_orderkey") % 97 != 0)
    ).count()
    assert diff.get("added", 0) == n_added
    assert diff.get("changed", 0) == n_changed
    assert "removed" not in diff
    assert sum(diff.values()) == n


def test_rank_basket_gap_invariants(spark):
    """Structural invariants for quantile_normalize,
    market_basket_pairs, and ts_gap_detect (values are oracle-checked)."""
    from data_engineering_assessment_spark.plans import queries

    qn = queries()["quantile_normalize"](spark, SF_DIR)
    n_vecs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").count()
    # each dimension holds a full 1..n rank permutation
    per_dim = qn.groupBy("dim").agg(
        F.count("*").alias("n"),
        F.min("rank").alias("lo"),
        F.max("rank").alias("hi"),
        F.count_distinct("rank").alias("nd"),
    ).collect()
    assert all(r.n == n_vecs and r.lo == 1 and r.hi == n_vecs and r.nd == n_vecs for r in per_dim)
    assert qn.filter((F.col("pct_x10000") < 0) | (F.col("pct_x10000") > 10000)).count() == 0

    mb = queries()["market_basket_pairs"](spark, SF_DIR).collect()
    assert all(r.brand_a < r.brand_b and r.n_orders > 0 for r in mb)

    gaps = queries()["ts_gap_detect"](spark, SF_DIR).collect()
    for r in gaps:
        assert r.span_hours == r.active_hours + r.missing_hours
        assert 0 <= r.longest_gap_hours <= r.missing_hours


def test_composite_pareto_hotspot_invariants(spark):
    """Structural checks for corpus_build_pipeline,
    pareto_revenue_share, event_error_hotspots (values oracle-checked)."""
    from data_engineering_assessment_spark.plans import queries

    rep = queries()["corpus_build_pipeline"](spark, SF_DIR).collect()
    n_kept = queries()["text_quality_filter"](spark, SF_DIR).count()
    assert {r.split for r in rep} <= {"train", "valid", "test"}
    # dedup only removes rows from the filtered set
    assert 0 < sum(r.n_docs for r in rep) <= n_kept

    p = queries()["pareto_revenue_share"](spark, SF_DIR).collect()
    assert len(p) == 1
    r = p[0]
    assert 1 <= r.n_top_customers <= r.n_customers
    assert r.covered_x100 * 2 >= r.total_x100
    assert r.covered_x100 <= r.total_x100

    hot = queries()["event_error_hotspots"](spark, SF_DIR).collect()
    assert all(0 <= h.error_rate_x10000 <= 10000 for h in hot)
    assert all(h.n_errors <= h.n_events for h in hot)
    assert any(not h.is_hotspot for h in hot)


def test_lis_matches_bruteforce(spark):
    """applyInPandas LIS == the O(n²) reference DP on every user."""
    from data_engineering_assessment_spark.plans import queries
    from data_engineering_assessment_spark.sources.tables import load_table

    got = {r.user_id: r for r in queries()["seq_lis_per_user"](spark, SF_DIR).collect()}
    rows = (
        load_table(spark, SF_DIR, "events")
        .select("user_id", F.col("ts").cast("timestamp").cast("long").alias("ts_s"),
                "event_id", "value")
        .collect()
    )
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    assert set(by_user) == set(got)
    for uid, evs in by_user.items():
        evs.sort(key=lambda r: (r.ts_s, r.event_id))
        vals = [r.value for r in evs]
        best = [1] * len(vals)
        for i in range(len(vals)):
            for j in range(i):
                if vals[j] < vals[i]:
                    best[i] = max(best[i], best[j] + 1)
        assert got[uid].lis_len == (max(best) if best else 0), uid
        assert got[uid].n_events == len(vals)


def test_pca_fit_project_invariants(spark):
    """Components are orthonormal, eigenvalues sort descending, the
    projected variance matches the eigenvalues, and reconstruction
    error shrinks as k grows."""
    import numpy as np

    from data_engineering_assessment_spark.operators.pca import pca_fit, pca_project
    from data_engineering_assessment_spark.sources.tables import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    mean, comps, vals = pca_fit(emb, "embedding", k=8)
    d = mean.shape[0]
    assert comps.shape == (d, 8) and vals.shape == (8,)
    # orthonormal columns
    assert np.allclose(comps.T @ comps, np.eye(8), atol=1e-8)
    # descending explained variance, all non-negative
    assert all(vals[i] >= vals[i + 1] >= -1e-12 for i in range(7))

    rows = pca_project(emb, mean, comps, "embedding", "pca").select("pca").collect()
    p = np.array([r["pca"] for r in rows])
    # per-component variance of the projection == eigenvalue
    assert np.allclose(p.var(axis=0), vals, rtol=1e-6, atol=1e-9)

    # reconstruction error is monotone non-increasing in k
    x = np.array(
        [r["embedding"] for r in emb.select("embedding").collect()], dtype=np.float64
    ) - mean
    errs = []
    for k in (2, 4, 8):
        w = comps[:, :k]
        errs.append(float(((x - (x @ w) @ w.T) ** 2).sum()))
    assert errs[0] >= errs[1] >= errs[2]

    # deterministic across refits on the same data
    mean2, comps2, vals2 = pca_fit(emb, "embedding", k=8)
    assert np.allclose(comps, comps2, atol=1e-9)


def test_hll_partitioned_estimates_within_tolerance(spark):
    """Sketch estimates track exact distincts within HLL's expected
    error at lgK=12 (~1.6% rse; assert 5% for slack), and the final
    cumulative estimate tracks the all-time exact distinct."""
    import __spark_entry__ as E
    from pyspark.sql import functions as F

    from data_engineering_assessment_spark.sources.tables import load_table

    rows = E.queries()["agg_hll_partitioned"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert abs(r.est_month - r.exact_month) <= max(2, 0.05 * r.exact_month)
    exact_total = (
        load_table(spark, SF_DIR, "orders").select("o_custkey").distinct().count()
    )
    final_cum = max(rows, key=lambda r: r.month_s).est_cum
    assert abs(final_cum - exact_total) <= max(2, 0.05 * exact_total)


def test_pq_ann_recall_and_exact_rescore(spark):
    """PQ ANN: the refined short list recovers most true neighbors
    (deterministic 0.93 recall@3 on this corpus at m=16/ksub=32/
    refine=16) and every returned neighbor carries its TRUE cosine
    (the exact-rescore property — ADC error can cost recall, never
    score accuracy)."""
    from data_engineering_assessment_spark.operators.pq import pq_ann_topk
    from data_engineering_assessment_spark.operators.similarity import cosine_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10)
    brute = cosine_topk(emb, q, k=3).collect()
    bs = {}
    for r in brute:
        bs.setdefault(r.q_id, set()).add(r.neighbor_id)
    got = pq_ann_topk(emb, q, k=3, m=16, ksub=32, refine=16).collect()
    ps = {}
    for r in got:
        ps.setdefault(r.q_id, set()).add(r.neighbor_id)
    recall = [len(bs[k] & ps.get(k, set())) / len(bs[k]) for k in bs]
    assert sum(recall) / len(recall) >= 0.8

    truth = {
        (r.q_id, r.neighbor_id): r.cosine_micro
        for r in cosine_topk(emb, q, k=499).collect()
    }
    for r in got:
        assert (r.q_id, r.neighbor_id) in truth
        assert abs(r.cosine_micro - truth[(r.q_id, r.neighbor_id)]) <= 2


def test_pq_ann_empty_query_batch(spark):
    """Both PQ entry points return an empty, correctly-typed frame on
    an empty query batch instead of crashing on 1-D numpy axis math
    (ADVICE r8)."""
    from data_engineering_assessment_spark.operators.pq import (
        ivfpq_ann_topk,
        pq_ann_topk,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    none = emb.filter(F.col("vec_id") < 0)
    for fn in (pq_ann_topk, ivfpq_ann_topk):
        out = fn(emb, none, k=3)
        assert out.columns == ["q_id", "neighbor_id", "rank", "cosine_micro"]
        assert out.count() == 0


def test_pq_codebooks_shape_and_determinism(spark):
    from data_engineering_assessment_spark.operators.pq import train_pq_codebooks

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    b1 = train_pq_codebooks(emb, m=4, ksub=8, n_iter=2)
    b2 = train_pq_codebooks(emb, m=4, ksub=8, n_iter=2)
    assert b1.shape == (4, 8, 16)
    import numpy as np

    assert np.array_equal(b1, b2)  # same seeds, exact averages
    # partitioning must not leak into the codebooks: the training
    # sample is sorted by xxhash64(id) before any summation
    b3 = train_pq_codebooks(emb.repartition(7), m=4, ksub=8, n_iter=2)
    assert np.array_equal(b1, b3)


def test_jsonl_quarantine_routes_bad_lines(spark, tmp_path):
    """PERMISSIVE + _corrupt_record: good rows parse, bad lines are
    captured verbatim in the quarantine column, nothing is dropped."""
    from pyspark.sql import types as T

    p = tmp_path / "q.json"
    p.write_text(
        '{"doc_id": 1, "lang": "en", "text": "alpha"}\n'
        "THIS IS NOT JSON\n"
        '{"doc_id": 2, "lang": "fr", "text": "beta"}\n'
        '{"doc_id": broken!!\n'
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("lang", T.StringType()),
            T.StructField("text", T.StringType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    raw = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(str(p))
        .cache()  # SPARK-21610: can't filter solely on the corrupt column of a raw scan
    )
    good = raw.filter(F.col("_corrupt_record").isNull())
    bad = raw.filter(F.col("_corrupt_record").isNotNull())
    assert sorted(r.doc_id for r in good.collect()) == [1, 2]
    assert bad.count() == 2
    assert {r._corrupt_record for r in bad.collect()} == {
        "THIS IS NOT JSON",
        '{"doc_id": broken!!',
    }


def test_corpus_text_is_ascii_for_frame_oracle(spark):
    """multimodal_frames' DuckDB oracle slices VARCHAR positions as if
    they were payload bytes — sound only while the corpus text is pure
    ASCII (octet_length == char length).  Assert it per shipped SF so
    a future non-ASCII corpus fails loudly here, not as a silent
    digest mismatch."""
    import glob as g

    from pyspark.sql import functions as F

    from data_engineering_assessment_spark.sources.tables import load_table

    for sf_dir in sorted(g.glob("/root/testdata/sf*")):
        excess = (
            load_table(spark, sf_dir, "documents")
            .agg(
                F.max(
                    F.octet_length(F.col("text").cast("binary")) - F.length("text")
                )
            )
            .collect()[0][0]
        )
        assert excess == 0, f"{sf_dir}: non-ASCII text breaks the frames oracle"


def test_containment_detects_fragment_direction(spark):
    """A short doc fully quoted inside a long one is flagged in the
    fragment→container direction only (the asymmetry Jaccard misses)."""
    from data_engineering_assessment_spark.operators.dedup import containment_pairs

    frag = "alpha beta gamma delta epsilon zeta"
    container = frag + " " + " ".join(f"w{i}" for i in range(60))
    docs = spark.createDataFrame(
        [(1, frag), (2, container), (3, "totally unrelated words only here now")],
        "doc_id long, text string",
    )
    rows = {(r.doc_a, r.doc_b): r for r in containment_pairs(docs).collect()}
    assert (1, 2) in rows  # fragment contained in container
    assert rows[(1, 2)].containment_micro == 1_000_000
    assert (2, 1) not in rows  # container not contained in fragment
    assert not any(3 in p for p in rows)


def test_mg_merge_capacity_and_undercount_only():
    from data_engineering_assessment_spark.operators.sketches import mg_merge

    acc: dict[str, int] = {}
    exact: dict[str, int] = {}
    random.seed(7)
    for _ in range(40):
        batch: dict[str, int] = {}
        for _ in range(30):
            t = f"t{random.randint(0, 99)}"
            batch[t] = batch.get(t, 0) + random.randint(1, 5)
        for t, c in batch.items():
            exact[t] = exact.get(t, 0) + c
        acc = mg_merge(acc, batch, capacity=20)
    assert len(acc) <= 20
    for t, est in acc.items():
        assert est <= exact[t]  # MG only ever undercounts


def test_heavy_hitters_exact_and_partition_invariant(spark):
    """The sketch-guided output equals the brute-force answer and is
    identical under different partitionings (the MG candidate set may
    differ; the verified output must not)."""
    from data_engineering_assessment_spark.operators.sketches import heavy_hitters
    from data_engineering_assessment_spark.functions.text import words
    from data_engineering_assessment_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents")
    tokens = docs.select(F.explode(words("text")).alias("tok"))
    exact = {
        (r.tok, r.n)
        for r in tokens.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
        if r.n * 50 > tokens.count()
    }
    for parts in (1, 7):
        got = {
            (r.tok, r.n)
            for r in heavy_hitters(tokens.repartition(parts), k=50).collect()
        }
        assert got == exact


def test_mg_superset_guarantee_property():
    """Property: after folding any stream through mg_merge, every item
    with true count > N/(capacity+1) is still present — the guarantee
    heavy_hitters' candidate pass relies on."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from data_engineering_assessment_spark.operators.sketches import mg_merge

    @settings(max_examples=200, deadline=None)
    @given(
        st.lists(st.integers(min_value=0, max_value=30), min_size=1, max_size=400),
        st.integers(min_value=2, max_value=12),
        st.integers(min_value=1, max_value=50),
    )
    def prop(stream, capacity, batch_size):
        acc: dict[str, int] = {}
        exact: dict[str, int] = {}
        for i in range(0, len(stream), batch_size):
            batch: dict[str, int] = {}
            for x in stream[i : i + batch_size]:
                t = f"t{x}"
                batch[t] = batch.get(t, 0) + 1
                exact[t] = exact.get(t, 0) + 1
            acc = mg_merge(acc, batch, capacity)
        n = len(stream)
        for t, c in exact.items():
            if c * (capacity + 1) > n:
                assert t in acc, (t, c, n, capacity)

    prop()


def test_kll_quantile_sketch_accuracy(spark):
    """KLL guarantees RANK error, not value error (it returns real
    order statistics; with an 18-row bucket one rank step can be a
    big value jump) — so assert the exact rank of each estimate sits
    near its target quantile."""
    import __spark_entry__ as E
    from data_engineering_assessment_spark.sources.tables import load_table

    rows = E.queries()["agg_kll_quantiles"](spark, SF_DIR).collect()
    assert rows
    o = load_table(spark, SF_DIR, "orders").select(
        F.expr(
            "cast(cast(o_orderdate as timestamp) as long) "
            "- cast(cast(o_orderdate as timestamp) as long) % 2592000"
        ).alias("month_s"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    by_month = {}
    for r in o.collect():
        by_month.setdefault(r.month_s, []).append(r.cents)

    def rank_of(values, est):
        values = sorted(values)
        return sum(1 for v in values if v <= est) / len(values)

    months = sorted(by_month)
    for r in rows:
        vals = by_month[r.month_s]
        # per-bucket median: rank within one order-stat step of 0.5
        assert abs(rank_of(vals, r.est_p50) - 0.5) <= 0.5 / len(vals) + 0.02, r
        cum_vals = [v for m in months if m <= r.month_s for v in by_month[m]]
        assert abs(rank_of(cum_vals, r.cum_p50) - 0.5) <= 0.5 / len(cum_vals) + 0.02
        assert abs(rank_of(cum_vals, r.cum_p95) - 0.95) <= 0.5 / len(cum_vals) + 0.02
        assert r.cum_p95 >= r.cum_p50


def test_theta_set_algebra_accuracy(spark):
    """Theta intersection/difference estimates track exact distinct
    overlap counts month-over-month, and the inclusion-exclusion
    identity holds on the estimates themselves."""
    import __spark_entry__ as E
    from data_engineering_assessment_spark.sources.tables import load_table

    got = {r.month_s: r for r in
           E.queries()["agg_theta_customer_overlap"](spark, SF_DIR).collect()}
    assert got
    o = load_table(spark, SF_DIR, "orders").select(
        F.expr(
            "cast(cast(o_orderdate as timestamp) as long) "
            "- cast(cast(o_orderdate as timestamp) as long) % 2592000"
        ).alias("month_s"),
        "o_custkey",
    )
    months = {r.month_s: {x.o_custkey for x in o.filter(F.col("month_s") == r.month_s)
                          .select("o_custkey").distinct().collect()}
              for r in o.select("month_s").distinct().collect()}
    checked = 0
    for month_s, r in got.items():
        prev = months.get(month_s - 2592000)
        cur = months.get(month_s)
        if prev is None or cur is None:
            continue
        exact_ret, exact_new = len(cur & prev), len(cur - prev)
        tol = lambda x: max(0.06 * x, 3)  # noqa: E731
        assert abs(r.est_returning - exact_ret) <= tol(exact_ret), month_s
        assert abs(r.est_new - exact_new) <= tol(exact_new), month_s
        # inclusion-exclusion on the estimates (same sketch family)
        assert abs((r.est_prev + r.est_cur - r.est_returning) - r.est_union) <= tol(
            r.est_union
        )
        checked += 1
    assert checked >= 3


def test_pagerank_shuffled_rank_join_equals_broadcast(spark, monkeypatch):
    """Past BF_BROADCAST_MAX_NODES the PageRank round joins the rank
    side by a shuffled hash join instead of broadcasting it; the ranks
    are identical."""
    from data_engineering_assessment_spark.plans import analytics

    want = sorted(analytics.graph_pagerank(spark, SF_DIR).collect())
    monkeypatch.setattr(analytics, "BF_BROADCAST_MAX_NODES", 0)
    shuffled = analytics.graph_pagerank(spark, SF_DIR)
    assert "ShuffledHashJoin" in shuffled._jdf.queryExecution().executedPlan().toString()
    assert sorted(shuffled.collect()) == want


def test_pagerank_converged_matches_unrolled_oracle(spark):
    """The convergence variant stops early AND its exact-integer
    ranks equal the fixed-round recurrence run for the same number of
    rounds — verified cross-engine by generating the mechanically
    unrolled DuckDB oracle at the variant's own n_rounds."""
    from data_engineering_assessment_spark.plans.analytics import (
        _pagerank_oracle,
        graph_pagerank_converged,
    )
    from tests.oracle_utils import duck_connection

    got = graph_pagerank_converged(spark, SF_DIR).collect()
    n_rounds = got[0]["n_rounds"]
    assert 1 <= n_rounds < 20  # strictly below the cap: the exit FIRED
    assert len({r["n_rounds"] for r in got}) == 1
    con = duck_connection(SF_DIR)
    try:
        oracle = {
            (row[0], row[1]): row[2]
            for row in con.sql(_pagerank_oracle(n_rounds)).fetchall()
        }
    finally:
        con.close()
    mine = {(r["node"], r["is_customer"]): r["rank_e12"] for r in got}
    assert mine == oracle


# ---------------------------------------------------------------------------
# Substring-level dedup (planted duplicated spans)
# ---------------------------------------------------------------------------


def _substr_corpus(spark):
    """Hand-built corpus with every substring-dedup case planted:

    - docs 1 and 2 share an exact 10-token span (tokens d1..d10) →
      three duplicated 8-token windows per doc, whose interval union
      covers exactly those 10 positions;
    - doc 3 is entirely unique;
    - doc 4 has 5 tokens — too short to hold any window;
    - doc 5 repeats one 8-token phrase WITHIN itself (positions 1-8
      and 11-18) → within-doc duplication must count too.
    """
    shared = " ".join(f"d{i}" for i in range(1, 11))  # 10 tokens
    phrase = " ".join(f"r{i}" for i in range(1, 9))  # 8 tokens
    rows = [
        (1, f"a1 a2 a3 {shared} a4 a5"),  # 15 tokens, span at 4..13
        (2, f"b1 {shared} b2 b3 b4"),  # 14 tokens, span at 2..11
        (3, " ".join(f"u{i}" for i in range(1, 13))),  # 12 unique tokens
        (4, "s1 s2 s3 s4 s5"),  # 5 tokens, no windows
        (5, f"{phrase} x1 x2 {phrase} x3"),  # 19 tokens, spans 1-8, 11-18
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_substring_spans_planted(spark):
    from data_engineering_assessment_spark.operators.dedup import (
        substring_window_index,
    )

    base, dupw = substring_window_index(_substr_corpus(spark), k=8)
    rows = dupw.collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r.s)
    for v in by_doc.values():
        v.sort()
    # doc 1: shared span occupies positions 4..13 → window starts 4,5,6
    # doc 2: positions 2..11 → starts 2,3,4
    # doc 5: phrase at 1..8 and 11..18 → starts 1 and 11
    assert by_doc == {1: [4, 5, 6], 2: [2, 3, 4], 5: [1, 11]}
    assert base.count() == 5  # short doc included in the base


def test_substring_removal_planted(spark, tmp_path):
    """End-to-end through the registered keys on a staged parquet —
    the cleaned text must equal the hand-computed token drop."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_engineering_assessment_spark.plans.pipeline import (
        dedup_substring_removal,
        dedup_substring_spans,
    )

    docs = _substr_corpus(spark).toPandas()
    docs["lang"] = "en"
    docs["source"] = "test"
    docs["n_chars"] = docs["text"].str.len()
    pq.write_table(
        pa.Table.from_pandas(docs, preserve_index=False),
        str(tmp_path / "documents.parquet"),
    )
    spans = {
        r["doc_id"]: r.asDict()
        for r in dedup_substring_spans(spark, str(tmp_path)).collect()
    }
    assert spans[1]["dup_tokens"] == 10 and spans[1]["n_dup_windows"] == 3
    assert spans[2]["dup_tokens"] == 10 and spans[2]["clean_tokens"] == 4
    assert spans[3]["n_dup_windows"] == 0 and spans[3]["clean_tokens"] == 12
    assert spans[4]["n_windows"] == 0 and spans[4]["dup_tokens"] == 0
    assert spans[5]["dup_tokens"] == 16 and spans[5]["n_dup_windows"] == 2

    removal = {
        r["doc_id"]: r.asDict()
        for r in dedup_substring_removal(spark, str(tmp_path)).collect()
    }
    import hashlib

    def h(s):
        return hashlib.md5(s.encode()).hexdigest()

    # doc 1 keeps the 3 leading + 2 trailing context tokens
    assert removal[1]["clean_tokens"] == 5
    assert removal[1]["clean_md5"] == h("a1 a2 a3 a4 a5")
    # doc 2 keeps b1..b4 in order
    assert removal[2]["clean_md5"] == h("b1 b2 b3 b4")
    # doc 3 untouched — cleaned text is the original
    assert removal[3]["clean_md5"] == h(" ".join(f"u{i}" for i in range(1, 13)))
    # doc 4 too short for any window — kept whole
    assert removal[4]["clean_tokens"] == 5 and removal[4]["clean_md5"] == h(
        "s1 s2 s3 s4 s5"
    )
    # doc 5 loses both phrase occurrences, keeps the x tokens
    assert removal[5]["clean_md5"] == h("x1 x2 x3")
    assert removal[5]["clean_chars"] == len("x1 x2 x3")


def test_auto_bucket_bits_bounds_occupancy_across_scale_notches():
    """SCALING_SF1 plane-count rule, executable: with auto-sizing the
    EXPECTED bucket occupancy n / 2^bits stays within 2× of the target
    at every notch from sf0.1 to 1000× that, while a FIXED plane count
    lets it grow linearly (the flagged failure mode)."""
    from data_engineering_assessment_spark.operators.similarity import (
        auto_bucket_bits,
    )

    target = 64
    fixed_bits = auto_bucket_bits(2_000, target)  # sf0.1-sized corpus
    for n in (2_000, 20_000, 200_000, 2_000_000):
        bits = auto_bucket_bits(n, target)
        assert n / (1 << bits) <= 2 * target, (n, bits)
        # sanity: the rule grows ~log2 with n
        assert bits >= fixed_bits
    # the un-sized counterfactual: occupancy at 1000× with sf0.1 bits
    assert 2_000_000 / (1 << fixed_bits) > 10 * target


def test_lsh_auto_sizing_keeps_small_corpus_behavior(spark):
    """The auto-sized default must floor at the historical plane
    counts on bounded corpora, so graded sf0.01 outputs are identical:
    planted-pair recall and the LSH ⊆ exact containment both hold
    under the default (auto) parameters."""
    vecs = _planted_vectors(spark)
    exact = {
        (r.id_a, r.id_b) for r in cosine_near_dup_pairs(vecs, threshold=0.4).collect()
    }
    approx = {
        (r.id_a, r.id_b) for r in cosine_near_dup_lsh(vecs, threshold=0.4).collect()
    }
    assert (1000, 1001) in approx
    assert approx <= exact


def test_substring_longest_span_and_spectrum_planted(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_engineering_assessment_spark.plans.pipeline import (
        dedup_longest_dup_span,
        dedup_window_freq_spectrum,
    )

    docs = _substr_corpus(spark).toPandas()
    docs["lang"] = "en"
    docs["source"] = "test"
    docs["n_chars"] = docs["text"].str.len()
    pq.write_table(
        pa.Table.from_pandas(docs, preserve_index=False),
        str(tmp_path / "documents.parquet"),
    )
    spans = {
        r["doc_id"]: (r["longest_dup_span"], r["n_dup_spans"])
        for r in dedup_longest_dup_span(spark, str(tmp_path)).collect()
    }
    # docs 1/2: one merged 10-token run; doc 5: two 8-token runs
    assert spans == {1: (10, 1), 2: (10, 1), 3: (0, 0), 4: (0, 0), 5: (8, 2)}

    spec = {
        r["dup_bucket_log2"]: (r["n_windows"], r["n_occurrences"])
        for r in dedup_window_freq_spectrum(spark, str(tmp_path)).collect()
    }
    # 32 window occurrences total: 3 cross-doc + 1 within-doc window
    # text each occur twice (bucket 1); the other 24 are unique
    assert spec == {0: (24, 24), 1: (4, 8)}


def test_substring_incremental_planted_and_index_reuse(spark, tmp_path):
    """Planted split corpus pinning the incremental substring-dedup
    semantics AND the materialize-once contract: (a) a delta window
    is duplicated via BASE membership (doc 1 repeats base doc 4's
    window) or via WITHIN-DELTA repetition (docs 2/3 share text),
    never by chance; (b) the persisted digest index holds exactly
    the base's distinct windows (1 — the three other base docs are
    shorter than k); (c) mutating the BASE text after the index is
    built changes nothing — the base is never re-digested, only the
    new shard's windows are scanned per increment."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_engineering_assessment_spark.plans.pipeline import (
        dedup_substring_incremental,
    )
    from data_engineering_assessment_spark.sources.layout import (
        versioned_scratch_tag,
    )

    # md5(doc_id) first hex: 4/6/7/9 -> base ('a','1','8','4'),
    # 1/2/3/5/8/10 -> delta ('c','c','e','e','c','d')
    texts = {
        4: "a b c d e f g h",            # base: the one indexed window
        6: "short base doc",             # base, < 8 tokens
        7: "also tiny",                  # base, < 8 tokens
        9: "base filler text here",      # base, < 8 tokens
        1: "a b c d e f g h tail1",      # delta: window 1 dup IN BASE
        2: "p q r s t u v w2",           # delta: dup WITHIN delta (=3)
        3: "p q r s t u v w2",
        5: "z1 z2 z3 z4 z5 z6 z7 z8",    # delta: unique
        8: "tiny delta",                 # delta, < 8 tokens
        10: "u1 u2 u3",                  # delta, < 8 tokens
    }

    def write_docs(t):
        docs = pd.DataFrame(
            [(i, txt, "en", "test", len(txt)) for i, txt in sorted(t.items())],
            columns=["doc_id", "text", "lang", "source", "n_chars"],
        )
        pq.write_table(
            pa.Table.from_pandas(docs, preserve_index=False),
            str(tmp_path / "documents.parquet"),
        )

    write_docs(texts)
    expected = {
        1: (9, 2, 1, 8, 1),
        2: (8, 1, 1, 8, 0),
        3: (8, 1, 1, 8, 0),
        5: (8, 1, 0, 0, 8),
        8: (2, 0, 0, 0, 2),
        10: (3, 0, 0, 0, 3),
    }

    def run():
        return {
            r["doc_id"]: (
                r["n_tokens"],
                r["n_windows"],
                r["n_dup_windows"],
                r["dup_tokens"],
                r["clean_tokens"],
            )
            for r in dedup_substring_incremental(spark, str(tmp_path)).collect()
        }

    assert run() == expected

    # (b) the digest index holds exactly the base's 1 distinct window
    from data_engineering_assessment_spark.operators import dedup as dedup_ops

    import hashlib

    tag = versioned_scratch_tag(
        str(tmp_path),
        dedup_substring_incremental,
        dedup_ops,
        extra=("h", "32", "h STRING"),  # bucket spec rides the tag (r13)
    )
    corp = hashlib.md5(str(tmp_path).encode()).hexdigest()[:6]
    assert spark.table(f"ssidx_{corp}_{tag}").count() == 1

    # (c) mutate the BASE after index build: if the implementation
    # re-digested the base, doc 1's in-base duplicate would vanish
    # and doc 4's new text would poison nothing — scoring must be
    # IDENTICAL because only the persisted index is consulted
    mutated = dict(texts)
    mutated[4] = "q1 q2 q3 q4 q5 q6 q7 q8 q9"
    write_docs(mutated)
    assert run() == expected
    assert spark.table(f"ssidx_{corp}_{tag}").count() == 1  # index untouched


def test_khop_reach_planted_frontiers(spark, tmp_path):
    """Planted trade graph with known BFS frontiers: customer 1 (node
    2) is the only seed (custkey < 5 present); suppliers s1,s2 sit at
    hop 1, customer 6 (via s1) at hop 2, supplier s3 (via c6) at hop
    3; customer 9/supplier 9 form a disconnected island that must
    never be reached."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_engineering_assessment_spark.plans.analytics import graph_khop_reach

    # orders: (orderkey, custkey); lineitem: (orderkey, suppkey)
    orders = pd.DataFrame(
        [(100, 1), (101, 1), (102, 6), (103, 9)],
        columns=["o_orderkey", "o_custkey"],
    )
    # l_extendedprice present (real lineitem always carries it; the
    # shared _trade_edges layout derives weights from it) but the
    # values are irrelevant to the unweighted reach semantics
    lineitem = pd.DataFrame(
        [(100, 1, 1.0), (101, 2, 1.0), (102, 1, 1.0), (102, 3, 1.0), (103, 9, 1.0)],
        columns=["l_orderkey", "l_suppkey", "l_extendedprice"],
    )
    pq.write_table(
        pa.Table.from_pandas(orders, preserve_index=False),
        str(tmp_path / "orders.parquet"),
    )
    pq.write_table(
        pa.Table.from_pandas(lineitem, preserve_index=False),
        str(tmp_path / "lineitem.parquet"),
    )
    got = {r["hop"]: r["n_reached"] for r in
           graph_khop_reach(spark, str(tmp_path)).collect()}
    # seed: node 2 (cust 1).  hop1: supp 1 (node 3), supp 2 (node 5).
    # hop2: cust 6 (node 12, via supp 1).  hop3: supp 3 (node 7).
    # island (cust 9 / supp 9) unreachable at any hop.
    assert got == {0: 1, 1: 2, 2: 1, 3: 1}


def _write_hand_trade_graph(tmp_path) -> dict[int, int]:
    """Write the hand-computed weighted trade graph (orders+lineitem
    parquet) into ``tmp_path`` and return the expected 3-round
    Bellman–Ford costs from seed node 2.

    Edges (cents): (2,3)=100, (2,5)=1000, (12,3)=200, (12,5)=100,
    (12,7)=50, (16,5)=10.  3 rounds from seed {2}:
      d1: 2=0, 3=100, 5=1000
      d2: + 12=300 (2→3→12), 16=1010 (2→5→16)
      d3: 5 improves to 400 (2→3→12→5), + 7=350 (2→3→12→7);
          16 would improve to 410 only at round 4 — stays 1010"""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    # customers: 1 (seed, node 2), 6 (node 12), 8 (node 16)
    # suppliers: 1 (node 3), 2 (node 5), 3 (node 7)
    orders = pd.DataFrame(
        [(100, 1), (101, 6), (102, 8)],
        columns=["o_orderkey", "o_custkey"],
    )
    lineitem = pd.DataFrame(
        [
            # cust1: s1 at 1.00 (and a pricier 3.00 trade that MIN ignores), s2 at 10.00
            (100, 1, 1.00),
            (100, 1, 3.00),
            (100, 2, 10.00),
            # cust6: s1 at 2.00, s2 at 1.00, s3 at 0.50
            (101, 1, 2.00),
            (101, 2, 1.00),
            (101, 3, 0.50),
            # cust8: s2 at 0.10
            (102, 2, 0.10),
        ],
        columns=["l_orderkey", "l_suppkey", "l_extendedprice"],
    )
    pq.write_table(
        pa.Table.from_pandas(orders, preserve_index=False),
        str(tmp_path / "orders.parquet"),
    )
    pq.write_table(
        pa.Table.from_pandas(lineitem, preserve_index=False),
        str(tmp_path / "lineitem.parquet"),
    )
    return {2: 0, 3: 100, 12: 300, 7: 350, 5: 400, 16: 1010}


def test_shortest_cost_k_planted_hand_graph(spark, tmp_path):
    """Planted weighted trade graph with hand-computed 3-round
    Bellman–Ford costs, pinning three semantics at once: (a) the
    relaxation takes a CHEAPER 3-edge path over a direct edge (node 5:
    400 via 2→3→12→5 beats the 1000 direct edge), (b) the fixed round
    bound is load-bearing (node 16 keeps its 2-edge 1010 cost — the
    cheaper 4-edge path 2→3→12→5→16 = 410 must NOT be taken), and
    (c) per-pair edge weight is the MIN trade in cents."""
    from data_engineering_assessment_spark.plans.analytics import (
        graph_shortest_cost_k,
    )

    expected = _write_hand_trade_graph(tmp_path)
    got = {
        r["node"]: r["cost_cents"]
        for r in graph_shortest_cost_k(spark, str(tmp_path)).collect()
    }
    assert got == expected


def test_shortest_cost_k_smj_fallback_equals_broadcast(spark, tmp_path):
    """The Bellman–Ford relax join has two physical strategies gated
    on the layout's exact node count (BF_BROADCAST_MAX_NODES): the
    broadcast-hash probe of the node-sized cost table (graded default
    below the bound) and the un-hinted SMJ against the bucket-sorted
    edge table past broadcast reach (the fallback must be CODE, not
    a comment).  Both branches must produce
    identical costs; the fallback run disables
    autoBroadcastJoinThreshold so AQE cannot sneak a broadcast back in
    and the relax joins genuinely execute the non-broadcast plan."""
    from data_engineering_assessment_spark.plans import analytics

    expected = _write_hand_trade_graph(tmp_path)
    orig_flag = analytics.BF_BROADCAST_COSTS
    orig_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        analytics.BF_BROADCAST_COSTS = True
        bcast = {
            r["node"]: r["cost_cents"]
            for r in analytics.graph_shortest_cost_k(spark, str(tmp_path)).collect()
        }
        analytics.BF_BROADCAST_COSTS = False
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        smj = {
            r["node"]: r["cost_cents"]
            for r in analytics.graph_shortest_cost_k(spark, str(tmp_path)).collect()
        }
    finally:
        analytics.BF_BROADCAST_COSTS = orig_flag
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", orig_thresh)
    assert smj == bcast == expected


def test_graph_keys_share_one_edge_layout(spark, tmp_path):
    """The amortization claim of the round-12 layout: graph_khop_reach
    and graph_shortest_cost_k materialize and consume the SAME
    per-corpus edge family — running both against one corpus leaves
    exactly one edges_w dir for it, khop builds it and Bellman-Ford
    reuses it (no second build), and both answers stay correct."""
    import glob
    import json
    import os

    from data_engineering_assessment_spark.plans.analytics import (
        graph_khop_reach,
        graph_shortest_cost_k,
    )

    expected_costs = _write_hand_trade_graph(tmp_path)

    def families():
        return {
            os.path.dirname(mp)
            for mp in glob.glob(f"{layout.SCRATCH_ROOT}/edges_w_*/_scratch_meta.json")
            if json.load(open(mp)).get("src") == str(tmp_path)
        }

    khop = {r["hop"]: r["n_reached"] for r in
            graph_khop_reach(spark, str(tmp_path)).collect()}
    fams = families()
    assert len(fams) == 1
    [fam] = fams
    mtimes = {f: os.path.getmtime(f) for f in glob.glob(f"{fam}/*.parquet")}
    costs = {r["node"]: r["cost_cents"] for r in
             graph_shortest_cost_k(spark, str(tmp_path)).collect()}
    assert costs == expected_costs
    # hand graph: seed node 2; hop1 = {3, 5}; hop2 = {12, 16}; hop3 = {7}
    assert khop == {0: 1, 1: 2, 2: 2, 3: 1}
    assert families() == {fam}
    assert {f: os.path.getmtime(f) for f in glob.glob(f"{fam}/*.parquet")} == mtimes


def test_trade_edges_layout_bucketed_and_reused(spark, tmp_path):
    """The shared trade-graph edge layout (round 12): (a) node count
    in the sidecar meta is exact, (b) a join on u against the layout
    plans with NO exchange and NO sort on the edge side (the bucket
    spec is what removes the per-round |E| shuffle at sf100), and
    (c) a fresh session (catalog entry dropped, files kept) re-reads
    the SAME files instead of rebuilding — the materialize-once
    contract."""
    import glob
    import os

    from data_engineering_assessment_spark.plans import analytics

    _write_hand_trade_graph(tmp_path)
    e1, n1 = analytics._trade_edges(spark, str(tmp_path))
    assert n1 == 6  # nodes 2, 3, 5, 7, 12, 16
    rows1 = sorted(tuple(r) for r in e1.collect())
    assert len(rows1) == 12  # 6 undirected pairs, symmetrized

    # (b) edge side of a u-join is exchange-free and sort-free
    probe = spark.range(3).select((F.col("id") * 2 + 2).alias("u"))
    orig_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = e1.join(probe.hint("merge"), "u")
        plan = joined._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", orig_thresh)
    assert "SortMergeJoin" in plan
    assert plan.count("Exchange") == 1, plan  # probe side only
    assert plan.count("Sort ") == 1, plan  # probe side only (buckets pre-sorted)

    # (c) catalog drop (fresh session) re-registers the same files
    from data_engineering_assessment_spark.sources.layout import (
        versioned_scratch_tag,
    )

    import hashlib

    tag = versioned_scratch_tag(
        str(tmp_path),
        analytics._trade_edges,
        extra=("u", str(analytics.EDGE_BUCKETS), "u BIGINT, v BIGINT, w BIGINT"),
    )
    corp = hashlib.md5(str(tmp_path).encode()).hexdigest()[:6]
    name = f"edges_w_{corp}_{tag}"
    files_before = {
        f: os.path.getmtime(f)
        for f in glob.glob(f"{layout.SCRATCH_ROOT}/{name}/*.parquet")
    }
    assert files_before
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    e2, n2 = analytics._trade_edges(spark, str(tmp_path))
    assert sorted(tuple(r) for r in e2.collect()) == rows1 and n2 == n1
    files_after = {
        f: os.path.getmtime(f)
        for f in glob.glob(f"{layout.SCRATCH_ROOT}/{name}/*.parquet")
    }
    assert files_after == files_before  # reused, not rebuilt


def test_split_time_holdout_planted_boundaries(spark, tmp_path):
    """Planted event log pinning the temporal-split semantics on both
    boundary edges: an event exactly at frontier-7d lands in the
    EMBARGO (eval is strictly later), an event exactly at frontier-8d
    lands in TRAIN (embargo is strictly later), and the leakage
    column counts exactly the users with events on both sides."""
    import datetime as dt

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_engineering_assessment_spark.plans.training import (
        split_time_holdout,
    )

    T = dt.datetime(2024, 1, 31, 0, 0, 0)
    d = dt.timedelta
    events = pd.DataFrame(
        [
            (1, T),                          # eval (frontier itself)
            (2, T - d(days=2)),              # eval
            (3, T - d(days=7, hours=1)),     # embargo (inside the gap)
            (5, T - d(days=7)),              # embargo: exactly -7d is NOT eval
            (1, T - d(days=8)),              # train: exactly -8d is NOT embargo
            (4, T - d(days=30)),             # train
            (4, T - d(days=20)),             # train
        ],
        columns=["user_id", "ts"],
    )
    pq.write_table(
        pa.Table.from_pandas(events, preserve_index=False),
        str(tmp_path / "events.parquet"),
    )
    got = {
        r["split"]: (r["n_events"], r["n_users"], r["n_users_also_in_train"])
        for r in split_time_holdout(spark, str(tmp_path)).collect()
    }
    # user 1 is the only one with events in BOTH train and eval
    assert got == {
        "eval": (2, 2, 1),
        "embargo": (2, 2, 0),
        "train": (3, 2, 2),
    }


def test_bigram_lm_incremental_fixed_model_planted(spark, tmp_path):
    """Planted split corpus pinning the FIXED-LM semantics: delta
    docs are scored under the base-trained bigram frequencies only —
    delta-internal repetitions add nothing (doc 2 repeats 'b a'
    within the shard but each occurrence scores the BASE freq 1),
    unseen pairs count 0 and are tallied as OOV, and mutating the
    base AFTER training changes no score (the model must not drift —
    the property that makes shard scores comparable over time)."""
    import hashlib

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_engineering_assessment_spark.plans.warehouse import (
        text_bigram_lm_incremental,
    )

    # md5(doc_id) first hex: 4/6/7/9 -> base, 1/2/3/5/8/10 -> delta
    texts = {
        4: "a b a b",   # base: 'a b' x2, 'b a' x1
        6: "a b c",     # base: 'a b' x1, 'b c' x1
        7: "x",         # base, no bigrams
        9: "y",         # base, no bigrams
        1: "a b c d",   # delta: 3+1+OOV
        2: "b a b a",   # delta: 'b a','a b','b a' -> 1+3+1
        3: "z z",       # delta: all OOV
        5: "q",         # delta, no bigrams -> absent
        8: "a b",       # delta: exactly one trained pair
        10: "c b",      # delta: order-sensitivity ('b c' trained, 'c b' is OOV)
    }

    def write_docs(t):
        docs = pd.DataFrame(
            sorted(t.items()), columns=["doc_id", "text"]
        )
        pq.write_table(
            pa.Table.from_pandas(docs, preserve_index=False),
            str(tmp_path / "documents.parquet"),
        )

    def run():
        return {
            r["doc_id"]: (
                r["n_bigrams"],
                r["freq_sum"],
                r["oov_bigrams"],
                r["lm_score_milli"],
            )
            for r in text_bigram_lm_incremental(spark, str(tmp_path)).collect()
        }

    write_docs(texts)
    # LM = {'a b': 3, 'b a': 1, 'b c': 1}
    expected = {
        1: (3, 4, 1, 1333),
        2: (3, 5, 0, 1666),
        3: (1, 0, 1, 0),
        8: (1, 3, 0, 3000),
        10: (1, 0, 1, 0),
    }
    assert run() == expected

    # fixed model: retraining on the mutated base would give 'z z'
    # freq 4 and change doc 3 — the persisted LM must not move
    mutated = dict(texts)
    mutated[4] = "z z z z z"
    write_docs(mutated)
    assert run() == expected


def test_bigram_lm_score_planted_counts(spark, tmp_path):
    """Tiny corpus with hand-counted bigram frequencies: repeated
    collocations raise the score, the order-sensitivity is pinned
    ('a b' and 'b a' are different bigrams), and a one-token doc has
    no bigrams and must be absent."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_engineering_assessment_spark.plans.warehouse import (
        text_bigram_lm_score,
    )

    docs = pd.DataFrame(
        [(1, "a b a b"), (2, "a b c"), (3, "x")],
        columns=["doc_id", "text"],
    )
    pq.write_table(
        pa.Table.from_pandas(docs, preserve_index=False),
        str(tmp_path / "documents.parquet"),
    )
    got = {
        r["doc_id"]: (r["n_bigrams"], r["freq_sum"], r["lm_score_milli"])
        for r in text_bigram_lm_score(spark, str(tmp_path)).collect()
    }
    # corpus bigram freqs: 'a b' x3 (two in doc1, one in doc2),
    # 'b a' x1, 'b c' x1
    assert got == {
        1: (3, 7, 2333),   # 3+1+3 = 7; 7000 // 3
        2: (2, 4, 2000),   # 3+1 = 4; 4000 // 2
    }


def test_minhash_incremental_planted_and_index_reuse(spark, tmp_path):
    """Planted split corpus pinning the incremental MinHash near-dup
    semantics (round 13) AND the fixed-model index
    contract: (a) a near-dup pair CROSSING the base/delta split is
    found via the persisted band index; (b) an exact dup WITHIN the
    delta is found via the delta self-join; (c) no pair is base-only
    (the base is probed, never self-joined — base-internal dedup
    happened when the base itself was ingested); (d) mutating the
    BASE text after the index is built changes nothing — the base is
    never re-sketched, only the new shard is scanned per increment."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_engineering_assessment_spark.plans.pipeline import (
        dedup_minhash_incremental,
    )

    long_a = "the quick brown fox jumps over the lazy dog again and again " * 3
    near_a = long_a.replace("lazy", "sleepy")
    dup = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 2
    # md5(doc_id) first hex: 4/6/7/9 -> base, 1/2/3/5 -> delta
    texts = {
        4: long_a,                                      # base near-dup source
        6: "completely different base words sharing nothing at all",
        7: "tiny base words here",
        9: "another base filler document entirely",
        1: near_a,                                      # delta: near-dup of base 4
        2: dup,                                         # delta: exact dup within delta
        3: dup,
        5: "delta unique text with its own vocabulary entirely",
    }

    def write_docs(t):
        docs = pd.DataFrame(
            [(i, txt, "en", "test", len(txt)) for i, txt in sorted(t.items())],
            columns=["doc_id", "text", "lang", "source", "n_chars"],
        )
        pq.write_table(
            pa.Table.from_pandas(docs, preserve_index=False),
            str(tmp_path / "documents.parquet"),
        )

    write_docs(texts)

    def run():
        return {
            (r["doc_a"], r["doc_b"]): r["est_jaccard"]
            for r in dedup_minhash_incremental(spark, str(tmp_path)).collect()
        }

    first = run()
    assert (1, 4) in first and first[(1, 4)] >= 0.5   # cross base/delta
    assert first[(2, 3)] == 1.0                        # within delta
    delta_ids = {1, 2, 3, 5}
    assert all(set(p) & delta_ids for p in first)      # never base-only

    # mutate the BASE after index build: if the implementation
    # re-sketched the base, pair (1, 4) would vanish — scoring must
    # be IDENTICAL because only the persisted index is consulted
    mutated = dict(texts)
    mutated[4] = "zz yy xx ww vv uu tt ss"
    write_docs(mutated)
    assert run() == first

    # cleanup: drop the planted-corpus scratch family (the reaper
    # will also collect it once tmp_path is gone)
    import glob
    import os
    import shutil

    for mp in glob.glob(f"{layout.SCRATCH_ROOT}/mhidx_*/_scratch_meta.json"):
        import json

        if json.load(open(mp)).get("src") == str(tmp_path):
            d = os.path.dirname(mp)
            spark.sql(f"DROP TABLE IF EXISTS {os.path.basename(d)}")
            shutil.rmtree(d, ignore_errors=True)


def test_minhash_incremental_recall_vs_exact_twin(spark):
    """Recall gate for the sketch tier (rows-only key): every exact
    3-gram-Jaccard >= 0.7 pair that involves a delta document must be
    among the incremental candidates at sf0.001.  The xxhash64 hash
    family is deterministic, so this is a fixed outcome (13/13 pairs
    when authored), not a probabilistic flake; at Jaccard >= 0.7 the
    16-hash/4-band banding's per-pair hit probability is ~0.97+."""
    import hashlib

    from data_engineering_assessment_spark.plans.pipeline import (
        dedup_minhash_incremental,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    exact = ngram_jaccard_pairs(docs, threshold=0.7).collect()

    def is_delta(i) -> bool:
        return hashlib.md5(str(i).encode()).hexdigest()[0] >= "c"

    want = {
        (r.doc_a, r.doc_b)
        for r in exact
        if is_delta(r.doc_a) or is_delta(r.doc_b)
    }
    assert want  # the corpus must actually contain delta-involved dups
    cand = {
        (r.doc_a, r.doc_b)
        for r in dedup_minhash_incremental(spark, SF_DIR).collect()
    }
    assert want <= cand


def test_minhash_index_layout_bucketed_probe_exchange_free(spark, tmp_path):
    """The persisted MinHash band index (round 13): a band-key probe
    against the layout plans with NO exchange and NO sort on the
    index side — the property that makes per-shard ingest cost
    O(delta + probe) instead of re-shuffling the base's |docs|×bands
    band rows every increment."""
    import hashlib

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_engineering_assessment_spark.operators import dedup as dedup_ops
    from data_engineering_assessment_spark.operators.dedup import minhash_banded
    from data_engineering_assessment_spark.plans.pipeline import (
        dedup_minhash_incremental,
    )
    from data_engineering_assessment_spark.sources.layout import (
        versioned_scratch_tag,
    )

    docs = pd.DataFrame(
        [(i, f"word{i} alpha beta gamma delta epsilon", "en", "t", 30)
         for i in range(1, 9)],
        columns=["doc_id", "text", "lang", "source", "n_chars"],
    )
    pq.write_table(
        pa.Table.from_pandas(docs, preserve_index=False),
        str(tmp_path / "documents.parquet"),
    )
    dedup_minhash_incremental(spark, str(tmp_path)).collect()  # builds index

    tag = versioned_scratch_tag(
        str(tmp_path),
        dedup_minhash_incremental,
        dedup_ops,
        extra=("bkey", "32", "bkey BIGINT, doc BIGINT, sig ARRAY<BIGINT>"),
    )
    corp = hashlib.md5(str(tmp_path).encode()).hexdigest()[:6]
    index = spark.table(f"mhidx_{corp}_{tag}")

    probe = minhash_banded(
        spark.createDataFrame([(99, "alpha beta gamma delta epsilon zeta")],
                              ["doc_id", "text"])
    ).select("bkey")
    orig = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = (
            index.join(probe.hint("merge"), "bkey")
            ._jdf.queryExecution().executedPlan().toString()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", orig)
    assert "SortMergeJoin" in plan
    assert "Bucketed: true" in plan
    assert plan.count("Exchange") == 1, plan  # probe side only
    assert plan.count("Sort ") == 1, plan  # probe side only (buckets pre-sorted)

    # cleanup
    import glob
    import json
    import os
    import shutil

    for mp in glob.glob(f"{layout.SCRATCH_ROOT}/mhidx_*/_scratch_meta.json"):
        if json.load(open(mp)).get("src") == str(tmp_path):
            d = os.path.dirname(mp)
            spark.sql(f"DROP TABLE IF EXISTS {os.path.basename(d)}")
            shutil.rmtree(d, ignore_errors=True)


def _write_embeddings(tmp_path, vecs: dict):
    """Write a planted embeddings.parquet: {vec_id: 64-float vector}."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    df = pd.DataFrame(
        [(i, list(map(float, v)), 0) for i, v in sorted(vecs.items())],
        columns=["vec_id", "embedding", "label"],
    )
    schema = pa.schema(
        [
            ("vec_id", pa.int64()),
            ("embedding", pa.list_(pa.float32())),
            ("label", pa.int32()),
        ]
    )
    pq.write_table(
        pa.Table.from_pandas(df, schema=schema, preserve_index=False),
        str(tmp_path / "embeddings.parquet"),
    )


def _drop_embed_inc_scratch(spark, tmp_path):
    import glob
    import json
    import os
    import shutil

    for fam in ("ehidx", "ehvec"):
        for mp in glob.glob(f"{layout.SCRATCH_ROOT}/{fam}_*/_scratch_meta.json"):
            if json.load(open(mp)).get("src") == str(tmp_path):
                d = os.path.dirname(mp)
                spark.sql(f"DROP TABLE IF EXISTS {os.path.basename(d)}")
                shutil.rmtree(d, ignore_errors=True)


def test_embed_incremental_planted_and_base_mutation_immutable(spark, tmp_path):
    """The incremental embedding tier (round 14): a planted cross
    base/delta near-dup pair and a planted intra-delta pair are both
    found; base-only pairs never appear; and mutating the BASE after
    the index build changes NOTHING — only the persisted hyperplane
    index and vector side table are consulted, never the live base
    rows (the fixed-model contract all four incremental tiers keep).

    md5-split at sf granularity: ids 4/6/7/9/11 are base ('<c'),
    ids 1/2/3/5/8 are delta ('>=c')."""
    import random

    from data_engineering_assessment_spark.plans.pipeline import (
        dedup_embed_incremental,
    )

    rng = random.Random(11)
    v = [rng.gauss(0, 1) for _ in range(64)]
    near = [x + 1e-3 * rng.gauss(0, 1) for x in v]
    u = [rng.gauss(0, 1) for _ in range(64)]
    vecs = {
        4: v,                                   # base
        1: near,                                # delta -> cross pair (1, 4)
        2: u,                                   # delta
        3: [x + 1e-3 * rng.gauss(0, 1) for x in u],  # delta -> intra (2, 3)
        6: [rng.gauss(0, 1) for _ in range(64)],     # base
        7: [rng.gauss(0, 1) for _ in range(64)],     # base
        9: [rng.gauss(0, 1) for _ in range(64)],     # base
        11: [rng.gauss(0, 1) for _ in range(64)],    # base
        5: [rng.gauss(0, 1) for _ in range(64)],     # delta
        8: [rng.gauss(0, 1) for _ in range(64)],     # delta
    }
    # make (6, 7) a BASE-ONLY near-dup: must never be emitted
    vecs[7] = [x + 1e-3 * rng.gauss(0, 1) for x in vecs[6]]
    _write_embeddings(tmp_path, vecs)

    def run():
        return {
            (r.id_a, r.id_b): r.cosine_micro
            for r in dedup_embed_incremental(spark, str(tmp_path)).collect()
        }

    first = run()
    assert (1, 4) in first and first[(1, 4)] > 990000   # cross base/delta
    assert (2, 3) in first and first[(2, 3)] > 990000   # within delta
    assert (6, 7) not in first                           # base-only: excluded
    delta_ids = {1, 2, 3, 5, 8}
    assert all(set(p) & delta_ids for p in first)

    # mutate the BASE after index build: if the implementation
    # re-signed or re-read the base, pair (1, 4) would vanish —
    # scoring must be IDENTICAL because only the persisted index and
    # side table are consulted.  The mutation ALSO grows the base
    # past the 16-plane auto-size boundary (>512 base vectors): an
    # implementation that re-derived the plane count from a live
    # corpus count instead of the index meta would hash the delta
    # with a different model and the planted pairs would vanish.
    import hashlib

    mutated = dict(vecs)
    mutated[4] = [-x for x in vecs[2]]
    extra_base = [
        i
        for i in range(100, 5000)
        if hashlib.md5(str(i).encode()).hexdigest()[0] < "c"
    ][:600]
    for i in extra_base:
        mutated[i] = [rng.gauss(0, 1) for _ in range(64)]
    _write_embeddings(tmp_path, mutated)
    assert run() == first

    _drop_embed_inc_scratch(spark, tmp_path)


def test_embed_incremental_subset_of_exact_and_delta_only(spark):
    """Recall/precision gates for the rows-only key at sf0.001: the
    incremental candidates are a SUBSET of the exact cosine pair set
    (precision — rescoring is exact, so nothing below the threshold
    survives), every emitted pair involves at least one delta vector,
    and the cosine_micro scores agree with the exact tier exactly
    (same double-precision formula on both paths)."""
    import hashlib

    from data_engineering_assessment_spark.plans.pipeline import (
        dedup_embed_incremental,
    )

    vecs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    exact = {
        (r.id_a, r.id_b): r.cosine_micro
        for r in cosine_near_dup_pairs(vecs, threshold=0.4).collect()
    }
    inc = {
        (r.id_a, r.id_b): r.cosine_micro
        for r in dedup_embed_incremental(spark, SF_DIR).collect()
    }
    assert inc  # the corpus must actually contain near-dups
    assert set(inc) <= set(exact)
    assert all(inc[p] == exact[p] for p in inc)

    def is_delta(i) -> bool:
        return hashlib.md5(str(i).encode()).hexdigest()[0] >= "c"

    assert all(is_delta(a) or is_delta(b) for a, b in inc)


def test_embed_incremental_index_probe_exchange_free(spark, tmp_path):
    """The persisted hyperplane probe index (round 14): a chunk-key
    probe against the layout plans with NO exchange and NO sort on
    the index side — the property that makes per-shard ingest cost
    O(delta + probe) instead of re-signing and re-shuffling the base
    every increment.  Same pin as the MinHash tier's
    test_minhash_index_layout_bucketed_probe_exchange_free."""
    import hashlib
    import random

    from data_engineering_assessment_spark.operators import similarity as sim_ops
    from data_engineering_assessment_spark.operators.similarity import (
        emb_inc_chunk_keys,
    )
    from data_engineering_assessment_spark.plans.pipeline import (
        _emb_inc_scored,
        dedup_embed_incremental,
    )
    from data_engineering_assessment_spark.sources.layout import (
        versioned_scratch_tag,
    )

    rng = random.Random(3)
    _write_embeddings(
        tmp_path, {i: [rng.gauss(0, 1) for _ in range(64)] for i in range(1, 9)}
    )
    dedup_embed_incremental(spark, str(tmp_path)).collect()  # builds layouts

    # the tag digests the SHARED scoring core (round 15: both the
    # pair-emitting and summary keys probe one index family)
    tag = versioned_scratch_tag(
        str(tmp_path),
        _emb_inc_scored,
        sim_ops,
        extra=("ckey", "32", "ckey BIGINT, doc BIGINT"),
    )
    corp = hashlib.md5(str(tmp_path).encode()).hexdigest()[:6]
    index = spark.table(f"ehidx_{corp}_{tag}")

    probe = (
        spark.range(1)
        .select(F.lit(12345).alias("sig"))
        .select(F.explode(emb_inc_chunk_keys("sig", 16)).alias("ckey"))
    )
    orig = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = (
            index.join(probe.hint("merge"), "ckey")
            ._jdf.queryExecution().executedPlan().toString()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", orig)
    assert "SortMergeJoin" in plan
    assert "Bucketed: true" in plan
    assert plan.count("Exchange") == 1, plan  # probe side only
    assert plan.count("Sort ") == 1, plan  # probe side only (buckets pre-sorted)

    _drop_embed_inc_scratch(spark, tmp_path)


def test_embed_incremental_probe_rebuilds_from_persisted_side(
    spark, tmp_path
):
    """Round-14 self-review fix: the probe index derives FROM the
    persisted side table, so a crash between the two index builds
    followed by a base mutation can never leave the pair hashed from
    two different corpora.  Simulated: full build, then delete ONLY
    the probe index (the crash-after-side state), mutate the base,
    re-run — the rebuilt probe must come from the persisted
    signatures, so output is identical."""
    import glob
    import json
    import os
    import random
    import shutil

    from data_engineering_assessment_spark.plans.pipeline import (
        dedup_embed_incremental,
    )

    rng = random.Random(23)
    v = [rng.gauss(0, 1) for _ in range(64)]
    vecs = {
        4: v,                                        # base
        1: [x + 1e-3 * rng.gauss(0, 1) for x in v],  # delta -> pair (1, 4)
        6: [rng.gauss(0, 1) for _ in range(64)],     # base
        2: [rng.gauss(0, 1) for _ in range(64)],     # delta
        3: [rng.gauss(0, 1) for _ in range(64)],     # delta
    }
    _write_embeddings(tmp_path, vecs)

    def run():
        return {
            (r.id_a, r.id_b): r.cosine_micro
            for r in dedup_embed_incremental(spark, str(tmp_path)).collect()
        }

    first = run()
    assert (1, 4) in first

    # crash-after-side state: probe index gone, side table persisted
    for mp in glob.glob(f"{layout.SCRATCH_ROOT}/ehidx_*/_scratch_meta.json"):
        if json.load(open(mp)).get("src") == str(tmp_path):
            d = os.path.dirname(mp)
            spark.sql(f"DROP TABLE IF EXISTS {os.path.basename(d)}")
            shutil.rmtree(d, ignore_errors=True)
    # base mutated BEFORE the probe rebuild: a rebuild from the live
    # corpus would hash doc 4's new vector and lose the planted pair
    mutated = dict(vecs)
    mutated[4] = [-x for x in vecs[2]]
    _write_embeddings(tmp_path, mutated)

    assert run() == first

    _drop_embed_inc_scratch(spark, tmp_path)


def test_embed_incremental_summary_contains_pairs(spark):
    """Round-15 bounded-output mode:
    dedup_embed_incremental_summary must be EXACTLY the per-delta-doc
    fold of the pair-emitting key — one row per delta doc appearing
    in any pair, n_dups = its pair count, best_match/best_cosine =
    the keep-best reduction (highest cosine, ties to the smallest
    partner id).  No invented rows, no dropped docs, identical
    cosine_micro scores — the summary is a projection of the pair
    contract, never a different model."""
    import hashlib
    from collections import defaultdict

    from data_engineering_assessment_spark.plans.pipeline import (
        dedup_embed_incremental,
        dedup_embed_incremental_summary,
    )

    pairs = dedup_embed_incremental(spark, SF_DIR).collect()
    assert pairs  # the corpus must actually contain near-dups
    per = defaultdict(list)
    for r in pairs:
        for doc, partner in ((r.id_a, r.id_b), (r.id_b, r.id_a)):
            if hashlib.md5(str(doc).encode()).hexdigest()[0] >= "c":
                per[doc].append((partner, r.cosine_micro))

    summary = {
        r.doc: r for r in dedup_embed_incremental_summary(spark, SF_DIR).collect()
    }
    assert set(summary) == set(per)
    for doc, partners in per.items():
        s = summary[doc]
        assert s.n_dups == len(partners)
        best_cos = max(c for _, c in partners)
        best_partner = min(p for p, c in partners if c == best_cos)
        assert (s.best_match, s.best_cosine_micro) == (best_partner, best_cos)


def test_single_file_write_replaces_parallel_output_dir(spark, tmp_path):
    """``write_parquet(single_file=True)`` over a path an earlier
    parallel write left as a directory replaces that directory with
    the merged file (it used to raise IsADirectoryError), and the
    reverse overwrite still works."""
    import os

    from data_engineering_assessment_spark.sources.parquet_io import write_parquet

    path = str(tmp_path / "out.parquet")
    first = spark.range(0, 50).repartition(3)
    write_parquet(first, path, single_file=False)
    assert os.path.isdir(path)

    second = spark.range(100, 130).repartition(2)
    write_parquet(second, path, single_file=True)
    assert os.path.isfile(path)
    assert sorted(r.id for r in spark.read.parquet(path).collect()) == list(range(100, 130))

    write_parquet(first, path, single_file=False)
    assert os.path.isdir(path)
    assert spark.read.parquet(path).count() == 50
