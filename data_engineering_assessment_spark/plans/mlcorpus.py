"""Round-7 LLM-corpus operators: the curation stages a training-data
pipeline runs between raw crawl and tokenized shards.

Completes three ladders the earlier modules started:

- dedup: exact → fuzzy → **semantic** ([[dedup_semantic_cluster]]),
  plus prefix dedup and the end-to-end survivorship funnel;
- quality: heuristic stats → **model-shaped gate**
  ([[quality_weighted_gate]]) → curriculum / quota / balance
  sampling;
- packaging: token counts → **one-plan tokenize→pack→shard**
  ([[tokenize_pack_shard]]) → temperature mixing weights.

Output contract (README round-3): every graded column is BIGINT /
STRING / BOOLEAN fixed-point; ratios are exact integer ppm/milli
(`x * 1_000_000 div y`), logs are avoided entirely (ln() is not
bit-portable across libms — the log-free formulations keep the same
orderings with exact integers), and the only doubles ever compared
are single IEEE ops on identical operands (sqrt, dot-product folds in
index order — the [[dedup_embed_cosine]] precedent).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import (
    TOKEN_PATTERN,
    bpe_ish_token_count,
    fingerprint_bag,
    shingles_of,
    stopword_count,
    uniq_word_count,
    word_count,
    words,
)
from ..operators.similarity import dot, norm_sq
from ..sources.tables import load_table, spread
from .registry import query


def _md5_str(col: str) -> F.Column:
    """md5 hex of the value's string form — the [[shard_assign]]
    deterministic-ordering idiom (DuckDB: md5(CAST(x AS VARCHAR)))."""
    return F.md5(F.col(col).cast("string").cast("binary"))


def _cents(col: str) -> F.Column:
    """Exact money cents (DuckDB: CAST(CAST(x AS DECIMAL(12,2)) * 100
    AS BIGINT))."""
    return (F.col(col).cast("decimal(12,2)") * 100).cast("long")


# ---------------------------------------------------------------------------
# Dedup ladder: semantic tier + prefix tier + the funnel
# ---------------------------------------------------------------------------


@query(
    "dedup_semantic_cluster",
    oracle="""
    WITH v AS (
      SELECT vec_id, embedding,
             list_sum(list_transform(embedding,
                      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nsq
      FROM embeddings
    ), seeds AS (
      SELECT vec_id AS seed_id, embedding AS s_vec, nsq AS s_nsq
      FROM v WHERE vec_id < 8
    ), scored AS (
      SELECT v.vec_id, s.seed_id,
             list_sum(list_transform(range(1, 65),
                      i -> CAST(v.embedding[i] AS DOUBLE) * CAST(s.s_vec[i] AS DOUBLE)))
               / (sqrt(v.nsq) * sqrt(s.s_nsq)) AS cos
      FROM v CROSS JOIN seeds s
    ), assigned AS (
      SELECT vec_id, seed_id, cos,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY cos DESC, seed_id) AS rn
      FROM scored
    )
    SELECT seed_id AS cluster_id,
           count(*) AS n_members,
           CAST(count(*) FILTER (WHERE vec_id != seed_id AND cos >= 0.2)
                AS BIGINT) AS n_near,
           CAST(SUM(CAST(FLOOR(cos * 1e6) AS BIGINT)) AS BIGINT) AS sum_cos_micro
    FROM assigned WHERE rn = 1
    GROUP BY cluster_id
    """,
)
def dedup_semantic_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup — the tier above [[dedup_exact]] (byte-level)
    and [[dedup_ngram_jaccard]] (lexical): every embedding is assigned
    to its nearest of K=8 seed centroids (cosine, deterministic
    tiebreak on smaller seed id), and each cluster reports its member
    count, how many members sit within cosine ≥ 0.2 of the seed (the
    semantic near-dup candidates a curation pass would collapse), and
    the exact micro-quantized cosine mass.

    Scale: the seed side is K rows — broadcast; scoring is one narrow
    pass over the corpus (cost O(n·K·d), the same shape k-means
    assignment takes on any cluster), one shuffle on cluster_id for
    the aggregate.  Vectors never leave the JVM; the fold-order dot
    product matches the oracle bit-for-bit (the [[dedup_embed_cosine]]
    precedent).  Full k-means would iterate this exact plan."""
    e = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", "embedding", norm_sq("embedding").alias("nsq")
    )
    seeds = (
        e.filter(F.col("vec_id") < 8)
        .select(
            F.col("vec_id").alias("seed_id"),
            F.col("embedding").alias("s_vec"),
            F.col("nsq").alias("s_nsq"),
        )
    )
    cos = dot("embedding", "s_vec") / (F.sqrt("nsq") * F.sqrt("s_nsq"))
    scored = e.crossJoin(F.broadcast(seeds)).select(
        "vec_id", "seed_id", cos.alias("cos")
    )
    rn = F.row_number().over(
        Window.partitionBy("vec_id").orderBy(F.desc("cos"), F.asc("seed_id"))
    )
    assigned = scored.withColumn("rn", rn).filter(F.col("rn") == 1)
    return assigned.groupBy(F.col("seed_id").alias("cluster_id")).agg(
        F.count("*").alias("n_members"),
        F.count_if((F.col("vec_id") != F.col("seed_id")) & (F.col("cos") >= 0.2))
        .cast("long")
        .alias("n_near"),
        F.sum(F.floor(F.col("cos") * 1e6)).cast("long").alias("sum_cos_micro"),
    )


@query(
    "dedup_prefix_exact",
    oracle="""
    WITH g AS (
      SELECT left(text, 32) AS pfx, count(*) AS n
      FROM documents GROUP BY pfx
    )
    SELECT CAST(SUM(n) AS BIGINT) AS n_docs,
           count(*) AS n_groups,
           CAST(SUM(n) - count(*) AS BIGINT) AS n_dup_docs,
           CAST(MAX(n) AS BIGINT) AS max_group
    FROM g
    """,
)
def dedup_prefix_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix dedup — the cheap first-pass crawls run before any
    shingling: documents sharing their first 32 characters collapse to
    one group (truncation/pagination dups, boilerplate-led mirrors).
    One summary row: corpus size, surviving groups, docs a prefix
    pass would drop, and the largest collision group.

    Scale: ONE hash-groupBy shuffle on a 32-byte key (map-side
    combined), then a single-row re-agg — the cheapest possible dedup
    shape; the 32-char substring prunes to scan width."""
    g = (
        load_table(spark, sf_dir, "documents")
        .groupBy(F.substring("text", 1, 32).alias("pfx"))
        .agg(F.count("*").alias("n"))
    )
    return g.agg(
        F.sum("n").cast("long").alias("n_docs"),
        F.count("*").alias("n_groups"),
        (F.sum("n") - F.count("*")).cast("long").alias("n_dup_docs"),
        F.max("n").cast("long").alias("max_group"),
    )


@query(
    "dedup_survivorship",
    oracle="""
    WITH ex AS (  -- stage 1: exact (bag-fingerprint) dedup, keep min doc_id
      SELECT MIN(doc_id) AS doc_id
      FROM (SELECT doc_id,
                   md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp
            FROM documents)
      GROUP BY fp
    ), pf AS (  -- stage 2: 32-char-prefix dedup of the survivors
      SELECT MIN(d.doc_id) AS doc_id
      FROM documents d JOIN ex ON d.doc_id = ex.doc_id
      GROUP BY left(d.text, 32)
    ), w AS (
      SELECT d.doc_id, string_split(d.text, ' ') AS ws
      FROM documents d JOIN pf ON d.doc_id = pf.doc_id
    ), sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(ws) - 1),
                           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingles
      FROM w WHERE len(ws) >= 3
    ), e2 AS (
      SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS sh FROM sh
    ), dropped AS (  -- stage 3: drop d if an EARLIER prefix-survivor is >= 0.5-Jaccard
      SELECT DISTINCT b.doc_id
      FROM (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   a.n_sh AS n_a, b.n_sh AS n_b, count(*) AS inter
            FROM e2 a JOIN e2 b ON a.sh = b.sh AND a.doc_id < b.doc_id
            GROUP BY 1, 2, 3, 4) p
      JOIN pf b ON b.doc_id = p.doc_b
      WHERE CAST(inter AS DOUBLE) / CAST(n_a + n_b - inter AS DOUBLE) >= 0.5
    )
    SELECT (SELECT count(*) FROM documents) AS n_total,
           (SELECT count(*) FROM ex) AS n_after_exact,
           (SELECT count(*) FROM pf) AS n_after_prefix,
           (SELECT count(*) FROM pf) - (SELECT count(*) FROM dropped)
             AS n_after_jaccard
    """,
)
def dedup_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup funnel as ONE plan — the survivor count after each
    stage a real curation pipeline chains: exact bag-fingerprint dedup
    → 32-char-prefix dedup → 3-gram-Jaccard near-dup removal (a doc
    is dropped iff an earlier surviving doc is ≥ 0.5-similar — the
    deterministic non-iterative rule).  One row, four BIGINTs: the
    headline numbers of every dedup ablation table.

    Scale: stage 1 and 2 are hash-groupBys; stage 3 reuses the
    inverted shingle index ([[dedup_ngram_jaccard]]) on the already-
    shrunk survivor set — never all-pairs (the O(n²) join lives only
    in this oracle).  The posting index is persisted before the
    self-join (the `_materialized` discipline from operators/dedup.py
    — without it BOTH join sides re-run the whole exact+prefix funnel
    upstream; measured ~2× end-to-end), and the join predicate
    carries the size-compatibility bound (Jaccard ≥ 0.5 forces
    |A|/2 ≤ |B| ≤ 2|A|), which provably cannot change the result but
    prunes the pair stream before the aggregate.  The four counts are
    single-row aggregates combined with broadcast scalar joins."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # MATERIALIZE the funnel stages (r15, guide §1.2/§5): `ex` feeds
    # both the prefix stage and its own count, `pf` feeds the shingle
    # stage and its own count — without materialization each count
    # re-runs the bag-fingerprint groupBy (md5 over per-doc sorted
    # word sets, the expensive part) upstream of it.  Both frames are
    # post-groupBy (shuffled) doc_id-only lists, so the lazily-
    # checkpointed blocks are tiny and reliable; the single output
    # action materializes each exactly once, in-job.
    ex = (
        docs.select("doc_id", fingerprint_bag("text").alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
        .localCheckpoint(eager=False)
    )
    pf = (
        docs.join(ex, "doc_id")
        .groupBy(F.substring("text", 1, 32).alias("pfx"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
        .localCheckpoint(eager=False)
    )
    surv = docs.join(pf, "doc_id")
    ws = surv.select("doc_id", words("text").alias("ws")).filter(F.size("ws") >= 3)
    sh = ws.select("doc_id", shingles_of(F.col("ws")).alias("shingles"))
    from ..operators.dedup import _materialized

    ex2 = _materialized(
        sh.select(
            "doc_id", F.size("shingles").alias("n_sh"), F.explode("shingles").alias("sh")
        )
    )
    a, b = ex2.alias("a"), ex2.alias("b")
    size_ok = (F.col("a.n_sh") * 2 >= F.col("b.n_sh")) & (
        F.col("b.n_sh") * 2 >= F.col("a.n_sh")
    )
    pairs = (
        a.join(
            b.hint("shuffle_hash"),
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & size_ok,
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n_sh").alias("n_a"),
            F.col("b.n_sh").alias("n_b"),
        )
        .agg(F.count("*").alias("inter"))
    )
    jacc = F.col("inter").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("inter")
    ).cast("double")
    dropped = (
        pairs.filter(jacc >= 0.5).select(F.col("doc_b").alias("doc_id")).distinct()
    )
    c_total = docs.agg(F.count("*").alias("n_total"))
    c_ex = ex.agg(F.count("*").alias("n_after_exact"))
    c_pf = pf.agg(F.count("*").alias("n_after_prefix"))
    c_dr = dropped.agg(F.count("*").alias("n_dropped"))
    return (
        c_total.crossJoin(F.broadcast(c_ex))
        .crossJoin(F.broadcast(c_pf))
        .crossJoin(F.broadcast(c_dr))
        .select(
            "n_total",
            "n_after_exact",
            "n_after_prefix",
            (F.col("n_after_prefix") - F.col("n_dropped")).alias("n_after_jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# Quality gate + curriculum + quotas + balance
# ---------------------------------------------------------------------------


@query(
    "quality_weighted_gate",
    oracle="""
    WITH f AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_words,
             len(list_distinct(string_split(text, ' '))) AS n_uniq,
             len(list_filter(string_split(text, ' '),
                 w -> list_contains(['the','a','of','and','to','in'], w))) AS n_stop
      FROM documents
    )
    SELECT doc_id,
           CAST(2 * (n_stop * 1000000 // n_words)
                + (n_uniq * 1000000 // n_words)
                + 500 * LEAST(n_words, 60) AS BIGINT) AS score,
           (2 * (n_stop * 1000000 // n_words)
                + (n_uniq * 1000000 // n_words)
                + 500 * LEAST(n_words, 60)) >= 600000 AS pass
    FROM f
    """,
)
def quality_weighted_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-shaped quality gate — the closed-form stand-in for a
    FineWeb-style fastText/logistic quality classifier: an integer-
    weighted linear score over scan-time features (stopword density,
    lexical diversity, length with saturation), thresholded into a
    keep/drop bit.  A sigmoid is monotone in the linear score, so the
    classification is IDENTICAL to the logistic model's at this
    threshold — but every intermediate is an exact integer (ppm
    ratios), so the gate bit can never flip across engines.

    Scale: pure per-row expressions at scan speed — no shuffle, no
    Python; the real-model swap-in point is a batched pandas_udf
    scoring the same columns."""
    d = load_table(spark, sf_dir, "documents")
    nw = word_count("text")
    f = d.select(
        "doc_id",
        nw.alias("n_words"),
        uniq_word_count("text").alias("n_uniq"),
        stopword_count("text").alias("n_stop"),
    )
    score = (
        F.lit(2) * F.expr("n_stop * 1000000 div n_words")
        + F.expr("n_uniq * 1000000 div n_words")
        + F.lit(500) * F.least(F.col("n_words"), F.lit(60))
    ).cast("long")
    return f.select(
        "doc_id", score.alias("score"), (score >= 600000).alias("pass")
    )


@query(
    "tokenize_pack_shard",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             left(md5(CAST(doc_id AS VARCHAR)), 1) AS shard,
             len(regexp_extract_all(text, '{TOKEN_PATTERN}')) AS n_tok
      FROM documents
      WHERE len(string_split(text, ' ')) >= 20
    ), o AS (
      SELECT shard, doc_id, n_tok,
             COALESCE(SUM(n_tok) OVER (
               PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
      FROM t
    )
    SELECT shard,
           count(*) AS n_docs,
           CAST(count(DISTINCT off // 512) AS BIGINT) AS n_packs,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens
    FROM o GROUP BY shard
    """,
)
def tokenize_pack_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The serving end of the pipeline as ONE Catalyst plan: quality
    filter (≥ 20 words) → BPE-ish tokenize → md5 shard assignment (16
    shards) → greedy 512-token sequence packing by in-shard prefix
    sum → per-shard manifest (docs, packs, token mass).  Composes
    [[token_count]], [[seq_pack_chunks]] and [[shard_assign]] the way
    [[corpus_build_pipeline]] composed the curation stages — the
    whole thing is filters, projections, one window, one groupBy.

    Scale: the only shuffle is the per-shard window + aggregate, both
    partitioned on the 16-way shard key (salt the shard count up for
    more executors); the tokenizer is a native regexp at scan speed.
    The prefix-sum pack id is the [[seq_pack_chunks]] per-shard
    offset scheme — no driver state, no global sort."""
    t = (
        load_table(spark, sf_dir, "documents")
        .filter(word_count("text") >= 20)
        .select(
            "doc_id",
            _md5_str("doc_id").substr(1, 1).alias("shard"),
            bpe_ish_token_count("text").alias("n_tok"),
        )
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    o = t.withColumn("off", F.coalesce(F.sum("n_tok").over(w), F.lit(0)))
    return o.groupBy("shard").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct(F.expr("off div 512")).cast("long").alias("n_packs"),
        F.sum("n_tok").cast("long").alias("total_tokens"),
    )


@query(
    "contamination_matrix",
    oracle="""
    WITH w AS (
      SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents
      WHERE len(string_split(text, ' ')) >= 3
    ), sh AS (
      SELECT DISTINCT source,
             unnest(list_distinct(list_transform(range(1, len(ws) - 1),
                    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS sh
      FROM w
    ), sz AS (
      SELECT source, count(*) AS n_sh FROM sh GROUP BY source
    ), p AS (
      SELECT a.source AS source_a, b.source AS source_b, count(*) AS inter
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT p.source_a, p.source_b,
           CAST(p.inter AS BIGINT) AS shared_ngrams,
           CAST(p.inter * 1000000 // (za.n_sh + zb.n_sh - p.inter) AS BIGINT)
             AS jaccard_ppm
    FROM p
    JOIN sz za ON za.source = p.source_a
    JOIN sz zb ON zb.source = p.source_b
    """,
)
def contamination_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus contamination at the n-gram level: for every
    source pair, how many distinct word 3-grams they share and the
    exact ppm Jaccard of their shingle sets — the train/eval-split
    audit that catches PARTIAL leakage [[source_overlap_matrix]]'s
    whole-document fingerprints cannot see (a doc quoting another
    corpus shares shingles, not fingerprints).

    Scale: distinct (source, shingle) postings first (one shuffle,
    map-side combined), then the self-join is EQUI on the shingle —
    pair fan-out is Σ sources-per-shingle², bounded by |sources|²
    per shingle, never corpus²; the per-source set sizes broadcast.

    The posting set is LAZILY CHECKPOINTED (r16, guide §1.2/§5): it
    feeds the per-source sizes AND both self-join sides — without the
    checkpoint the shingle explode + distinct re-ran for the sz branch
    (the join's two sides already shared one exchange via
    ReuseExchange).  A/B best-of-4 at sf0.1: 2.18 → 1.88 s (second
    session 3.08 → 2.47), identical matrix."""
    d = load_table(spark, sf_dir, "documents")
    ws = d.select("source", words("text").alias("ws")).filter(F.size("ws") >= 3)
    sh = (
        ws.select("source", F.explode(shingles_of(F.col("ws"))).alias("sh"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    sz = sh.groupBy("source").agg(F.count("*").alias("n_sh"))
    a = sh.select(F.col("source").alias("source_a"), "sh")
    b = sh.select(F.col("source").alias("source_b"), "sh")
    p = (
        a.join(b, "sh")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("inter"))
    )
    za = sz.select(F.col("source").alias("source_a"), F.col("n_sh").alias("n_a"))
    zb = sz.select(F.col("source").alias("source_b"), F.col("n_sh").alias("n_b"))
    return (
        p.join(F.broadcast(za), "source_a")
        .join(F.broadcast(zb), "source_b")
        .select(
            "source_a",
            "source_b",
            F.col("inter").cast("long").alias("shared_ngrams"),
            F.expr("inter * 1000000 div (n_a + n_b - inter)")
            .cast("long")
            .alias("jaccard_ppm"),
        )
    )


@query(
    "token_drift_slices",
    oracle="""
    WITH tok AS (
      SELECT doc_id // 100 AS slice, unnest(string_split(text, ' ')) AS tok
      FROM documents
    ), c AS (
      SELECT slice, tok, count(*) AS c FROM tok GROUP BY slice, tok
    ), r AS (
      SELECT slice, tok,
             row_number() OVER (PARTITION BY slice ORDER BY c DESC, tok) AS rn
      FROM c
    ), top AS (
      SELECT slice, tok FROM r WHERE rn <= 10
    )
    SELECT b.slice AS slice,
           CAST(count(*) AS BIGINT) AS topk_inter,
           CAST(count(*) * 1000000 // (20 - count(*)) AS BIGINT)
             AS topk_jaccard_ppm
    FROM top a JOIN top b ON a.tok = b.tok AND b.slice = a.slice + 1
    GROUP BY b.slice
    """,
)
def token_drift_slices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary drift across corpus slices — the heavy-hitter set of
    each 100-doc slice (top-10 tokens, deterministic count/token
    tiebreak) compared with the previous slice's: intersection size
    and exact ppm Jaccard of consecutive top-k sets.  The monitoring
    signal that catches topic/source drift as a crawl progresses —
    falling consecutive-slice Jaccard is the alarm.

    Scale: per-slice token counts are one map-side-combined shuffle;
    the top-k window is per slice; the drift join is top-k set vs
    top-k set — k·|slices| rows, trivially broadcastable.  With a
    time column the slice key becomes the window start
    ([[token_heavy_hitters]] does the sketch-based single-set
    version)."""
    tok = load_table(spark, sf_dir, "documents").select(
        F.expr("doc_id div 100").alias("slice"),
        F.explode(words("text")).alias("tok"),
    )
    c = tok.groupBy("slice", "tok").agg(F.count("*").alias("c"))
    rn = F.row_number().over(
        Window.partitionBy("slice").orderBy(F.desc("c"), F.asc("tok"))
    )
    top = c.withColumn("rn", rn).filter(F.col("rn") <= 10).select("slice", "tok")
    a = top.select(F.col("slice").alias("slice_a"), "tok")
    b = top.select(F.col("slice").alias("slice"), "tok")
    return (
        a.join(b, (a.tok == b.tok) & (F.col("slice") == F.col("slice_a") + 1))
        .groupBy("slice")
        .agg(F.count("*").alias("topk_inter"))
        .select(
            "slice",
            F.col("topk_inter").cast("long").alias("topk_inter"),
            F.expr("topk_inter * 1000000 div (20 - topk_inter)")
            .cast("long")
            .alias("topk_jaccard_ppm"),
        )
    )


@query(
    "length_curriculum",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, len(regexp_extract_all(text, '{TOKEN_PATTERN}')) AS n_tok
      FROM documents
    ), s AS (
      SELECT doc_id, n_tok,
             ntile(4) OVER (ORDER BY n_tok, doc_id) AS stage
      FROM t
    ), agg AS (
      SELECT CAST(stage AS BIGINT) AS stage,
             count(*) AS n_docs,
             CAST(MIN(n_tok) AS BIGINT) AS min_tok,
             CAST(MAX(n_tok) AS BIGINT) AS max_tok,
             CAST(SUM(n_tok) AS BIGINT) AS stage_tokens
      FROM s GROUP BY stage
    )
    SELECT stage, n_docs, min_tok, max_tok, stage_tokens,
           CAST(SUM(stage_tokens) OVER (ORDER BY stage) AS BIGINT)
             AS cum_tokens
    FROM agg
    """,
)
def length_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-based curriculum stages: documents quartiled by BPE-ish
    token count (deterministic (n_tok, doc_id) order), each stage
    reporting its doc count, token range, token mass, and the
    cumulative token budget a shortest-first curriculum schedule
    would have consumed by the end of that stage.

    Scale: the ntile needs a total order, but never a
    single-partition window (round 15): the range-partitioned
    global-rank operator (operators/rankstats.py) ranks documents in
    parallel and NTILE(4) becomes exact integer arithmetic on
    (rank, N) — the oracle stays exactly portable.  The final
    cumulative window runs over 4 rows."""
    from ..operators.rankstats import global_order_stats, ntile_from_rank

    t = load_table(spark, sf_dir, "documents").select(
        "doc_id", bpe_ish_token_count("text").alias("n_tok")
    )
    ranked, totals = global_order_stats(t, [F.asc("n_tok"), F.asc("doc_id")])
    s = ranked.withColumn("stage", ntile_from_rank(4, totals["rows"]))
    agg = s.groupBy(F.col("stage").cast("long").alias("stage")).agg(
        F.count("*").alias("n_docs"),
        F.min("n_tok").cast("long").alias("min_tok"),
        F.max("n_tok").cast("long").alias("max_tok"),
        F.sum("n_tok").cast("long").alias("stage_tokens"),
    )
    cum = F.sum("stage_tokens").over(
        Window.orderBy("stage").rowsBetween(Window.unboundedPreceding, 0)
    )
    return agg.withColumn("cum_tokens", cum.cast("long"))


@query(
    "zstd_dict_sample",
    oracle="""
    WITH r AS (
      SELECT doc_id, n_chars, n_chars // 200 AS bucket,
             row_number() OVER (PARTITION BY n_chars // 200
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
               AS rk
      FROM documents
    ), c AS (
      SELECT bucket, doc_id, n_chars,
             SUM(n_chars) OVER (PARTITION BY bucket ORDER BY rk) AS cum_bytes
      FROM r
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           count(*) AS n_candidates,
           CAST(count(*) FILTER (WHERE cum_bytes <= 4000) AS BIGINT)
             AS n_selected,
           CAST(COALESCE(SUM(n_chars) FILTER (WHERE cum_bytes <= 4000), 0)
                AS BIGINT) AS bytes_selected
    FROM c GROUP BY bucket
    """,
)
def zstd_dict_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-dictionary training sample: a deterministic
    stratified byte-budget sample — docs bucketed by size (200-char
    strata so the dictionary sees all length regimes), ordered by md5
    rank within each bucket (unbiased, engine-stable), selected while
    the running byte total stays within the 4 KB per-bucket budget.
    Per bucket: candidates, selected docs, exact bytes taken — the
    manifest handed to `zstd --train`.

    Scale: one window per bucket (hash-partitioned), no sort beyond
    the per-bucket rank; the selection predicate is a running-sum
    filter — no driver collection of any text.  The actual dictionary
    build consumes the selected ids via a normal join."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", F.expr("n_chars div 200").alias("bucket")
    )
    rk = F.row_number().over(
        Window.partitionBy("bucket").orderBy(_md5_str("doc_id"), F.col("doc_id"))
    )
    r = d.withColumn("rk", rk)
    cum = F.sum("n_chars").over(
        Window.partitionBy("bucket").orderBy("rk").rowsBetween(
            Window.unboundedPreceding, 0
        )
    )
    c = r.withColumn("cum_bytes", cum)
    sel = F.col("cum_bytes") <= 4000
    return c.groupBy(F.col("bucket").cast("long").alias("bucket")).agg(
        F.count("*").alias("n_candidates"),
        F.count_if(sel).cast("long").alias("n_selected"),
        F.coalesce(F.sum(F.when(sel, F.col("n_chars"))), F.lit(0))
        .cast("long")
        .alias("bytes_selected"),
    )


# ---------------------------------------------------------------------------
# Text statistics: diversity, association, TTR
# ---------------------------------------------------------------------------


@query(
    "text_char_diversity",
    oracle="""
    WITH ch AS (
      SELECT doc_id, unnest(regexp_extract_all(text, '.')) AS ch
      FROM documents
    ), c AS (
      SELECT doc_id, ch, count(*) AS c FROM ch GROUP BY doc_id, ch
    )
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_chars_seen,
           count(*) AS n_uniq_chars,
           CAST(SUM(c * (c - 1)) * 1000000 // (SUM(c) * (SUM(c) - 1))
                AS BIGINT) AS simpson_ppm
    FROM c GROUP BY doc_id
    """,
)
def text_char_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character diversity via the Simpson collision
    index — the exact-integer, log-free stand-in for character
    entropy ([[text_rarity_score]] plays the same role for unigram
    perplexity): the ppm probability that two random character draws
    collide.  High collision = low diversity = binary junk, repeated
    padding, or single-char spam; the standard cheap junk filter
    before tokenization.

    Scale: explode to (doc, char) then two map-side-combined
    aggregations — counts are exact integers, the final ratio is one
    integer division; nothing floating-point anywhere."""
    ch = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.regexp_extract_all("text", F.lit("."), 0)).alias("ch")
    )
    c = ch.groupBy("doc_id", "ch").agg(F.count("*").alias("c"))
    return c.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_chars_seen"),
        F.count("*").alias("n_uniq_chars"),
        F.expr("SUM(c * (c - 1)) * 1000000 div (SUM(c) * (SUM(c) - 1))")
        .cast("long")
        .alias("simpson_ppm"),
    )


@query(
    "bigram_lift_topk",
    oracle="""
    WITH w AS (
      SELECT string_split(text, ' ') AS ws FROM documents
    ), bg AS (
      SELECT unnest(list_transform(range(1, len(ws)),
                    i -> ws[i] || ' ' || ws[i+1])) AS bigram
      FROM w WHERE len(ws) >= 2
    ), un AS (
      SELECT unnest(ws) AS tok FROM w
    ), cb AS (
      SELECT bigram, count(*) AS c_xy FROM bg GROUP BY bigram
    ), cu AS (
      SELECT tok, count(*) AS c FROM un GROUP BY tok
    ), scored AS (
      SELECT cb.bigram, cb.c_xy, cx.c AS c_x, cy.c AS c_y,
             cb.c_xy * 1000000 // (cx.c * cy.c) AS lift_ppm
      FROM cb
      JOIN cu cx ON cx.tok = string_split(cb.bigram, ' ')[1]
      JOIN cu cy ON cy.tok = string_split(cb.bigram, ' ')[2]
      WHERE cb.c_xy >= 10
    )
    SELECT bigram, CAST(c_xy AS BIGINT) AS c_xy, CAST(c_x AS BIGINT) AS c_x,
           CAST(c_y AS BIGINT) AS c_y, CAST(lift_ppm AS BIGINT) AS lift_ppm
    FROM scored
    ORDER BY lift_ppm DESC, bigram
    LIMIT 30
    """,
)
def bigram_lift_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: the corpus's top-30 word bigrams by lift
    (observed co-occurrence over the independence expectation), the
    signal tokenizer-vocabulary and phrase-mining passes rank merges
    by.  Log-free exact form: lift_ppm = c_xy·10⁶ div (c_x·c_y) —
    proportional to PMI's argument for a fixed corpus, identical
    ranking, exact integers ([[bpe_pair_counts]] counts the raw
    pairs; this key ranks them against independence).

    Scale: bigram and unigram counts are two map-side-combined
    shuffles over the token stream; the scoring joins are on single
    tokens (unigram side is vocabulary-sized — broadcastable); top-30
    is a global sort of the ≥10-count survivors only.  The integer
    product c_x·c_y needs DECIMAL partials past ~3·10⁹-token
    corpora."""
    d = load_table(spark, sf_dir, "documents").select(words("text").alias("ws"))
    d = d.select("ws")  # materialize split once (shingles_of perf note)
    idx = F.sequence(F.lit(1), F.size("ws") - 1)
    bigrams = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", F.element_at(F.col("ws"), i), F.element_at(F.col("ws"), i + 1)
        ),
    )
    bg = (
        d.filter(F.size("ws") >= 2)
        .select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("c_xy"))
        .filter(F.col("c_xy") >= 10)
    )
    cu = (
        d.select(F.explode("ws").alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
    )
    cx = cu.select(F.col("tok").alias("tok_x"), F.col("c").alias("c_x"))
    cy = cu.select(F.col("tok").alias("tok_y"), F.col("c").alias("c_y"))
    scored = (
        bg.withColumn("tok_x", F.split("bigram", " ").getItem(0))
        .withColumn("tok_y", F.split("bigram", " ").getItem(1))
        .join(F.broadcast(cx), "tok_x")
        .join(F.broadcast(cy), "tok_y")
        .select(
            "bigram",
            F.col("c_xy").cast("long").alias("c_xy"),
            F.col("c_x").cast("long").alias("c_x"),
            F.col("c_y").cast("long").alias("c_y"),
            F.expr("c_xy * 1000000 div (c_x * c_y)").cast("long").alias("lift_ppm"),
        )
    )
    return scored.orderBy(F.desc("lift_ppm"), F.asc("bigram")).limit(30)


@query(
    "text_ttr_buckets",
    oracle="""
    WITH t AS (
      SELECT doc_id, text, len(string_split(text, ' ')) AS n_words,
             ntile(10) OVER (ORDER BY len(string_split(text, ' ')), doc_id)
               AS decile
      FROM documents
    ), tok AS (
      SELECT decile, unnest(string_split(text, ' ')) AS tok FROM t
    )
    SELECT CAST(decile AS BIGINT) AS decile,
           CAST((SELECT count(*) FROM t t2 WHERE t2.decile = tok.decile)
                AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(count(DISTINCT tok) AS BIGINT) AS n_types,
           CAST(count(DISTINCT tok) * 1000000 // count(*) AS BIGINT) AS ttr_ppm
    FROM tok GROUP BY decile
    """,
)
def text_ttr_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-token ratio by length decile — the lexical-diversity
    curve quality audits plot to spot templated/boilerplate length
    regimes (TTR falling faster than the expected Heaps-law decay
    flags machine-generated filler at that length).  Deciles are
    deterministic ((n_words, doc_id) order); TTR is exact ppm.

    Scale: like [[length_curriculum]], the decile is the
    range-partitioned global rank (operators/rankstats.py, round 15)
    plus exact NTILE arithmetic — parallel, never a single-partition
    window over documents; the per-decile distinct is one
    count-distinct shuffle keyed by (decile, token) — partial-agg
    friendly, never a global sort of tokens."""
    from ..operators.rankstats import global_order_stats, ntile_from_rank

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", word_count("text").alias("n_words")
    )
    ranked, totals = global_order_stats(d, [F.asc("n_words"), F.asc("doc_id")])
    t = ranked.withColumn("decile", ntile_from_rank(10, totals["rows"]))
    nd = t.groupBy("decile").agg(F.count("*").alias("n_docs"))
    tok = t.select("decile", F.explode(words("text")).alias("tok"))
    agg = tok.groupBy("decile").agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.countDistinct("tok").cast("long").alias("n_types"),
    )
    return (
        agg.join(F.broadcast(nd), "decile")
        .select(
            F.col("decile").cast("long").alias("decile"),
            F.col("n_docs").cast("long").alias("n_docs"),
            "n_tokens",
            "n_types",
            F.expr("n_types * 1000000 div n_tokens").cast("long").alias("ttr_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Mixing, quotas, balance, drift
# ---------------------------------------------------------------------------


@query(
    "mix_temperature_weights",
    oracle="""
    WITH s AS (
      SELECT source, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tok
      FROM documents GROUP BY source
    ), q AS (
      SELECT source, n_tok,
             CAST(ROUND(sqrt(CAST(n_tok AS DOUBLE)) * 1000000) AS BIGINT)
               AS sqrt_micro
      FROM s
    )
    SELECT source, n_tok, sqrt_micro,
           CAST(sqrt_micro * 1000000 // (SELECT SUM(sqrt_micro) FROM q)
                AS BIGINT) AS weight_ppm
    FROM q
    """,
)
def mix_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled corpus mixing weights (T=2, i.e. α=1/2):
    each source's sampling weight ∝ (token count)^0.5 — the standard
    move that up-weights small high-quality sources relative to raw
    proportional mixing ([[corpus_mix]] is the α=1 baseline).  The
    exponent is sqrt ON PURPOSE: IEEE sqrt is correctly rounded in
    both engines (a general pow(x, α) is libm-dependent, like ln),
    so quantizing each source's √tokens to an exact micro integer
    BEFORE the normalizing division keeps every output portable —
    the sum is an integer sum, the weight an integer division.

    Scale: one groupBy over the token counts (map-side combined), a
    |sources|-row aggregate, and a broadcast single-row total — the
    scalar-broadcast pattern."""
    s = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.sum(word_count("text")).cast("long").alias("n_tok"))
    )
    q = s.withColumn(
        "sqrt_micro",
        F.round(F.sqrt(F.col("n_tok").cast("double")) * 1e6).cast("long"),
    )
    tot = q.agg(F.sum("sqrt_micro").alias("tot_micro"))
    return q.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_tok",
        "sqrt_micro",
        F.expr("sqrt_micro * 1000000 div tot_micro").cast("long").alias("weight_ppm"),
    )


@query(
    "corpus_quota_fill",
    oracle="""
    WITH f AS (
      SELECT doc_id, source,
             len(string_split(text, ' ')) AS n_tok,
             len(list_distinct(string_split(text, ' '))) * 1000000
               // len(string_split(text, ' ')) AS uniq_ppm
      FROM documents
    ), r AS (
      SELECT source, doc_id, n_tok,
             SUM(n_tok) OVER (PARTITION BY source
                              ORDER BY uniq_ppm DESC, doc_id) AS cum_tok
      FROM f
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(count(*) FILTER (WHERE cum_tok <= 1000) AS BIGINT) AS n_kept,
           CAST(COALESCE(SUM(n_tok) FILTER (WHERE cum_tok <= 1000), 0)
                AS BIGINT) AS tokens_kept
    FROM r GROUP BY source
    """,
)
def corpus_quota_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token quota fill: within each source, documents are
    ranked best-first by lexical diversity (exact ppm uniq ratio,
    doc_id tiebreak) and greedily taken while the running token total
    stays within the 1000-token source quota — the domain-budget
    allocator that keeps one giant crawl from dominating the mix
    ([[corpus_token_budget]] measures the budgets; this key spends
    them).  Per source: candidates, kept docs, exact tokens kept.

    Scale: one window per source partition (quality rank + running
    sum in the same partitioning — one shuffle total), then a
    map-side-combined aggregate.  No global sort; the quota predicate
    is a per-row filter on the running sum."""
    d = load_table(spark, sf_dir, "documents")
    nw = word_count("text")
    f = d.select(
        "doc_id",
        "source",
        nw.alias("n_tok"),
        (uniq_word_count("text") * 1000000).alias("u6"),
    ).select(
        "doc_id", "source", "n_tok", F.expr("u6 div n_tok").alias("uniq_ppm")
    )
    cum = F.sum("n_tok").over(
        Window.partitionBy("source")
        .orderBy(F.desc("uniq_ppm"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    r = f.withColumn("cum_tok", cum)
    kept = F.col("cum_tok") <= 1000
    return r.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.count_if(kept).cast("long").alias("n_kept"),
        F.coalesce(F.sum(F.when(kept, F.col("n_tok"))), F.lit(0))
        .cast("long")
        .alias("tokens_kept"),
    )


@query(
    "source_token_tv_drift",
    oracle="""
    WITH tok AS (
      SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
    ), cst AS (
      SELECT source, tok, count(*) AS c_st FROM tok GROUP BY source, tok
    ), ct AS (
      SELECT tok, CAST(SUM(c_st) AS BIGINT) AS c_t FROM cst GROUP BY tok
    ), ns AS (
      SELECT source, CAST(SUM(c_st) AS BIGINT) AS n_s FROM cst GROUP BY source
    ), nt AS (
      SELECT CAST(SUM(c_t) AS BIGINT) AS n_tot FROM ct
    )
    SELECT cst.source,
           CAST(MAX(ns.n_s) AS BIGINT) AS n_tokens,
           CAST(SUM(GREATEST(cst.c_st * nt.n_tot - ct.c_t * ns.n_s, 0))
                  * 1000000 // (MAX(ns.n_s) * MAX(nt.n_tot))
                AS BIGINT) AS tv_ppm
    FROM cst
    JOIN ct ON ct.tok = cst.tok
    JOIN ns ON ns.source = cst.source
    CROSS JOIN nt
    GROUP BY cst.source
    """,
)
def source_token_tv_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift per source: the exact total-variation
    distance between each source's token distribution and the whole
    corpus's, in ppm — the log-free twin of a KL drift monitor
    ([[source_drift_ks]] is the numeric-column analogue).  Uses the
    one-sided identity TV = Σ max(p−q, 0), so only tokens PRESENT in
    the source contribute — no vocabulary×source grid is ever
    materialized, and every term is an exact integer cross-product
    |c_st·N − c_t·N_s|.

    Scale: per-(source, token) counts (one shuffle), token totals by
    re-aggregating those partials (never a second corpus scan), an
    equi-join back on token, and a broadcast single-row N.  Integer
    headroom: c_st·N_tot needs DECIMAL partials past ~3·10⁹ tokens."""
    tok = load_table(spark, sf_dir, "documents").select(
        "source", F.explode(words("text")).alias("tok")
    )
    cst = tok.groupBy("source", "tok").agg(F.count("*").alias("c_st"))
    ct = cst.groupBy("tok").agg(F.sum("c_st").cast("long").alias("c_t"))
    ns = cst.groupBy("source").agg(F.sum("c_st").cast("long").alias("n_s"))
    nt = ct.agg(F.sum("c_t").cast("long").alias("n_tot"))
    j = (
        cst.join(ct, "tok")
        .join(F.broadcast(ns), "source")
        .crossJoin(F.broadcast(nt))
    )
    return j.groupBy("source").agg(
        F.max("n_s").cast("long").alias("n_tokens"),
        F.expr(
            "SUM(GREATEST(c_st * n_tot - c_t * n_s, 0)) * 1000000"
            " div (MAX(n_s) * MAX(n_tot))"
        )
        .cast("long")
        .alias("tv_ppm"),
    )


@query(
    "lang_balance_resample",
    oracle="""
    WITH lc AS (
      SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang
    ), tgt AS (
      SELECT CAST(MIN(n_docs) AS BIGINT) AS target FROM lc
    ), r AS (
      SELECT d.lang, d.doc_id,
             len(string_split(d.text, ' ')) AS n_tok,
             row_number() OVER (PARTITION BY d.lang
                                ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id)
               AS rk
      FROM documents d
    )
    SELECT r.lang,
           count(*) AS n_docs,
           CAST(count(*) FILTER (WHERE r.rk <= tgt.target) AS BIGINT) AS n_kept,
           CAST(COALESCE(SUM(r.n_tok) FILTER (WHERE r.rk <= tgt.target), 0)
                AS BIGINT) AS kept_tokens
    FROM r CROSS JOIN tgt
    GROUP BY r.lang
    """,
)
def lang_balance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-balanced downsample: every language is cut to the
    smallest language's document count by md5-rank selection —
    deterministic, unbiased, engine- and partitioning-stable (the
    [[sample_hash]] family's ordering idiom).  Per language: corpus
    docs, docs kept (= the min-language count), and the exact token
    mass the balanced corpus retains.

    Scale: the target is a single-row broadcast (min over ≤ |langs|
    partials); ranking is one window per language partition; no
    global sort, no collect.  The same plan balances on token mass by
    swapping the rank predicate for a running-sum quota
    ([[corpus_quota_fill]])."""
    d = load_table(spark, sf_dir, "documents")
    lc = d.groupBy("lang").agg(F.count("*").alias("n_docs_l"))
    tgt = lc.agg(F.min("n_docs_l").cast("long").alias("target"))
    rk = F.row_number().over(
        Window.partitionBy("lang").orderBy(_md5_str("doc_id"), F.col("doc_id"))
    )
    r = d.select("lang", "doc_id", word_count("text").alias("n_tok")).withColumn(
        "rk", rk
    )
    kept = F.col("rk") <= F.col("target")
    return (
        r.crossJoin(F.broadcast(tgt))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.count_if(kept).cast("long").alias("n_kept"),
            F.coalesce(F.sum(F.when(kept, F.col("n_tok"))), F.lit(0))
            .cast("long")
            .alias("kept_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# Window / event / warehouse additions
# ---------------------------------------------------------------------------


@query(
    "window_nth_value",
    oracle="""
    SELECT o_orderkey, o_custkey,
           first_value(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
             OVER w AS first_cents,
           nth_value(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT), 2)
             OVER w AS second_cents,
           last_value(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
             OVER w AS last_cents,
           CAST(count(*) OVER w AS BIGINT) AS n_orders
    FROM orders
    WHERE o_custkey <= 100
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def window_nth_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The positional window family ([[window_lag]] covers offsets,
    [[window_ntile]] distributions): each order annotated with its
    customer's first, second, and latest order value over the full
    partition frame — the first-touch / second-purchase / latest-state
    columns every LTV feature set carries.  Money in exact cents;
    deterministic (o_orderdate, o_orderkey) order; second_cents is
    NULL for single-order customers (nullable-BIGINT outputs are
    hash-safe — [[tablelog_change_feed]] precedent).

    Scale: one window, one shuffle on o_custkey; the explicit
    unbounded ROWS frame is what makes last_value/nth_value
    well-defined (the default frame stops at CURRENT ROW)."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 100)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    cents = _cents("o_totalprice")
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.first(cents).over(w).alias("first_cents"),
        F.nth_value(cents, 2).over(w).alias("second_cents"),
        F.last(cents).over(w).alias("last_cents"),
        F.count("*").over(w).cast("long").alias("n_orders"),
    )


@query(
    "event_burst_windows",
    oracle="""
    WITH e AS (
      SELECT user_id, event_id,
             CAST(FLOOR(epoch(ts)) AS BIGINT) AS ts_s
      FROM events
    ), b AS (
      SELECT user_id, event_id, ts_s,
             CAST(count(*) OVER (PARTITION BY user_id ORDER BY ts_s
                                 RANGE BETWEEN 299 PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS burst
      FROM e
    ), r AS (
      SELECT user_id, ts_s, burst,
             count(*) OVER (PARTITION BY user_id) AS n_events,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY burst DESC, ts_s, event_id) AS rn
      FROM b
    )
    SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
           burst AS max_burst_5m, ts_s AS peak_ts_s
    FROM r WHERE rn = 1
    """,
)
def event_burst_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst detection per user: the maximum number of events inside
    any trailing 5-minute window (exact RANGE frame over epoch
    seconds — peers at the same second counted on both engines by
    value, not row order), plus when the peak burst ended — the
    rate-limit / bot-detection primitive ([[event_distinct_sliding]]
    slides a fixed grid; this frame slides per event).

    Scale: one shuffle on user_id; the RANGE frame is a single
    ordered pass per user with a two-pointer window — O(events), no
    self-join against a time grid.  The peak argmin resolves inside
    the same partitioning (second window, no extra exchange)."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        # NTZ→TIMESTAMP→LONG: session tz is pinned UTC, so this is the
        # exact epoch-second floor DuckDB's epoch() computes
        F.expr("CAST(CAST(ts AS TIMESTAMP) AS LONG)").alias("ts_s"),
    )
    wb = (
        Window.partitionBy("user_id").orderBy("ts_s").rangeBetween(-299, 0)
    )
    b = e.withColumn("burst", F.count("*").over(wb).cast("long"))
    wu = Window.partitionBy("user_id")
    rn = F.row_number().over(
        Window.partitionBy("user_id").orderBy(
            F.desc("burst"), F.asc("ts_s"), F.asc("event_id")
        )
    )
    r = b.withColumn("n_events", F.count("*").over(wu).cast("long")).withColumn(
        "rn", rn
    )
    return r.filter(F.col("rn") == 1).select(
        "user_id",
        "n_events",
        F.col("burst").alias("max_burst_5m"),
        F.col("ts_s").alias("peak_ts_s"),
    )


@query(
    "orders_reorder_interval",
    oracle="""
    WITH d AS (
      SELECT o_custkey,
             CAST(FLOOR(epoch(o_orderdate)) AS BIGINT) // 86400 AS day,
             o_orderkey
      FROM orders
    ), g AS (
      SELECT o_custkey,
             day - lag(day) OVER (PARTITION BY o_custkey
                                  ORDER BY day, o_orderkey) AS gap
      FROM d
    )
    SELECT o_custkey,
           count(*) AS n_orders,
           CAST(count(gap) AS BIGINT) AS n_gaps,
           CAST(MIN(gap) AS BIGINT) AS min_gap_days,
           CAST(MAX(gap) AS BIGINT) AS max_gap_days,
           CAST(SUM(gap) AS BIGINT) AS sum_gap_days
    FROM g GROUP BY o_custkey
    HAVING count(*) >= 2
    """,
)
def orders_reorder_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase cadence: for every customer with ≥ 2 orders,
    the count, min/max/total of the day gaps between consecutive
    orders (epoch-day arithmetic — exact integers, no timestamp
    formatting) — the inter-purchase-interval features churn and
    next-order models train on ([[orders_cohort_ltv]] aggregates the
    cohort view; this is the per-customer cadence).

    Scale: one shuffle on o_custkey shared by the lag window and the
    aggregate — Catalyst reuses the partitioning, so the whole key is
    a single exchange."""
    d = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.expr("CAST(CAST(o_orderdate AS TIMESTAMP) AS LONG) div 86400").alias("day"),
        "o_orderkey",
    )
    gap = F.col("day") - F.lag("day").over(
        Window.partitionBy("o_custkey").orderBy("day", "o_orderkey")
    )
    g = d.select("o_custkey", gap.alias("gap"))
    return (
        g.groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_orders"),
            F.count("gap").cast("long").alias("n_gaps"),
            F.min("gap").cast("long").alias("min_gap_days"),
            F.max("gap").cast("long").alias("max_gap_days"),
            F.sum("gap").cast("long").alias("sum_gap_days"),
        )
        .filter(F.col("n_orders") >= 2)
    )
