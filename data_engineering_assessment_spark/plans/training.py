"""Training-data shaping keys: sharding, quality binning, corpus
mixing, and sequence packing — the steps between a cleaned corpus and
actual trainer input.

All outputs follow the fixed-point BIGINT/STRING contract (no
DECIMAL/derived-DOUBLE columns) so the driver's value hash is
engine-portable, and all hash predicates use the md5-prefix pattern
(proven portable by the sample_* keys): deterministic on any engine,
any partitioning, any cluster — reproducibility is the point of doing
these inside the engine rather than in a driver script.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import uniq_word_count, word_count
from ..sources.tables import load_table
from .registry import query


def _md5_prefix(col: str, n: int) -> F.Column:
    return F.md5(F.col(col).cast("string").cast("binary")).substr(1, n)


@query(
    "shard_assign",
    oracle="""
    SELECT left(md5(CAST(doc_id AS VARCHAR)), 1) AS shard,
           count(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY shard
    """,
)
def shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 16-way output sharding (md5 nibble of doc_id) with
    per-shard balance stats.

    Writing trainer shards by content hash — instead of Spark's
    partition index — makes shard membership a pure function of the
    data: re-runs, engine swaps, and incremental appends land every
    doc in the same shard, and the nibble keys are uniform so shard
    sizes stay balanced (the stats emitted here are the check).
    Scale: shuffle-free scan + a 16-group map-side-combined agg."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy(_md5_prefix("doc_id", 1).alias("shard"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


@query(
    "quality_bins",
    oracle="""
    WITH s AS (
      SELECT len(string_split(text, ' ')) AS n_words,
             len(list_distinct(string_split(text, ' '))) AS n_uniq
      FROM documents
      WHERE len(string_split(text, ' ')) >= 1
    )
    SELECT CAST(LEAST(9, FLOOR(CAST(n_uniq AS DOUBLE) / n_words * 10)) AS INT) AS bin,
           count(*) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS total_words
    FROM s GROUP BY bin
    """,
)
def quality_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-diversity decile binning (floor(uniq/words * 10),
    top clamped) with per-bin volume — the histogram a curriculum or
    quality-resampling stage reads before choosing per-bin rates.

    The bin edge is a single IEEE divide+multiply on identical integer
    operands in both engines, so bucket boundaries cannot disagree.
    Scale: scan-speed narrow projection + a ≤10-group agg."""
    d = load_table(spark, sf_dir, "documents").filter(word_count("text") >= 1)
    ratio = uniq_word_count("text").cast("double") / word_count("text")
    bin_ = F.least(F.lit(9), F.floor(ratio * 10)).cast("int")
    return (
        d.groupBy(bin_.alias("bin"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(word_count("text")).cast("long").alias("total_words"),
        )
    )


@query(
    "corpus_mix",
    oracle="""
    SELECT doc_id, source, lang FROM documents
    WHERE source IN ('src0', 'src1', 'src2')
       OR left(md5(CAST(doc_id AS VARCHAR)), 2) <= '3f'
    """,
)
def corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic source-weighted corpus mixture: premium sources
    kept whole, the long tail downsampled to ~25% by content hash —
    the standard rebalancing move when one crawl dominates the corpus.

    Same md5-prefix predicate as the sample_* keys: membership is a
    pure function of (doc_id, source), so the mixture is reproducible
    and joinable across runs.  Scale: one scan-speed filter, no
    shuffle, no RNG state."""
    d = load_table(spark, sf_dir, "documents")
    premium = F.col("source").isin("src0", "src1", "src2")
    return d.filter(premium | (_md5_prefix("doc_id", 2) <= "3f")).select(
        "doc_id", "source", "lang"
    )


@query(
    "split_train_eval",
    oracle="""
    SELECT CASE WHEN left(md5(CAST(doc_id AS VARCHAR)), 2) < 'f0' THEN 'train'
                WHEN left(md5(CAST(doc_id AS VARCHAR)), 2) < 'f8' THEN 'valid'
                ELSE 'test' END AS split,
           source, count(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY split, source
    """,
)
def split_train_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/valid/test split (~93.75/3.125/3.125 by md5
    prefix of doc_id) with per-(split, source) volume — the audit a
    data owner runs to confirm the eval slices are source-stratified.

    Hash membership makes the split a pure function of doc_id:
    appending new data never moves an old doc across splits (the
    property that prevents silent eval contamination on incremental
    corpus builds; the [[decontaminate_overlap]] key covers the
    content-level variant).  Scale: shuffle-free scan + a small agg."""
    d = load_table(spark, sf_dir, "documents")
    h2 = _md5_prefix("doc_id", 2)
    split = (
        F.when(h2 < "f0", "train").when(h2 < "f8", "valid").otherwise("test")
    )
    return (
        d.groupBy(split.alias("split"), "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


@query(
    "chunk_overlap",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks,
             len(string_split(text, ' ')) AS n_tok
      FROM documents WHERE len(string_split(text, ' ')) >= 1
    )
    SELECT doc_id, CAST(s // 96 AS INT) AS chunk_idx,
           CAST(s AS INT) AS chunk_start,
           CAST(LEAST(128, n_tok - s) AS INT) AS n_chunk_tok,
           md5(array_to_string(list_slice(toks, s + 1, s + 128), ' ')) AS chunk_md5
    FROM (
      SELECT doc_id, toks, n_tok,
             unnest(generate_series(0, n_tok - 1, 96)) AS s
      FROM t
    )
    """,
)
def chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-style sliding-window chunking: 128-token chunks with a
    96-token stride (32-token overlap), one output row per chunk with
    an md5 content digest.  Overlapping windows keep sentences that
    straddle a cut retrievable from both sides — the standard chunker
    in retrieval indexing.

    Chunk membership is arithmetic on the token count, so the plan is
    a scan + generator (posexplode of an integer sequence) with no
    shuffle at all — each task chunks its own documents, and a 100 TB
    corpus chunks at scan speed.  The md5 digest keeps the output
    hash-portable while still pinning the exact chunk text."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    d = d.select("doc_id", toks.alias("toks"), F.size(toks).alias("n_tok")).filter(
        F.col("n_tok") >= 1
    )
    starts = F.sequence(F.lit(0), F.col("n_tok") - 1, F.lit(96))
    return (
        d.select("doc_id", "n_tok", "toks", F.explode(starts).alias("s"))
        .select(
            "doc_id",
            F.expr("CAST(s div 96 AS INT)").alias("chunk_idx"),
            F.col("s").cast("int").alias("chunk_start"),
            F.least(F.lit(128), F.col("n_tok") - F.col("s")).cast("int").alias("n_chunk_tok"),
            F.md5(
                F.concat_ws(" ", F.slice("toks", F.col("s") + 1, F.lit(128))).cast("binary")
            ).alias("chunk_md5"),
        )
    )


@query(
    "repetition_stats",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks,
             len(string_split(text, ' ')) AS n_tok
      FROM documents WHERE len(string_split(text, ' ')) >= 3
    ), g AS (
      SELECT doc_id, n_tok - 2 AS n_tri,
             len(list_distinct(list_transform(
               generate_series(1, n_tok - 2),
               i -> array_to_string(list_slice(toks, i, i + 2), ' ')))) AS n_uniq_tri
      FROM t
    )
    SELECT doc_id, CAST(n_tri AS INT) AS n_tri,
           CAST(n_uniq_tri AS INT) AS n_uniq_tri,
           CAST(((n_tri - n_uniq_tri) * 10000) // n_tri AS BIGINT) AS dup_ratio_x10000,
           (n_tri - n_uniq_tri) * 5 <= n_tri AS keep
    FROM g
    """,
)
def repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition audit: duplicate word-trigram ratio
    per doc, plus the keep/drop verdict at a 20% threshold — the
    Gopher/C4-style filter that drops boilerplate and degenerate
    repetition before pretraining.

    The ratio is emitted as exact integer fixed-point and the verdict
    as an integer-arithmetic inequality ((dups * 5) <= n_tri), so no
    float crosses the engine boundary.  Scale: trigrams come from a
    per-row higher-order function (transform over an int sequence) —
    no explode, no shuffle; the whole audit runs at scan speed."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    d = d.select("doc_id", toks.alias("toks"), F.size(toks).alias("n_tok")).filter(
        F.col("n_tok") >= 3
    )
    tri = F.transform(
        F.sequence(F.lit(1), F.col("n_tok") - 2, F.lit(1)),
        lambda i: F.concat_ws(" ", F.slice("toks", i, F.lit(3))),
    )
    n_tri = (F.col("n_tok") - 2).cast("int")
    n_uniq = F.size(F.array_distinct(tri)).cast("int")
    dups = F.col("n_tri") - F.col("n_uniq_tri")
    return (
        d.select("doc_id", n_tri.alias("n_tri"), n_uniq.alias("n_uniq_tri"))
        .select(
            "doc_id",
            "n_tri",
            "n_uniq_tri",
            F.expr("CAST((n_tri - n_uniq_tri) * 10000 div n_tri AS BIGINT)").alias(
                "dup_ratio_x10000"
            ),
            (dups * 5 <= F.col("n_tri")).alias("keep"),
        )
    )


@query(
    "global_shuffle",
    oracle="""
    SELECT CAST(row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) - 1
             AS pos,
           doc_id, source
    FROM documents
    """,
)
def global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global corpus shuffle: every doc gets a stable
    0-based position in md5(doc_id) order — the epoch-0 training order,
    reproducible on any engine and any cluster because it is a pure
    function of the data.

    The oracle states it as one global row_number; the engine never
    runs that single-partition sort.  Instead the hash's first byte
    pre-buckets rows into 256 ranges, each bucket ranks independently
    (parallel window, one shuffle), and a 256-row bucket histogram —
    prefix-summed and broadcast — converts in-bucket rank to global
    position.  Because the bucket is a prefix of the sort key, bucket
    order concatenates to exactly the global order; this is a
    hand-rolled range-partitioned sort whose range bounds are known a
    priori, so a 100 TB corpus shuffles once with no sampling pass
    and no single-task bottleneck."""
    d = load_table(spark, sf_dir, "documents").select(
        F.md5(F.col("doc_id").cast("string").cast("binary")).alias("h"),
        "doc_id",
        "source",
    )
    d = d.withColumn("bucket", F.substring("h", 1, 2))
    offsets = (
        d.groupBy("bucket")
        .count()
        .select(
            "bucket",
            F.coalesce(
                F.sum("count").over(
                    Window.orderBy("bucket").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ).alias("bucket_off"),
        )
    )
    rk = F.row_number().over(Window.partitionBy("bucket").orderBy("h", "doc_id"))
    return (
        d.withColumn("rk", rk)
        .join(F.broadcast(offsets), "bucket")
        .select(
            (F.col("bucket_off") + F.col("rk") - 1).cast("long").alias("pos"),
            "doc_id",
            "source",
        )
    )


@query(
    "vocab_coverage",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ), vocab AS (
      SELECT token FROM (
        SELECT token, count(*) AS n FROM tok GROUP BY token
        ORDER BY n DESC, token LIMIT 256
      )
    ), j AS (
      SELECT t.doc_id, count(*) AS n_tok, count(v.token) AS n_in_vocab
      FROM tok t LEFT JOIN vocab v USING (token)
      GROUP BY t.doc_id
    )
    SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
           CAST(n_in_vocab AS BIGINT) AS n_in_vocab,
           CAST(n_in_vocab * 10000 // n_tok AS BIGINT) AS coverage_x10000
    FROM j
    """,
)
def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary coverage audit: build the top-256 corpus
    vocabulary (count desc, token asc — a unique, engine-portable
    tiebreak), then score every document's in-vocab token fraction as
    exact fixed-point.  High OOV rate flags docs a tokenizer would
    shred into bytes — a standard pre-training corpus health metric.

    Scale: pass 1 is a token-frequency agg (map-side combined) whose
    top-k is tiny by construction; pass 2 broadcasts the 256-row
    vocab to a hash join against the token stream — no shuffle of the
    corpus itself beyond the per-doc re-agg on doc_id, and the join
    side that is large never moves."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    vocab = (
        tok.groupBy("token")
        .count()
        .orderBy(F.col("count").desc(), "token")
        .limit(256)
        .select("token", F.lit(1).alias("in_vocab"))
    )
    j = (
        tok.join(F.broadcast(vocab), "token", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tok"),
            F.count("in_vocab").alias("n_in_vocab"),
        )
    )
    return j.select(
        "doc_id",
        "n_tok",
        "n_in_vocab",
        F.expr("CAST(n_in_vocab * 10000 div n_tok AS BIGINT)").alias(
            "coverage_x10000"
        ),
    )


@query(
    "seq_pack_chunks",
    oracle="""
    WITH t AS (
      SELECT left(md5(CAST(doc_id AS VARCHAR)), 1) AS shard, doc_id,
             len(string_split(text, ' ')) AS n_tok
      FROM documents
    ), o AS (
      SELECT shard, doc_id, n_tok,
             COALESCE(SUM(n_tok) OVER (
               PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
      FROM t
    )
    SELECT shard, CAST(off // 1024 AS BIGINT) AS pack_id,
           count(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS pack_tokens
    FROM o GROUP BY shard, pack_id
    """,
)
def seq_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing: per shard, docs concatenate
    in deterministic (doc_id) order and split into 1024-token chunks;
    a doc belongs to the pack where its first token lands.  This is
    the packing LLM pretraining actually uses (concatenate, then cut
    fixed windows) — unlike greedy bin packing it needs only a
    prefix sum, so it stays a window expression instead of stateful
    Python.

    Scale: one shuffle on the shard key; each shard packs
    independently (embarrassingly parallel across shards), and the
    running offset is a single sorted window pass per shard."""
    d = load_table(spark, sf_dir, "documents").select(
        _md5_prefix("doc_id", 1).alias("shard"),
        "doc_id",
        word_count("text").alias("n_tok"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = F.coalesce(F.sum("n_tok").over(w), F.lit(0))
    return (
        d.withColumn("pack_id", F.floor(off / 1024).cast("long"))
        .groupBy("shard", "pack_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("pack_tokens"),
        )
    )


@query(
    "bpe_pair_counts",
    oracle="""
    WITH w AS (
      SELECT unnest(string_split(text, ' ')) AS word FROM documents
    ), p AS (
      SELECT unnest(list_transform(
               generate_series(1, strlen(word) - 1),
               i -> substr(word, CAST(i AS INT), 2))) AS pair
      FROM w WHERE strlen(word) >= 2
    ), c AS (
      SELECT pair, count(*) AS n FROM p GROUP BY pair
    )
    SELECT pair, n FROM (
      SELECT pair, n, row_number() OVER (ORDER BY n DESC, pair) AS rn FROM c
    ) WHERE rn <= 20
    """,
)
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first iteration of BPE tokenizer training: corpus-wide
    counts of adjacent character pairs inside words, top-20 with a
    unique (count desc, pair asc) tiebreak.  Iterating this count →
    merge → recount loop yields the merge table; the count step is
    the only part that touches the full corpus, so it is the part
    that must run in the engine.

    Scale: pairs are generated per word by a higher-order transform
    (no Python, no quadratic blowup — a word of length L yields L-1
    pairs), the count is one map-side-combined shuffle on the pair
    key (alphabet² keys at most), and the ranking window runs over
    that tiny histogram."""
    d = load_table(spark, sf_dir, "documents")
    words = d.select(F.explode(F.split("text", " ")).alias("word")).filter(
        F.length("word") >= 2
    )
    pairs = words.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("word") - 1),
                lambda i: F.substring(F.col("word"), i, F.lit(2)),
            )
        ).alias("pair")
    )
    c = pairs.groupBy("pair").agg(F.count("*").alias("n"))
    rn = F.row_number().over(Window.orderBy(F.col("n").desc(), "pair"))
    return c.withColumn("rn", rn).filter(F.col("rn") <= 20).select("pair", "n")


@query(
    "corpus_token_budget",
    oracle="""
    WITH t AS (
      SELECT doc_id, source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
             md5(CAST(doc_id AS VARCHAR)) AS h
      FROM documents
    ), c AS (
      SELECT *, SUM(n_tok) OVER (PARTITION BY source ORDER BY h, doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum_tok
      FROM t
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs_total,
           CAST(SUM(n_tok) AS BIGINT) AS tokens_total,
           CAST(SUM(CASE WHEN cum_tok <= 10000 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_docs_kept,
           CAST(SUM(CASE WHEN cum_tok <= 10000 THEN n_tok ELSE 0 END) AS BIGINT)
             AS tokens_kept,
           CAST(bit_xor(CASE WHEN cum_tok <= 10000 THEN doc_id ELSE 0 END) AS BIGINT)
             AS kept_xor
    FROM c GROUP BY source
    """,
)
def corpus_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budgeted corpus selection: each source contributes documents in
    deterministic md5 order until a fixed token budget (10k whitespace
    tokens here) is filled; the audit row per source reports how much
    of the source survived and an order-insensitive XOR fingerprint of
    the kept doc ids (so two runs — or two engines — provably kept the
    SAME documents, not just the same count).  This is how a
    heterogeneous crawl is flattened into a fixed token diet per
    domain before mixing ([[corpus_mix]] handles relative weights;
    this handles absolute caps).

    Hash ordering makes the selection a pure function of doc_id:
    appends only ever fill remaining budget, never displace an
    already-kept doc... unless they hash earlier — which is exactly
    the reproducible-reservoir semantics wanted for refresh runs.

    Scale: one shuffle on source for the running-sum window; token
    counts ride along from the scan (no explode — `size(split())` is
    per-row).  The cumulative sort is per-source over doc COUNTS, not
    content."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        "source",
        F.size(F.split("text", " ")).cast("long").alias("n_tok"),
        F.md5(F.col("doc_id").cast("string").cast("binary")).alias("h"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = t.withColumn("cum_tok", F.sum("n_tok").over(w))
    kept = F.col("cum_tok") <= 10000
    return c.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs_total"),
        F.sum("n_tok").cast("long").alias("tokens_total"),
        F.sum(F.when(kept, 1).otherwise(0)).cast("long").alias("n_docs_kept"),
        F.sum(F.when(kept, F.col("n_tok")).otherwise(0)).cast("long").alias("tokens_kept"),
        F.bit_xor(F.when(kept, F.col("doc_id")).otherwise(0)).cast("long").alias("kept_xor"),
    )


@query(
    "text_hapax_ratio",
    oracle="""
    WITH w AS (
      SELECT source, unnest(string_split(text, ' ')) AS word FROM documents
    ), f AS (
      SELECT source, word, CAST(count(*) AS BIGINT) AS freq
      FROM w WHERE word <> '' GROUP BY source, word
    )
    SELECT source,
           CAST(SUM(freq) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS vocab_size,
           CAST(SUM(CASE WHEN freq = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax_count,
           CAST(SUM(CASE WHEN freq = 1 THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT)
             AS hapax_ppm_of_vocab,
           CAST(count(*) * 1000000 // SUM(freq) AS BIGINT) AS ttr_ppm
    FROM f GROUP BY source
    """,
)
def text_hapax_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source lexical-diversity profile: hapax legomena (words
    seen exactly once in the source) as a share of vocabulary, and
    type-token ratio, both in exact integer ppm.  Low hapax share on
    a large source is the classic signature of templated/boilerplate
    text; a quality gate reads this table before admitting a source
    to the mix.  Complements [[quality_bins]] (per-document TTR
    deciles) with the corpus-level view.

    Scale: explode → two-level agg; the (source, word) frequency
    shuffle partial-aggregates map-side, and the second agg reuses
    the source partitioning.  Output is |sources| rows; no word list
    ever reaches the driver."""
    d = load_table(spark, sf_dir, "documents")
    f = (
        d.select("source", F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("source", "word")
        .agg(F.count("*").cast("long").alias("freq"))
    )
    hapax = F.sum(F.when(F.col("freq") == 1, 1).otherwise(0))
    return f.groupBy("source").agg(
        F.sum("freq").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("vocab_size"),
        hapax.cast("long").alias("hapax_count"),
        F.expr(
            "CAST(SUM(CASE WHEN freq = 1 THEN 1 ELSE 0 END) * 1000000 div COUNT(*) AS BIGINT)"
        ).alias("hapax_ppm_of_vocab"),
        F.expr("CAST(COUNT(*) * 1000000 div SUM(freq) AS BIGINT)").alias("ttr_ppm"),
    )


@query(
    "split_time_holdout",
    oracle="""
    WITH mx AS (
      SELECT MAX(CAST(FLOOR(epoch(ts)) AS BIGINT)) AS m FROM events
    ), lab AS (
      SELECT user_id,
             CASE
               WHEN CAST(FLOOR(epoch(ts)) AS BIGINT) > m - 7 * 86400
                 THEN 'eval'
               WHEN CAST(FLOOR(epoch(ts)) AS BIGINT) > m - 8 * 86400
                 THEN 'embargo'
               ELSE 'train'
             END AS split
      FROM events, mx
    ), tu AS (
      SELECT DISTINCT user_id FROM lab WHERE split = 'train'
    )
    SELECT split,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(count(DISTINCT user_id) FILTER (
                WHERE user_id IN (SELECT user_id FROM tu))
                AS BIGINT) AS n_users_also_in_train
    FROM lab GROUP BY split
    """,
)
def split_time_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal train/eval split with an embargo gap — the time-series
    counterpart of [[split_group_holdout]]: eval is the last 7 days
    before the event frontier, a 1-day embargo before it is DROPPED
    (so near-boundary leakage — sessions straddling the cut — cannot
    contaminate eval), and everything earlier trains.  The per-split
    user-overlap column quantifies the entity leakage a temporal
    split permits by design (the same user may appear in train and
    eval) — the number a leakage review reads before choosing between
    this split and the group-holdout.

    Scale: the frontier is a 1-row MAX broadcast (the
    [[orders_backlog_aging]] idiom); labeling is a scan-time CASE; the
    per-split agg and the train-user semi-join are both user_id/split-
    keyed shuffles on node-sized distinct sets.  No self-join of the
    raw event table."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.floor(F.col("ts").cast("timestamp").cast("double"))
        .cast("long")
        .alias("es"),
    )
    mx = ev.agg(F.max("es").alias("m"))
    lab = ev.crossJoin(F.broadcast(mx)).select(
        "user_id",
        F.when(F.col("es") > F.col("m") - 7 * 86400, "eval")
        .when(F.col("es") > F.col("m") - 8 * 86400, "embargo")
        .otherwise("train")
        .alias("split"),
    )
    tu = (
        lab.filter(F.col("split") == "train")
        .select("user_id")
        .distinct()
        .withColumn("in_train", F.lit(True))
    )
    j = lab.join(tu, "user_id", "left")
    return j.groupBy("split").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.countDistinct(F.when(F.col("in_train"), F.col("user_id")))
        .cast("long")
        .alias("n_users_also_in_train"),
    )
