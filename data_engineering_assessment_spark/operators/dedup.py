"""Deduplication operators for training-data pipelines.

Four tiers, all shuffle-bounded and cross-join-free:

- exact: hash-groupBy on a fingerprint (one shuffle on the hash);
- n-gram Jaccard: inverted-index join on shared shingles — exact
  near-dup pairs without a cross join (candidate space = pairs that
  share ≥1 shingle);
- MinHash + LSH banding: constant-size signatures, candidates from
  band-bucket equality — the 100 TB path where even the inverted
  index is too hot;
- SimHash: 16-bit locality hash + pigeonhole half-match candidates,
  verified by Hamming distance.

Everything is native expressions (xxhash64, higher-order array
functions); no Python UDFs anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..functions.text import fingerprint_bag, shingles_of, word_count, words
from ..sources.tables import spread


def _materialized(df: DataFrame) -> DataFrame:
    """Persist a self-joined intermediate (MEMORY_AND_DISK).

    Every near-dup tier self-joins a computed index (shingles /
    signatures); without materialization Spark evaluates the index
    construction once per join side (measured 2× end-to-end on the
    shingle tier).  Spark's CacheManager keys entries by canonicalized
    plan, so repeated calls over the same input reuse one entry, and
    MEMORY_AND_DISK spills rather than OOMs at scale.  Nothing
    unpersists the entry yet: it stays resident for the life of the
    session (ROADMAP item 6 gives it an owner)."""
    return df.persist(StorageLevel.MEMORY_AND_DISK)


def _shingled(docs: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(doc, shingles) with the words array materialized in its own
    projection so the gram builder reads an attribute, not an inlined
    split() (see shingles_of PERF note)."""
    w = spread(docs.filter(word_count(text_col) >= n)).select(
        F.col(id_col).alias("doc"), words(text_col).alias("ws")
    )
    return w.select("doc", shingles_of(F.col("ws"), n).alias("shingles"))


def exact_dedup_groups(df: DataFrame, id_col: str, fp: Column) -> DataFrame:
    """Group rows by fingerprint; emit canonical (min id) + group size.
    One shuffle, map-side combined."""
    return (
        df.select(F.col(id_col), fp.alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias("canonical_id"), F.count("*").alias("n_dups"))
    )


def dedup_exact_bag(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    return exact_dedup_groups(docs, id_col, fingerprint_bag(text_col))


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    df_cap: int | None = None,
) -> DataFrame:
    """Exact n-gram-Jaccard near-dup pairs via an inverted shingle index.

    Plan: explode distinct shingles → self-equi-join on the shingle →
    count shared shingles per pair → Jaccard from |A|,|B|,|A∩B|.
    Scale notes: the join key is the shingle, so hot (very common)
    shingles create skew.  ``df_cap`` drops postings for shingles whose
    document frequency exceeds the cap before the join — the standard
    stop-shingle move at 100 TB.  IMPORTANT: capped runs undercount
    intersections for pairs that share dropped shingles, so Jaccard
    becomes a lower bound (results ⊆ uncapped results; equality holds
    when every df ≤ cap — both asserted in tests).  AQE skew-join
    handles residual skew.  No cross join anywhere.  The
    (doc, shingles) index is materialized once (``_materialized``) so
    the self-join's two sides don't each rebuild it.

    NEGATIVE A/B (r16, do not retry without a sparser corpus): a
    lossless PPJoin-style prefix filter (xxhash64 global order, per-doc
    prefix ``n − ⌈t·n⌉ + 1``, exact ``array_intersect`` verification)
    was implemented, proven bit-identical at
    t ∈ {0.3, 0.5, 0.7}, and MEASURED SLOWER 2.3–2.6× at sf0.1 (old
    best-of-4 2.27–2.43 s vs new 5.35–6.21 s; same pattern for the
    containment tier at t_micro=800k: 2.25 vs 5.74 s).  Why: this
    corpus is 5 000 docs × ~52 shingles with dense overlap — the
    prefix join only halves the pair stream (965k → 461k rows) and
    candidate dedup removes almost nothing (461k → 430k distinct
    pairs, i.e. candidates share ~1 prefix token), so the exact
    verification pays 430k string-array intersections plus two joins
    (measured 4.9 s alone) where the old shape's one
    map-side-combined pair aggregation was nearly free.  The filter
    wins when posting lists are long and qualifying pairs are sparse
    relative to candidates; at this corpus shape the inverted-index
    count join is the measured optimum.  Joining on xxhash64(shingle)
    instead of the string was separately rejected (r15): a cross-doc
    collision changes exact ``inter`` counts.
    """
    sh = _shingled(docs, id_col, text_col, n)
    sh = _materialized(sh)
    ex = sh.select(
        "doc", F.size("shingles").alias("n_sh"), F.explode("shingles").alias("sh")
    )
    if df_cap is not None:
        hot = (
            ex.groupBy("sh")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") > df_cap)
            .select("sh")
        )
        ex = ex.join(F.broadcast(hot), "sh", "left_anti")
    a, b = ex.alias("a"), ex.alias("b")
    # Size-compatibility pruning: Jaccard ≥ t forces t·|B| ≤ |A| ≤ |B|/t
    # (since |A∩B| ≤ min and |A∪B| ≥ max). Dropping incompatible pairs
    # inside the join predicate provably cannot change the result but
    # shrinks the pre-aggregation pair stream.
    t = float(threshold)
    size_ok = (F.col("a.n_sh") >= F.col("b.n_sh") * t) & (
        F.col("b.n_sh") >= F.col("a.n_sh") * t
    )
    pairs = (
        a.join(
            b.hint("shuffle_hash"),
            (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc") < F.col("b.doc")) & size_ok,
        )
        .groupBy(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.col("a.n_sh").alias("n_a"),
            F.col("b.n_sh").alias("n_b"),
        )
        .agg(F.count("*").alias("inter"))
    )
    union = (F.col("n_a") + F.col("n_b") - F.col("inter")).cast("long")
    jacc = F.col("inter").cast("double") / union.cast("double")
    return (
        pairs.select(
            "doc_a",
            "doc_b",
            F.col("inter").cast("long").alias("inter"),
            union.alias("n_union"),
            jacc.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
) -> DataFrame:
    """Fixed-width MinHash signature per document.

    Hash family: ``xxhash64(shingle, seed=i)`` for i in 0..H-1 —
    deterministic, native, and each document's signature is computed
    in a single narrow projection (no shuffle at all).
    """
    sh = _shingled(docs, id_col, text_col, n)
    def min_hash(i: int) -> Column:
        # closure over the seed; the lambda must take exactly one arg
        # (PySpark passes the element index as an optional 2nd arg).
        seed = F.lit(i)
        return F.array_min(F.transform("shingles", lambda s: F.xxhash64(s, seed)))

    sig = F.array(*[min_hash(i) for i in range(num_hashes)])
    return sh.select("doc", sig.alias("sig"))


def minhash_candidate_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    min_est_jaccard: float = 0.5,
) -> DataFrame:
    """LSH banding: split signatures into ``bands`` rows-per-band
    chunks, bucket-join on (band index, band content), then estimate
    Jaccard as the fraction of matching signature positions.

    Scale: candidates come from equality joins on band keys — a pure
    hash shuffle, linear in data size + collisions; tune
    (num_hashes, bands) for the target similarity threshold.
    """
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(docs, id_col, text_col, n, num_hashes)
    sigs = _materialized(sigs)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    *[F.element_at("sig", b * rows_per_band + j + 1) for j in range(rows_per_band)]
                ).alias("key"),
            )
            for b in range(bands)
        ]
    )
    banded = sigs.select("doc", "sig", F.explode(band_structs).alias("bk"))
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.bk.band") == F.col("b.bk.band"))
            & (F.col("a.bk.key") == F.col("b.bk.key"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    matches = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda eq: eq
        )
    )
    est = matches.cast("double") / F.lit(float(num_hashes))
    return cand.select(
        "doc_a", "doc_b", est.alias("est_jaccard")
    ).filter(F.col("est_jaccard") >= min_est_jaccard)


def minhash_banded(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """(doc, sig, bkey): one row per (document, LSH band), with the
    band index and the band's signature slice folded into ONE 64-bit
    key (xxhash64, band index as the leading operand so band 0 of one
    document never collides with band 1 of another by slice equality).

    A single-column band key is what lets an incremental ingest
    PERSIST the base corpus's band index as a table bucketed by
    ``bkey`` and probe it with a plain equi-join that is exchange-free
    on the index side (plans/pipeline.py:dedup_minhash_incremental).
    A cross-band xxhash64 collision can only ADD a candidate pair,
    which the signature-agreement estimate then scores like any other
    candidate — recall is unaffected, precision is protected by the
    estimate threshold.

    STORAGE-SHAPE TRADE (adjudicated round 14):
    persisting ``(bkey, doc, sig)`` repeats the 16-long signature once
    per band — ~3.0x the index bytes of a split ``(bkey, doc)`` probe
    index + ``(doc, sig)`` side table (sf100: 2.14 GB vs 0.71 GB) — but
    the bought signature LOCALITY makes the recurring per-increment
    probe ~20% faster (sf100 best-of-3: 9.4 s vs 11.5 s; sf10: 2.7 s vs
    3.1 s) because candidates leave the band join carrying both
    signatures, no second join.  The inline shape is kept HERE because the
    payload is small (16 longs) and probe wall is the cost paid every
    increment; the embedding tier makes the OPPOSITE call
    (plans/pipeline.py:dedup_embed_incremental splits) because its
    side payload is a 64-float vector, where per-chunk duplication
    would dominate the index."""
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(docs, id_col, text_col, n, num_hashes)
    band_keys = F.array(
        *[
            F.xxhash64(
                F.lit(b),
                *[
                    F.element_at("sig", b * rows_per_band + j + 1)
                    for j in range(rows_per_band)
                ],
            )
            for b in range(bands)
        ]
    )
    return sigs.select("doc", "sig", F.explode(band_keys).alias("bkey"))


def minhash_est_jaccard(sig_a: Column, sig_b: Column) -> Column:
    """Estimated Jaccard = fraction of agreeing signature positions."""
    matches = F.size(F.filter(F.zip_with(sig_a, sig_b, lambda x, y: x == y), lambda eq: eq))
    return matches.cast("double") / F.size(sig_a).cast("double")


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_of(hs: Column, bits: int = 16) -> Column:
    """``bits``-wide SimHash over a pre-hashed word array: for each
    bit b, sum ±1 votes across word hashes, take the sign.

    PERF: ``hs`` must be a materialized attribute holding
    ``transform(words, xxhash64)`` — the per-bit folds then reread
    the hash array instead of re-hashing (or worse, re-splitting) the
    text once per bit."""

    def bit(b: int) -> Column:
        def vote(acc: Column, h: Column) -> Column:
            is_set = F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1
            return acc + F.when(is_set, 1).otherwise(-1)

        return F.when(F.aggregate(hs, F.lit(0), vote) > 0, F.lit(1)).otherwise(F.lit(0))

    out = F.lit(0)
    for b in range(bits):
        out = out + (bit(b) * F.lit(1 << b))
    return out.cast("long")


def simhash16_of(hs: Column) -> Column:
    """Historical 16-bit alias of :func:`simhash_of`."""
    return simhash_of(hs, 16)


def simhash_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    bits: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance.

    Candidate generation uses the pigeonhole principle: the hash
    splits into ``max_hamming + 1`` chunks, and any pair within
    the Hamming budget must agree on at least one chunk — so an
    equi-join on (chunk_id, chunk_value) has *guaranteed* recall.
    Exact verification is the bit_count filter.  The chunk join is a
    plain hash shuffle (never a nested loop), which is what makes
    this the 100 TB formulation.

    ``bits=None`` (the default) auto-sizes the fingerprint width from
    a cheap corpus count so each pigeonhole CHUNK keeps bounded
    expected occupancy (similarity.auto_bucket_bits — the same
    log2(n) rule as the hyperplane-LSH planes): a FIXED 16-bit hash
    at 50k docs leaves 4-bit chunks with ~3k docs per bucket and a
    quadratic candidate join (measured 11.7x wall at the sf0.1→sf1
    notch); sized, the chunk join stays bounded.  Floored at the
    historical 16 bits so bounded corpora keep their exact output.

    SEMANTICS UNDER AUTO-SIZING (ADVICE r10): ``max_hamming`` is a
    budget in BITS, so the required bit-agreement FRACTION tightens as
    the hash widens — 3-of-16 accepts ~81% agreement, 3-of-36 ~92% —
    and the same document pair can drop out of the near-dup set purely
    because the corpus grew.  This is deliberate and cannot be fixed
    by scaling ``max_hamming`` with ``bits``: pigeonhole recall needs
    ``n_chunks = max_hamming + 1`` chunks, so a constant agreement
    fraction means ``n_chunks ∝ bits`` and per-chunk width stays
    CONSTANT (~16/3 bits here) — bucket occupancy then grows linearly
    with n and the candidate join is quadratic again, the exact
    failure auto-sizing exists to prevent.  Bounded buckets and a
    corpus-independent similarity definition are mutually exclusive in
    this family (same for hyperplane-LSH recall as n_planes grows).
    Consequences: cross-notch pair COUNTS from auto-sized runs are not
    comparable (the scale audit compares definitions, not just
    engines); pin ``bits`` explicitly when the definition must stay
    fixed across corpus sizes.

    ``bits`` is rounded down to a multiple of ``n_chunks`` (floored at
    ``n_chunks``) so every fingerprint bit belongs to exactly one
    pigeonhole chunk — otherwise the top ``bits % n_chunks`` bits pay
    the per-bit fold cost while contributing only to the verification
    filter, and the occupancy model above overstates chunk width.
    """
    n_chunks = max_hamming + 1
    if bits is None:
        from .similarity import auto_bucket_bits

        bits = max(16, min(48, n_chunks * auto_bucket_bits(docs.count())))
    bits = max(n_chunks, bits - bits % n_chunks)
    chunk_bits = bits // n_chunks
    h = (
        spread(docs).select(F.col(id_col).alias("doc"), words(text_col).alias("ws"))
        .select("doc", F.transform("ws", lambda w: F.xxhash64(w)).alias("hs"))
        .select("doc", simhash_of(F.col("hs"), bits).alias("sh"))
    )
    h = _materialized(h)
    chunks = F.array(
        *[
            F.struct(
                F.lit(i).alias("chunk_id"),
                F.shiftright("sh", i * chunk_bits)
                .bitwiseAND(F.lit((1 << chunk_bits) - 1))
                .alias("chunk_val"),
            )
            for i in range(n_chunks)
        ]
    )
    ex = h.select("doc", "sh", F.explode(chunks).alias("c"))
    a, b = ex.alias("a"), ex.alias("b")
    cand = a.join(
        b,
        (F.col("a.c.chunk_id") == F.col("b.c.chunk_id"))
        & (F.col("a.c.chunk_val") == F.col("b.c.chunk_val"))
        & (F.col("a.doc") < F.col("b.doc")),
    )
    ham = F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh")))
    return (
        cand.select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            ham.cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["doc_a", "doc_b"])
    )


def containment_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold_micro: int = 800_000,
    df_cap: int | None = None,
) -> DataFrame:
    """Directed shingle-containment pairs: |A∩B| / |A| ≥ threshold.

    Containment is the *asymmetric* near-dup metric Jaccard misses: a
    short document fully quoted inside a long one scores ~1.0 here but
    near 0 on Jaccard (the union is dominated by the long doc).  It is
    the standard screen for doc-in-doc duplication — boilerplate,
    quotations, wrapper pages around syndicated bodies — and the
    containment direction tells you which side is the fragment.

    Plan shape is the Jaccard tier's inverted shingle index with two
    deltas: the equi-join is directed (``a.doc != b.doc`` — both
    orientations are meaningful) and there is NO size-compatibility
    prune (containment allows |B| >> |A|), so ``df_cap`` is the only
    skew lever — same lower-bound caveat as
    :func:`ngram_jaccard_pairs`.  The threshold is applied as an exact
    integer cross-multiply (``inter * 1e6 >= t_micro * n_a``) and the
    reported score is an exact integer division — no float anywhere,
    so the result is bit-identical in any engine and any plan.

    Scale: one shuffle on the shingle (AQE-skewable), one on the
    directed pair; candidate space = pairs sharing ≥1 surviving
    shingle.  No cross join (asserted in PLANS.md).
    """
    sh = _shingled(docs, id_col, text_col, n)
    sh = _materialized(sh)
    ex = sh.select(
        "doc", F.size("shingles").alias("n_sh"), F.explode("shingles").alias("sh")
    )
    if df_cap is not None:
        hot = (
            ex.groupBy("sh")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") > df_cap)
            .select("sh")
        )
        ex = ex.join(F.broadcast(hot), "sh", "left_anti")
    a, b = ex.alias("a"), ex.alias("b")
    pairs = (
        a.join(
            b.hint("shuffle_hash"),
            (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc") != F.col("b.doc")),
        )
        .groupBy(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.col("a.n_sh").alias("n_a"),
        )
        .agg(F.count("*").alias("inter"))
    )
    return (
        pairs.filter(
            F.col("inter") * F.lit(1_000_000) >= F.lit(threshold_micro) * F.col("n_a")
        )
        .select(
            "doc_a",
            "doc_b",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("inter").cast("long").alias("inter"),
            F.expr("CAST(inter * 1000000 DIV n_a AS BIGINT)").alias("containment_micro"),
        )
    )


def substring_windows(
    docs: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame]:
    """Stride-1 k-token rolling windows over every document.

    Returns ``(base, w)``: ``base`` is one row per document —
    ``(id_col, toks, n)`` over ALL documents; ``w`` is one row per
    window occurrence — ``(id_col, s, h)`` with the 1-based start and
    a 16-hex md5 prefix of the exact window text (engine-portable
    digest identity; see :func:`substring_window_index` for the scale
    rationale).  Documents shorter than ``k`` tokens appear in
    ``base`` but hold no windows."""
    toks = F.split(text_col, " ")
    base = docs.select(id_col, toks.alias("toks"), F.size(toks).alias("n"))
    w = (
        base.filter(F.col("n") >= k)
        .select(
            id_col,
            F.explode(F.sequence(F.lit(1), F.col("n") - (k - 1))).alias("s"),
            "toks",
        )
        .select(
            id_col,
            "s",
            F.substring(
                F.md5(
                    F.concat_ws(
                        " ", F.slice("toks", F.col("s"), F.lit(k))
                    ).cast("binary")
                ),
                1,
                16,
            ).alias("h"),
        )
    )
    return base, w


def substring_window_index(
    docs: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame]:
    """Exact-substring duplicate index (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"), approximated at token
    granularity with stride-1 rolling windows instead of a suffix
    array: every k-token window whose exact text occurs at least twice
    anywhere in the corpus (other documents OR a repeat within the same
    document) marks a duplicated span.

    Returns ``(base, dupw)``:

    - ``base``: one row per document — ``(id_col, toks, n)`` with the
      space-split token array and its length (ALL documents, including
      those shorter than ``k`` tokens, which cannot hold a window);
    - ``dupw``: one row per duplicated window occurrence —
      ``(id_col, s)`` with the 1-based start position; the span covers
      token positions ``[s, s + k - 1]``.

    Window identity travels as a 16-hex-char md5 prefix of the exact
    window text, so the operator is engine-portable (an oracle computes
    the identical key) and the shuffle carries 16 bytes per window, not
    the window text.  At production scale the same plan would swap the
    md5 prefix for ``xxhash64`` (8 bytes, no hex): nothing downstream
    depends on the digest beyond equality.

    Scale: window expansion is a generator (one row per token, no
    shuffle — the same shape as tokenization itself); corpus-wide
    frequency is ONE shuffle on the window digest with map-side partial
    counts; membership is an equi semi-join on the same digest (AQE
    reuses the partitioning).  No pairwise comparison and no suffix
    array: the digest groupBy carries all cross-document information,
    which is what makes stride-1 windows feasible where a suffix array
    needs corpus-order global sort."""
    base, w = substring_windows(docs, k, id_col, text_col)
    dup = (
        w.groupBy("h")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 2)
        .select("h")
    )
    dupw = w.join(dup, "h", "semi").select(id_col, "s")
    return base, dupw
