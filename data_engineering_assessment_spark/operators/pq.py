"""Product-quantization (PQ) approximate nearest neighbor search —
the third classic ANN scale path next to hyperplane LSH
(operators/similarity.py) and IVF (operators/ivf.py).

PQ splits each d-dim vector into ``m`` subvectors and vector-quantizes
every subspace against its own ``ksub``-entry codebook, compressing a
vector to m small codes (here 64 float32 dims → 4 bytes: 64× smaller).
Search scans CODES, not vectors: a query scores a candidate by
gathering its m codebook entries (asymmetric distance computation) —
at 100 TB the code table is what fits in memory/cache while raw
vectors do not, which is precisely why FAISS-style engines scan PQ
codes and only then *refine* the short list against true vectors.

Scale design mirrors ivf.py:
- codebooks are tiny driver state (m × ksub × d/m floats); training
  follows FAISS practice: a deterministic hash-sample bounded at
  ~train_cap vectors (independent of corpus size) is collected once
  and Lloyd's iterates in vectorized NumPy on the driver — one Spark
  job for training no matter how many rounds;
- encoding and ADC scoring are Arrow-batched matrix ops against the
  broadcast codebooks; candidate scoring is a linear scan of codes
  (cheap) followed by an exact rescore of the top ``refine``×k short
  list (a hash join back to the corpus vectors by id);
- deterministic end-to-end: seeds are the ksub corpus subvectors with
  the smallest xxhash64(id) per subspace, Lloyd updates are exact
  averages, ranking ties break on neighbor id.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..sources.tables import spread
from .similarity import _micro, pd_cosine


def collect_train_sample(
    corpus: DataFrame,
    train_cap: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_total: int | None = None,
) -> list:
    """The deterministic bounded training sample both quantizer
    trainers draw: hash-mod pre-filter when the corpus exceeds the
    cap, then (xxhash64, id)-sorted rows hard-capped to ``train_cap``.
    Factored out (r15) so a composition that trains TWO quantizers
    (IVF-PQ) can share one count/collect when the whole corpus fits
    under both caps — the sample a trainer sees is bit-identical to
    what it would have drawn itself (no filter fires below the cap,
    and the sort+cap is pure row arithmetic)."""
    v = spread(corpus).select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    if n_total is None:
        n_total = v.count()
    if n_total > train_cap:
        # keep ~train_cap rows via a deterministic xxhash64 threshold
        frac_bits = max(1, (n_total + train_cap - 1) // train_cap)
        v = v.filter(F.pmod(F.xxhash64("id"), F.lit(frac_bits)) == 0)
    # bounded driver collect (≤ ~train_cap rows of d floats).  The
    # hash-mod filter bounds the sample only in EXPECTATION, so after
    # collecting, sort deterministically (hash, then id — a 64-bit
    # hash tie must not fall back to nondeterministic collect order)
    # and hard-cap to exactly train_cap rows.
    return sorted(
        v.withColumn("h", F.xxhash64("id")).select("h", "id", "vec").collect(),
        key=lambda r: (r.h, r.id),
    )[:train_cap]


# Single source of truth for this trainer's sample bound — imported by
# the IVF-PQ shared-sample guard (ADVICE r15, see ivf.KM_TRAIN_CAP).
PQ_TRAIN_CAP = 2048


def train_pq_codebooks(
    corpus: DataFrame,
    m: int = 4,
    ksub: int = 16,
    n_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_cap: int = PQ_TRAIN_CAP,
    sample_rows: list | None = None,
    n_total: int | None = None,
) -> np.ndarray:
    """Deterministic Lloyd's k-means per subspace (Euclidean), all
    subspaces trained together; returns (m × ksub × d/m) codebooks.

    Training runs on a deterministic hash-sample of ≤ ~``train_cap``
    vectors (standard PQ practice — codebooks need a representative
    sample, not the corpus; FAISS trains on ~256·ksub points).  The
    sample is BOUNDED regardless of corpus size, so it is collected to
    the driver once and Lloyd's runs in vectorized NumPy there: one
    Spark job total instead of 2·n_iter shuffle+collect rounds.  Rows
    are sorted by xxhash64(id) before any summation, so the result is
    bit-identical no matter how the corpus was partitioned.
    ``sample_rows`` (r15) injects a pre-collected, already-sorted
    sample (collect_train_sample with a cap ≥ this one and the whole
    corpus under it) — sliced to this trainer's own cap, bit-identical
    to what it would have drawn itself."""
    if sample_rows is not None:
        rows = sample_rows[:train_cap]
    else:
        rows = collect_train_sample(corpus, train_cap, id_col, vec_col, n_total=n_total)
    if not rows:
        raise ValueError("empty training corpus")
    X = np.array([list(r.vec) for r in rows], dtype=np.float64)
    d = X.shape[1]
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m

    # deterministic seeds: ksub smallest-hash vectors, sliced per subspace
    books = np.stack([X[:ksub, s * dsub : (s + 1) * dsub] for s in range(m)])

    for _ in range(n_iter):
        new = books.copy()
        for s in range(m):
            Xs = X[:, s * dsub : (s + 1) * dsub]
            diff = Xs[:, None, :] - books[s][None, :, :]
            cells = np.argmin((diff * diff).sum(axis=2), axis=1)
            for c in np.unique(cells):
                new[s, c] = Xs[cells == c].mean(axis=0)
        if np.allclose(new, books, atol=1e-9):
            books = new
            break
        books = new
    return books


def _encode_udf(books: np.ndarray):
    m, ksub, dsub = books.shape

    @pandas_udf("array<int>")
    def _enc(xs: pd.Series) -> pd.Series:
        X = np.stack(xs.values).astype(np.float64)
        codes = np.empty((len(X), m), dtype=np.int32)
        for s in range(m):
            Xs = X[:, s * dsub : (s + 1) * dsub]
            diff = Xs[:, None, :] - books[s][None, :, :]
            codes[:, s] = np.argmin((diff * diff).sum(axis=2), axis=1)
        return pd.Series(list(codes))

    return _enc


def pq_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    m: int = 4,
    ksub: int = 16,
    n_iter: int = 5,
    refine: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k cosine neighbors: ADC scan over PQ codes →
    top ``refine``·k short list → exact rescore against true vectors.
    Returns (q_id, neighbor_id, rank, cosine_micro)."""
    books = train_pq_codebooks(corpus, m, ksub, n_iter, id_col, vec_col)
    enc = _encode_udf(books)

    c = spread(corpus).select(
        F.col(id_col).alias("c_id"), F.col(vec_col).alias("c_vec")
    )
    codes = c.select("c_id", enc("c_vec").alias("codes"))

    q_rows = queries.select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
    ).collect()  # bounded query batch, same contract as cosine_topk
    if not q_rows:  # empty query batch: 1-D np arrays break axis math
        return corpus.sparkSession.createDataFrame(
            [], "q_id long, neighbor_id long, rank int, cosine_micro bigint"
        )
    q_ids = np.array([r.q_id for r in q_rows])
    Q = np.array([list(r.q_vec) for r in q_rows], dtype=np.float64)
    Qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-12)

    mm, kk, dsub = books.shape
    # distance tables: dot(q_sub, codebook entry) per (query, sub, cell);
    # reconstructed-vector norms are computed per candidate in the scan
    tables = np.einsum("qsd,skd->qsk", Qn.reshape(len(Qn), mm, dsub), books)

    # ADC scores leave Python as a bare array<double> per candidate
    # (position = query index) and the (position → q_id) mapping is a
    # broadcast literal applied JVM-side after posexplode (r16, guide
    # §4.1/§4.2): the previous array<struct<q,s>> return built n·n_q
    # Python dicts per batch and shipped a struct stream through
    # Arrow, and the UDF also received the c_id column it never read.
    # Scores are the identical doubles; only the serialization shape
    # changed (A/B: 2.42 → 1.92 s one session, flat within noise the
    # other; strictly less per-row Python work at any scale).
    @pandas_udf("array<double>")
    def _adc(code_arr: pd.Series) -> pd.Series:
        C = np.stack(code_arr.values).astype(np.int64)  # (n, m)
        n = len(C)
        # gather reconstructed vectors: (n, m, dsub)
        recon = books[np.arange(mm)[None, :], C]
        norms = np.maximum(np.linalg.norm(recon.reshape(n, -1), axis=1), 1e-12)
        # ADC dot via tables: (n_q, n)
        dots = np.zeros((len(Qn), n))
        for s in range(mm):
            dots += tables[:, s, :][:, C[:, s]]
        scores = (dots / norms[None, :]).T  # (n, n_q)
        return pd.Series(list(scores))

    qid_arr = F.array(*[F.lit(int(x)).cast("long") for x in q_ids])
    scored = (
        codes.select("c_id", F.posexplode(_adc("codes")).alias("pos", "adc"))
        .select(
            "c_id", F.element_at(qid_arr, F.col("pos") + 1).alias("q_id"), "adc"
        )
        .filter(F.col("q_id") != F.col("c_id"))
    )
    w_adc = Window.partitionBy("q_id").orderBy(F.desc("adc"), F.asc("c_id"))
    short = (
        scored.withColumn("r", F.row_number().over(w_adc))
        .filter(F.col("r") <= refine * k)
        .select("q_id", "c_id")
    )

    qdf = queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"))
    exact = (
        short.join(c, "c_id")
        .join(F.broadcast(qdf), "q_id")
        .select("q_id", "c_id", pd_cosine("q_vec", "c_vec").alias("cosine"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("c_id"))
    return (
        exact.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "q_id",
            F.col("c_id").alias("neighbor_id"),
            F.col("rank").cast("int").alias("rank"),
            _micro("cosine").alias("cosine_micro"),
        )
    )


def ivfpq_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    n_clusters: int = 16,
    nprobe: int = 4,
    m: int = 4,
    ksub: int = 16,
    n_iter: int = 5,
    refine: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ composition — the FAISS ``IVFx,PQy`` index as relational
    ops: the coarse quantizer (operators/ivf.py k-means) prunes the
    corpus to ``nprobe`` probed cells per query, the ADC scan scores
    only THOSE candidates from their PQ codes, and the top
    ``refine``·k short list is rescored exactly.  Completes the ANN
    ladder: LSH (data-independent), IVF (prune, exact scan), PQ
    (full scan, compressed scores), IVF-PQ (prune + compressed).

    Scale: the two trainers collect bounded samples only; corpus-side
    work is one Arrow-batched assign+encode pass; the probed-cell
    candidate set is |corpus|·nprobe/n_clusters in expectation — the
    scan cost drops with the cell count while the code table is
    already m bytes per vector, the memory shape that survives
    100 TB.  Deterministic: both trainers are hash-seeded, ADC ties
    break on neighbor id."""
    from .ivf import KM_TRAIN_CAP, _assign_udf, train_kmeans_sampled

    # ONE count + ONE collect for both quantizer trainers when the
    # whole corpus fits under both training caps (r15, guide §1.2:
    # the two trainers previously each ran an identical count job and
    # an identical collect job over the same frame).  Above the caps
    # the per-trainer hash-mod filters differ, so each trainer draws
    # its own sample exactly as before — identical results either way.
    # Caps come from the trainers' own module constants (ADVICE r15:
    # a literal copy here could desync from a changed default and the
    # hash-mod pre-filter would fire in one path but not the other);
    # the fallback threads n_total through so neither trainer re-runs
    # the count this composition already paid.
    km_cap, pq_cap = KM_TRAIN_CAP, PQ_TRAIN_CAP
    v = spread(corpus).select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    n_total = v.count()
    if n_total <= min(km_cap, pq_cap):
        shared = collect_train_sample(
            corpus, max(km_cap, pq_cap), id_col, vec_col, n_total=n_total
        )
        centroids = train_kmeans_sampled(
            corpus, n_clusters, n_iter, id_col, vec_col, sample_rows=shared
        )
        books = train_pq_codebooks(
            corpus, m, ksub, n_iter, id_col, vec_col, sample_rows=shared
        )
    else:
        centroids = train_kmeans_sampled(
            corpus, n_clusters, n_iter, id_col, vec_col, n_total=n_total
        )
        books = train_pq_codebooks(
            corpus, m, ksub, n_iter, id_col, vec_col, n_total=n_total
        )
    assign = _assign_udf(centroids)
    enc = _encode_udf(books)

    c = spread(corpus).select(
        F.col(id_col).alias("c_id"), F.col(vec_col).alias("c_vec")
    )
    codes = c.select(
        "c_id", assign("c_vec").alias("cell"), enc("c_vec").alias("codes")
    )

    q_rows = queries.select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
    ).collect()  # bounded query batch, same contract as pq_ann_topk
    if not q_rows:  # empty query batch: 1-D np arrays break axis math
        return corpus.sparkSession.createDataFrame(
            [], "q_id long, neighbor_id long, rank int, cosine_micro bigint"
        )
    q_ids = np.array([r.q_id for r in q_rows])
    q_index = {int(qid): i for i, qid in enumerate(q_ids)}
    Q = np.array([list(r.q_vec) for r in q_rows], dtype=np.float64)
    Qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-12)

    # coarse probes, computed driver-side over the bounded batch
    Cn = centroids / np.maximum(
        np.linalg.norm(centroids, axis=1, keepdims=True), 1e-12
    )
    probe_order = np.argsort(-(Qn @ Cn.T), axis=1)[:, :nprobe]
    spark = corpus.sparkSession
    qcells = spark.createDataFrame(
        [
            (int(q_ids[i]), int(cell))
            for i in range(len(q_ids))
            for cell in probe_order[i]
        ],
        "q_id long, cell int",
    )

    cand = codes.join(F.broadcast(qcells), "cell").filter(
        F.col("q_id") != F.col("c_id")
    )

    mm, kk, dsub = books.shape
    tables = np.einsum("qsd,skd->qsk", Qn.reshape(len(Qn), mm, dsub), books)

    @pandas_udf("double")
    def _adc_one(qid_s: pd.Series, code_arr: pd.Series) -> pd.Series:
        C = np.stack(code_arr.values).astype(np.int64)  # (n, m)
        qi = np.array([q_index[int(q)] for q in qid_s.values])
        recon = books[np.arange(mm)[None, :], C]
        norms = np.maximum(np.linalg.norm(recon.reshape(len(C), -1), axis=1), 1e-12)
        dots = tables[qi[:, None], np.arange(mm)[None, :], C].sum(axis=1)
        return pd.Series(dots / norms)

    scored = cand.select("q_id", "c_id", _adc_one("q_id", "codes").alias("adc"))
    w_adc = Window.partitionBy("q_id").orderBy(F.desc("adc"), F.asc("c_id"))
    short = (
        scored.withColumn("r", F.row_number().over(w_adc))
        .filter(F.col("r") <= refine * k)
        .select("q_id", "c_id")
    )

    qdf = queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"))
    exact = (
        short.join(c, "c_id")
        .join(F.broadcast(qdf), "q_id")
        .select("q_id", "c_id", pd_cosine("q_vec", "c_vec").alias("cosine"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("c_id"))
    return (
        exact.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "q_id",
            F.col("c_id").alias("neighbor_id"),
            F.col("rank").cast("int").alias("rank"),
            _micro("cosine").alias("cosine_micro"),
        )
    )
