#!/usr/bin/env python
"""Generate a 10x-scaled corpus under the scratch root (``.scratch/sf1``) from the
read-only /root/testdata/sf0.1 fixtures, for the one-notch-up scaling
audit.

Scale-up model: ten disjoint key-shifted copies of every FACT table,
with every PK/FK shifted by the SAME per-entity stride so referential
integrity holds copy-by-copy (copy 0 is the original bytes).  The
tiny dimension tables (region, nation) do NOT scale, exactly like
TPC-H.  Two perturbations keep similarity workloads honest:

- documents: copies c>0 get deterministic word-level substitutions
  THROUGHOUT the text (~1 token in 3, chosen by a hash of token ×
  position × copy, rewritten to a copy-tagged variant) and n_chars
  recomputed.  The round-9 version perturbed only a short prefix,
  which made every document a 10-way NEAR-duplicate — shingle Jaccard
  across copies stayed ≈1, true pair counts grew ~1000x, and the
  scale audit measured corpus pathology instead of engine scaling.
  At 1-in-3 a token survives untouched in BOTH of two copies with
  p = (2/3)^2 ≈ 0.44, a 3-token shingle with ≈ 0.09, so cross-copy
  Jaccard lands ≈ 0.05 — far below every dedup threshold even for
  short documents (a 1-in-6 draft still leaked ~7x extra cross-copy
  pairs through them) — while WITHIN-copy duplicate structure (the
  original corpus's own planted near-dups) is preserved exactly — the
  substitution is a pure function of (token, position, copy), so docs
  that matched inside sf0.1 still match inside each copy, and true
  pair counts grow ~linearly (~10x);
- embeddings: copy c circularly rotates the vector by c dimensions —
  norms and within-copy geometry preserved, cross-copy vectors not
  identical.

Timestamps are left unshifted: the corpus time RANGE stays fixed and
per-day densities grow 10x, which is the hard direction for windowed
keys (more rows per partition key), i.e. the audit-relevant one.

Writes one parquet dir per table, 32 files each, so scans start with
cluster-shaped parallelism.  Idempotent via _SUCCESS markers.
"""

from __future__ import annotations

import argparse
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# Defaults build the sf0.1 -> sf1 notch; --src/--out/--stride-scale/
# --doc-tag stack the same construction one notch higher (sf1 -> sf10:
# strides x10 so shifted ids never collide with sf1's own shifted
# range, and a distinct doc-substitution tag so the second layer of
# word substitutions cannot alias the first).
SRC = "/root/testdata/sf0.1"
COPIES = 10

# per-entity key strides: power-of-ten above the sf0.1 max key so
# shifted ids are recognizable and can never collide
STRIDES = {
    "orderkey": 1_000_000,
    "custkey": 100_000,
    "suppkey": 10_000,
    "partkey": 100_000,
    "event_id": 1_000_000,
    "user_id": 100_000,
    "doc_id": 100_000,
    "vec_id": 100_000,
}


def main() -> None:
    ap = argparse.ArgumentParser()
    from data_engineering_assessment_spark.sources.layout import SCRATCH_ROOT

    ap.add_argument("--src", default=SRC)
    ap.add_argument("--out", default=os.path.join(SCRATCH_ROOT, "sf1"))
    ap.add_argument("--stride-scale", type=int, default=1)
    ap.add_argument("--doc-tag", default="w{c}x")
    args = ap.parse_args()
    src, out_dir = args.src, args.out
    # scaled strides stay local so a second main() call (or an import
    # that re-enters) can never compound the scaling
    strides = {k: v * args.stride_scale for k, v in STRIDES.items()}

    from pyspark.sql import functions as F

    from data_engineering_assessment_spark.session import get_spark

    spark = get_spark()
    os.makedirs(out_dir, exist_ok=True)

    def shifted(df, c: int, cols: dict[str, str]):
        out = df
        for col, ent in cols.items():
            out = out.withColumn(col, F.col(col) + F.lit(c * strides[ent]))
        return out

    def build(name: str, key_cols: dict[str, str], post=None) -> None:
        dst = f"{out_dir}/{name}.parquet"
        if os.path.exists(os.path.join(dst, "_SUCCESS")):
            print(f"{name}: exists, skipping")
            return
        base = spark.read.parquet(f"{src}/{name}.parquet")
        parts = []
        for c in range(COPIES):
            cp = shifted(base, c, key_cols)
            if post is not None:
                cp = post(cp, c)
            parts.append(cp)
        df = parts[0]
        for p in parts[1:]:
            df = df.unionAll(p)
        df.repartition(32).write.mode("overwrite").parquet(dst)
        n = spark.read.parquet(dst).count()
        print(f"{name}: {n} rows")

    # dimensions: copy through unscaled (TPC-H style)
    for name in ("region", "nation"):
        dst = f"{out_dir}/{name}.parquet"
        if not os.path.exists(os.path.join(dst, "_SUCCESS")):
            spark.read.parquet(f"{src}/{name}.parquet").coalesce(1).write.mode(
                "overwrite"
            ).parquet(dst)
            print(f"{name}: copied")

    build("customer", {"c_custkey": "custkey"})
    build("supplier", {"s_suppkey": "suppkey"})
    build("part", {"p_partkey": "partkey"})
    build("orders", {"o_orderkey": "orderkey", "o_custkey": "custkey"})
    build(
        "lineitem",
        {
            "l_orderkey": "orderkey",
            "l_partkey": "partkey",
            "l_suppkey": "suppkey",
        },
    )
    build("events", {"event_id": "event_id", "user_id": "user_id"})

    def doc_post(df, c):
        if c == 0:
            return df
        from pyspark.sql import functions as F

        # seeded word-level substitution throughout: ~1 token in 3
        # becomes a copy-tagged variant, site selection a pure
        # function of (token, position, copy) — see module docstring
        subst = F.transform(
            F.split("text", " "),
            lambda tok, i: F.when(
                F.pmod(F.xxhash64(tok, i, F.lit(c)), F.lit(3)) == 0,
                F.concat(F.lit(args.doc_tag.format(c=c)), tok),
            ).otherwise(tok),
        )
        return df.withColumn("text", F.concat_ws(" ", subst)).withColumn(
            "n_chars", F.length("text").cast("long")
        )

    build("documents", {"doc_id": "doc_id"}, post=doc_post)

    def emb_post(df, c):
        if c == 0:
            return df
        from pyspark.sql import functions as F

        d = len(df.select("embedding").first()[0])
        rot = c % d
        return df.withColumn(
            "embedding",
            F.concat(
                F.slice("embedding", rot + 1, d - rot),
                F.slice("embedding", 1, rot),
            ),
        )

    build("embeddings", {"vec_id": "vec_id"}, post=emb_post)
    print("done:", out_dir)


if __name__ == "__main__":
    main()
