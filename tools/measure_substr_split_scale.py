"""Data-growth scaling for the two round-4 composite operators that had
no growth point of their own (r4 verdict item 8): exact_substring_dedup
and stratified_split.  Reuses measure_dedup_scale's 1x/4x/16x corpus
construction (word-permuted copies: more-of-the-same-data growth, each
copy-universe repeating the base duplicate structure, copies NOT
near-dups of their originals).

Per scale it reports the volumes that decide 100-TB survival:

exact_substring_dedup — gram rows (must stay k x tokens, linear),
distinct/duplicated gram hashes, dup-start rows (the candidate-volume
analog: occurrences of duplicated grams), covered tokens, and the full
query wall.  There is no band knob here — duplication detection is an
exact groupBy(gram hash) — so the scale question is purely "does any
per-doc quantity curve up?".

stratified_split — banded candidate pairs with the operator's own
minhash_band_shape(n) ENGAGED (5000 -> 4x4, 20000/80000 -> 2x8 per the
measured rule), confirmed Jaccard pairs, connected-component count,
split sizes, and wall.  This demonstrates the band rule firing at the
scale boundary inside a composite operator, not just in isolation.

    python tools/measure_substr_split_scale.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tools"))

from measure_dedup_scale import MULTS, build_corpus  # noqa: E402


def measure(spark, sf_dir: str) -> dict:
    from pyspark.sql import functions as F

    from unraveldocs_spark.scanfan import scan
    from unraveldocs_spark.trainingdata import (
        _ESUB_K,
        _jaccard_pairs,
        connected_components,
        minhash_band_shape,
        q_exact_substring_dedup,
        q_stratified_split,
    )

    d = scan(spark, sf_dir, "documents")
    n_docs = d.count()

    # --- exact_substring_dedup volumes -----------------------------------
    toks = F.split(F.trim(F.col("text")), r"\s+")
    base = d.select("doc_id", toks.alias("toks"))
    starts = F.when(
        F.size("toks") >= _ESUB_K, F.sequence(F.lit(0), F.size("toks") - _ESUB_K)
    ).otherwise(F.array().cast("array<int>"))
    grams = base.select(
        "doc_id",
        F.posexplode(
            F.transform(
                starts,
                lambda i: F.substring(
                    F.md5(
                        F.array_join(F.slice(F.col("toks"), i + 1, _ESUB_K), " ")
                        .cast("binary")
                    ),
                    1,
                    14,
                ),
            )
        ).alias("pos", "gh"),
    )
    gram_rows = grams.count()
    by_gh = grams.groupBy("gh").agg(F.count(F.lit(1)).alias("n_occ"))
    distinct_grams = by_gh.count()
    dup = by_gh.filter(F.col("n_occ") >= 2)
    dup_grams = dup.count()
    dup_start_rows = int(dup.agg(F.sum("n_occ")).collect()[0][0] or 0)

    t0 = time.monotonic()
    res = q_exact_substring_dedup(spark, sf_dir)
    covered = int(res.agg(F.sum("n_dup_tokens")).collect()[0][0] or 0)
    esub_wall = time.monotonic() - t0

    # --- stratified_split volumes ----------------------------------------
    shape = minhash_band_shape(n_docs)
    t0 = time.monotonic()
    pairs = _jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    n_pairs = pairs.count()
    n_clusters = connected_components(pairs).select("label").distinct().count()
    split_sizes = {
        r["split"]: r["n"]
        for r in q_stratified_split(spark, sf_dir)
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    split_wall = time.monotonic() - t0

    return {
        "n_docs": n_docs,
        "gram_rows": gram_rows,
        "distinct_grams": distinct_grams,
        "dup_grams": dup_grams,
        "dup_start_rows": dup_start_rows,
        "covered_tokens": covered,
        "esub_wall_s": round(esub_wall, 2),
        "band_shape": f"{shape[0]}x{shape[1]}",
        "conf_pairs": n_pairs,
        "pairs_per_doc": round(n_pairs / n_docs, 3),
        "n_clusters": n_clusters,
        "split_sizes": split_sizes,
        "split_wall_s": round(split_wall, 2),
    }


def main():
    base_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    from unraveldocs_spark.session import build_session

    spark = build_session(
        "substr-split-scale",
        master=f"local[{os.cpu_count()}]",
        shuffle_partitions=32,
        extra_conf={"spark.local.dir": "/dev/shm/substr-split-scale"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    rows = []
    for mult in MULTS:
        sf = build_corpus(spark, base_dir, mult)
        stats = measure(spark, sf)
        stats["mult"] = mult
        rows.append(stats)
        print(stats, file=sys.stderr)

    hdr = (
        "| growth | docs | gram rows | dup grams | dup-start rows | covered toks "
        "| esub s | band shape | conf pairs | pairs/doc | clusters | split sizes "
        "| split s |"
    )
    md = [
        "# exact_substring_dedup + stratified_split data-growth scaling "
        "(tools/measure_substr_split_scale.py)",
        "",
        "Corpus grown 1x -> 4x -> 16x from sf0.1 documents "
        "(measure_dedup_scale's word-permuted-copy growth model).  "
        "exact_substring_dedup columns measure the gram pipeline "
        "(linear-in-tokens check + duplicated-gram accounting volume); "
        "stratified_split columns show the operator's own "
        "minhash_band_shape(n) engaging as the corpus crosses the "
        "8000-doc envelope, and the downstream pair/cluster volumes it "
        "holds flat.",
        "",
        hdr,
        "|" + "---|" * (hdr.count("|") - 1),
    ]
    for s in rows:
        sizes = ",".join(f"{k}:{v}" for k, v in sorted(s["split_sizes"].items()))
        md.append(
            f"| {s['mult']}x | {s['n_docs']} | {s['gram_rows']} | "
            f"{s['dup_grams']} | {s['dup_start_rows']} | {s['covered_tokens']} | "
            f"{s['esub_wall_s']} | {s['band_shape']} | {s['conf_pairs']} | "
            f"{s['pairs_per_doc']} | {s['n_clusters']} | {sizes} | "
            f"{s['split_wall_s']} |"
        )
    out = os.path.join(REPO, "BENCH", "SUBSTR_SPLIT_SCALE.md")
    with open(out, "w") as f:
        f.write("\n".join(md) + "\n")
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
