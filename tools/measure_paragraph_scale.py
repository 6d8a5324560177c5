"""Paragraph-dedup data-growth probe past the 128k-paragraph envelope
(r5 VERDICT #8): SUBSTR_SPLIT_SCALE stops at 80k DOCS; this grows the
sf0.1 corpus 1x -> 4x with measure_dedup_scale's word-permuted-copy
model so `paragraph_upper_bound` crosses >= 160k (~49k -> ~195k), i.e.
past the point where `minhash_band_shape`'s K=16 rows cap binds (scale
= ceil(n/8000) still > 1 after one widening, but rows*2 = 16 would
leave a single band, so the shape HOLDS at 2x8 — production raises K
alongside n, per the rule's docstring).  The question this probe
answers with data: does the capped 2x8 shape hold paragraph candidate
pairs proportional from pub ~49k to pub ~195k, or do baseline-
similarity collisions curve up (the n^2 * s^r term the cap stops
defusing)?

Appends a table to BENCH/PARAGRAPH_SCALE.md.

    python tools/measure_paragraph_scale.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tools"))

from measure_dedup_scale import build_corpus  # noqa: E402

MULTS = (1, 4)


def measure(spark, sf_dir: str) -> dict:
    from pyspark.sql import functions as F

    from unraveldocs_spark.scanfan import scan
    from unraveldocs_spark.trainingdata import (
        _minhash_candidate_pairs,
        _paragraphs,
        _spark_shingles,
        minhash_band_shape,
        paragraph_upper_bound,
        q_dedup_paragraph,
    )

    docs = scan(spark, sf_dir, "documents")
    n_docs = docs.count()
    pub = paragraph_upper_bound(docs)
    shape = minhash_band_shape(pub)

    paras = _paragraphs(docs)
    n_paras = paras.count()
    keepers = (
        paras.withColumn("para_id", F.col("doc_id") * 1024 + F.col("para_idx"))
        .groupBy(F.md5(F.col("para").cast("binary")).alias("h"))
        .agg(F.min("para_id").alias("para_id"), F.min("para").alias("para"))
    )
    n_keepers = keepers.count()
    cands = _minhash_candidate_pairs(
        keepers.select(
            F.col("para_id").alias("doc_id"),
            _spark_shingles(F.col("para")).alias("sh"),
        ).filter(F.size("sh") > 0),
        shape_n=pub,
    )
    n_cands = cands.count()

    t0 = time.monotonic()
    n_confirmed = q_dedup_paragraph(spark, sf_dir).count()
    wall = time.monotonic() - t0

    return {
        "docs": n_docs,
        "paras": n_paras,
        "pub": pub,
        "shape": f"{shape[0]}x{shape[1]}",
        "distinct_paras": n_keepers,
        "cand_pairs": n_cands,
        "cands_per_kpara": round(1000.0 * n_cands / max(1, n_keepers), 2),
        "confirmed": n_confirmed,
        "wall_s": round(wall, 2),
    }


def main() -> None:
    from unraveldocs_spark.session import build_session

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    spark = build_session(
        "paragraph-scale",
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus, 16),
        extra_conf={"spark.local.dir": "/dev/shm/unraveldocs-parascale"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    rows = []
    for mult in MULTS:
        corpus = build_corpus(spark, sf_dir, mult)
        r = measure(spark, corpus)
        r["growth"] = f"{mult}x"
        rows.append(r)
        print(r, file=sys.stderr)

    cols = (
        "growth docs paras pub shape distinct_paras cand_pairs "
        "cands_per_kpara confirmed wall_s"
    ).split()
    md_path = os.path.join(REPO, "BENCH", "PARAGRAPH_SCALE.md")
    lines = [
        "| " + " | ".join(cols) + " |",
        "|" + "---|" * len(cols),
    ]
    for r in rows:
        lines.append("| " + " | ".join(str(r[c]) for c in cols) + " |")
    with open(md_path, "a") as fh:
        fh.write("\n".join(lines) + "\n")
    print("\n".join(lines))
    spark.stop()


if __name__ == "__main__":
    main()
