"""spark-submit entry point for the training-data curation pass: quality
gate -> exact dedup -> near-dup pairs -> duplicate groups over a
documents table, writing one parquet output per stage.

Package + submit (same ship path as jobs/run_pipeline.py):

    python tools/package_pyfiles.py
    spark-submit --master <cluster-master> \
        --py-files dist/pgweasel_spark.zip \
        jobs/run_dedup.py \
        --input <documents.parquet dir> --out <out root> \
        [--max-hamming 3] [--n-bands 4] [--min-tokens 20]

Stage outputs under --out:
    gate/     per-doc keep/drop verdict (gopher_gate)
    exact/    content-hash groups (exact_dedup)
    pairs/    SimHash near-dup candidate pairs (banded, Hamming-verified)
    groups/   connected components over the pairs (near_dup_groups)

The SimHash signature is computed once and persisted for the banding
pass (sig_col reuse); at a larger horizon write (doc_id, simhash60(text))
to parquet once and feed that table back through sig_col across runs.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="pgweasel_spark dedup pass")
    p.add_argument("--input", required=True, help="documents parquet path")
    p.add_argument("--out", required=True, help="output root")
    p.add_argument("--text-col", default="text")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--max-hamming", type=int, default=3)
    p.add_argument("--n-bands", type=int, default=4)
    p.add_argument("--min-tokens", type=int, default=20)
    args = p.parse_args(argv)

    from pyspark.sql import functions as F

    from pgweasel_spark.operators.dedup import (
        exact_dedup,
        near_dup_groups,
        simhash60,
        simhash_near_dups,
    )
    from pgweasel_spark.operators.textstats import gopher_gate
    from pgweasel_spark.session import get_spark

    spark = get_spark("pgweasel-dedup")
    t0 = time.time()
    docs = spark.read.parquet(args.input)

    gate = gopher_gate(
        docs,
        text_col=args.text_col,
        key_col=args.id_col,
        min_tokens=args.min_tokens,
    )
    gate.write.mode("overwrite").parquet(os.path.join(args.out, "gate"))

    exact = exact_dedup(docs, text_col=args.text_col, key_col=args.id_col)
    exact.write.mode("overwrite").parquet(os.path.join(args.out, "exact"))

    sig = docs.select(
        args.id_col, simhash60(args.text_col).alias("sh")
    ).persist()
    pairs = simhash_near_dups(
        sig,
        key_col=args.id_col,
        sig_col="sh",
        max_hamming=args.max_hamming,
        n_bands=args.n_bands,
    )
    pairs.write.mode("overwrite").parquet(os.path.join(args.out, "pairs"))
    sig.unpersist()

    groups = near_dup_groups(
        spark.read.parquet(os.path.join(args.out, "pairs"))
    )
    groups.write.mode("overwrite").parquet(os.path.join(args.out, "groups"))

    counts = {
        name: spark.read.parquet(os.path.join(args.out, name)).count()
        for name in ("gate", "exact", "pairs", "groups")
    }
    kept = (
        spark.read.parquet(os.path.join(args.out, "gate"))
        .where(F.col("keep"))
        .count()
    )
    print(
        json.dumps(
            {
                "master": spark.conf.get("spark.master"),
                "rows": counts,
                "kept_docs": kept,
                "elapsed_s": round(time.time() - t0, 3),
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
