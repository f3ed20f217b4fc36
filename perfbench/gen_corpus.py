"""Generate the benchmark's document pool into a directory (run by inputs.py).

    python3 perfbench/gen_corpus.py <out_dir> <pool_seed> <pool_docs> <vocab>

Writes ``pool/`` (``corpus.generate_webpages`` output as parquet) and
``meta.json``. Each run samples its corpus and upsert batches from the
pool by ``--seed`` (inputs.prepare_run).
"""

from __future__ import annotations

import json
import os
import sys


def main(out_dir: str, pool_seed: int, pool_docs: int, vocab: int) -> None:
    from job_searchengine_project_spark.corpus import HEAD_TERMS, generate_webpages
    from job_searchengine_project_spark.session import get_spark
    from perfbench.workloads import stop_spark

    spark = get_spark(app_name="perfbench-corpus", master="local[4]")
    try:
        generate_webpages(
            spark, n_docs=pool_docs, vocab_size=vocab, seed=pool_seed
        ).write.parquet(os.path.join(out_dir, "pool"))
    finally:
        stop_spark(spark)
    meta = {
        "pool_seed": pool_seed,
        "pool_docs": pool_docs,
        "vocab_size": vocab,
        "head_terms": list(HEAD_TERMS),
    }
    with open(os.path.join(out_dir, "meta.json"), "w") as f:
        json.dump(meta, f)


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    a = sys.argv[1:]
    main(a[0], int(a[1]), int(a[2]), int(a[3]))
