"""Two-tree segment diff: are the segment rows of an encode change
byte-identical to the parent's?

``dump`` builds four small index cases with whichever engine tree is on
PYTHONPATH and pickles every segment (or shard) row, sorted by
partition, term and first_doc:

* ``pos_build``  — positional build_index with multi-salt head terms
  (target_postings_per_salt=50);
* ``pos_shards`` — build_sharded_segments of that positional index;
* ``upd_nopos`` / ``upd_pos`` — update_index(replace=True) of a batch
  of new and re-crawled urls onto a non-positional / positional index
  (head terms of the batch split too).

``compare`` checks every column of every row of two dumps.

Usage — run from a directory outside both trees: Spark's Python
workers put their working directory first on their import path, so
inside a tree they would import that tree's engine, not PYTHONPATH's.
    PYTHONPATH=<parent tree> python <tree>/tools/segment_diff.py dump <dir_a>
    PYTHONPATH=<changed tree> python <tree>/tools/segment_diff.py dump <dir_b>
    python <tree>/tools/segment_diff.py compare <dir_a> <dir_b>
"""

from __future__ import annotations

import os
import shutil
import sys

CASES = ("pos_build", "pos_shards", "upd_nopos", "upd_pos")


def dump(out: str) -> None:
    import pyarrow.dataset as pads
    from pyspark.sql import functions as F

    from job_searchengine_project_spark.corpus import generate_webpages
    from job_searchengine_project_spark.index.build import build_index
    from job_searchengine_project_spark.index.sharded import build_sharded_segments
    from job_searchengine_project_spark.index.update import update_index
    from job_searchengine_project_spark.session import get_spark

    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    spark = get_spark(app_name="segment_diff")
    pages = generate_webpages(spark, n_docs=400, vocab_size=500, seed=42)
    pages = pages.select("url", "text").cache()
    base = pages.filter(F.pmod(F.xxhash64("url"), F.lit(3)) != 0)
    recrawl = base.orderBy("url").limit(25).withColumn(
        "text", F.concat(F.col("text"), F.lit(" spark 데이터엔지니어 recrawled"))
    )
    batch = pages.subtract(base).unionByName(recrawl)
    work = os.path.join(out, "work")

    def save(name: str, root: str, part: str) -> None:
        df = pads.dataset(root, format="parquet", partitioning="hive").to_table().to_pandas()
        df = df.sort_values([part, "term", "first_doc"], kind="stable")
        df.reset_index(drop=True).to_pickle(os.path.join(out, name + ".pkl"))
        print(f"{name}: {len(df)} rows, {int((df['n_parts'] > 1).sum())} multi-part")

    idx = os.path.join(work, "pos_build")
    build_index(spark, pages, idx, target_postings_per_salt=50, term_buckets=8,
                with_positions=True)
    save("pos_build", os.path.join(idx, "segments"), "term_bucket")
    build_sharded_segments(spark, idx, n_shards=4)
    save("pos_shards", os.path.join(idx, "shards"), "shard")
    for name, pos in (("upd_nopos", False), ("upd_pos", True)):
        idx = os.path.join(work, name)
        build_index(spark, base, idx, target_postings_per_salt=50, term_buckets=8,
                    with_positions=pos)
        update_index(spark, batch, idx, target_postings_per_salt=50, replace=True)
        save(name, os.path.join(idx, "segments"), "term_bucket")
    spark.stop()


def compare(dir_a: str, dir_b: str) -> bool:
    import numpy as np
    import pandas as pd

    ok = True
    for name in CASES:
        a = pd.read_pickle(os.path.join(dir_a, name + ".pkl"))
        b = pd.read_pickle(os.path.join(dir_b, name + ".pkl"))
        same = list(a.columns) == list(b.columns) and len(a) == len(b)
        for c in a.columns if same else ():
            if not all(
                np.array_equal(x, y) if isinstance(x, np.ndarray) else x == y
                for x, y in zip(a[c], b[c])
            ):
                print(f"{name}: column {c} differs")
                same = False
        print(f"{name}: {len(a)} vs {len(b)} rows, {len(a.columns)} columns, "
              f"identical={same}")
        ok &= same
    print("ALL IDENTICAL" if ok else "DIFFERENCES FOUND")
    return ok


if __name__ == "__main__":
    if len(sys.argv) == 3 and sys.argv[1] == "dump":
        dump(sys.argv[2])
    elif len(sys.argv) == 4 and sys.argv[1] == "compare":
        sys.exit(0 if compare(sys.argv[2], sys.argv[3]) else 1)
    else:
        sys.exit(__doc__)
