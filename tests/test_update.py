"""Incremental index update: append a batch, stay rank-identical to
the oracle computed over the combined corpus with the index's frozen
stats."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from job_searchengine_project_spark.index.build import build_index
from job_searchengine_project_spark.index.prepare import prepare_docs
from job_searchengine_project_spark.index.update import update_index
from job_searchengine_project_spark.search.bm25 import bm25_topk_oracle
from job_searchengine_project_spark.search.engine import SearchEngine


@pytest.fixture(scope="module")
def updated_index(spark, webpages_small, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("idx_upd"))
    a = webpages_small.filter(F.col("warc_ts") < F.lit("2023-11-14 22:16:40"))
    b = webpages_small.subtract(a)
    na, nb = a.count(), b.count()
    assert na > 0 and nb > 0 and na + nb == 300
    build_index(spark, a, out, target_postings_per_salt=50, term_buckets=16)
    res = update_index(spark, b, out, target_postings_per_salt=50)
    assert res["added_docs"] == nb and res["touched_buckets"] > 0
    return out, a, b


def test_update_extends_corpus(spark, updated_index):
    out, a, b = updated_index
    eng = SearchEngine(out)
    assert eng.n_docs == 300
    # forward holds both batches, ids dense 0..299
    fwd = spark.read.parquet(f"{out}/forward")
    ids = sorted(r["doc_id"] for r in fwd.select("doc_id").collect())
    assert ids == list(range(300))


def test_updated_index_matches_frozen_stats_oracle(spark, updated_index):
    """Engine over (A build + B update) == DataFrame oracle over A∪B
    scored with the index's recorded (frozen-avgdl) stats — the same
    contract Lucene keeps when old segments' norms aren't rewritten."""
    out, a, b = updated_index
    eng = SearchEngine(out)
    n_a = a.count()
    docs_all = prepare_docs(a).unionByName(
        prepare_docs(b).withColumn("doc_id", F.col("doc_id") + F.lit(n_a))
    )
    for q in (["spark"], ["spark", "데이터엔지니어"], ["개발자"]):
        hits = eng.search(q, k=10, with_urls=True)
        oracle = bm25_topk_oracle(
            docs_all, q, k=10, n_docs=eng.n_docs, avgdl=eng.avgdl
        ).collect()
        assert [h.doc_id for h in hits] == [r["doc_id"] for r in oracle], q
        assert [h.url for h in hits] == [r["url"] for r in oracle], q
        for h, r in zip(hits, oracle):
            assert abs(h.score - r["score"]) < 1e-9


def test_update_hits_docs_from_both_batches(spark, updated_index):
    out, a, b = updated_index
    eng = SearchEngine(out)
    n_a = a.count()
    hits = eng.search(["spark"], k=300, with_urls=False)
    got_ids = {h.doc_id for h in hits}
    assert any(i < n_a for i in got_ids) and any(i >= n_a for i in got_ids)


def test_update_empty_batch_is_noop(spark, webpages_small, tmp_path):
    """An empty batch must return a zero result without touching the
    forward index (previously crashed AFTER appending)."""
    out = str(tmp_path / "idx_empty_upd")
    build_index(spark, webpages_small.limit(50), out, target_postings_per_salt=50, term_buckets=16)
    before = spark.read.parquet(out + "/forward").count()
    res = update_index(spark, webpages_small.limit(0), out)
    assert res == {"added_docs": 0, "touched_buckets": 0}
    assert spark.read.parquet(out + "/forward").count() == before
    assert SearchEngine(out).search(["spark"], k=3)


def test_compaction_after_sequential_updates(spark, webpages_small, tmp_path):
    """Three sequential updates fragment term blocks; compact_index
    restores full block fill with rank- AND score-identical results
    (tf-norms recomputed from stored doclens + frozen avgdl)."""
    from job_searchengine_project_spark.index.compact import compact_index

    out = str(tmp_path / "idx_compact")
    parts = [
        webpages_small.filter(F.pmod(F.xxhash64("url"), F.lit(4)) == i)
        for i in range(4)
    ]
    build_index(spark, parts[0], out, target_postings_per_salt=50,
                term_buckets=16, block_size=8)
    for b in parts[1:]:
        update_index(spark, b, out, target_postings_per_salt=50)

    seg_before = spark.read.parquet(out + "/segments")
    # fragmentation under segment stacking: >1 generation row per term
    # or more total blocks than a fresh full-fill encode
    frag_before = (
        seg_before.groupBy("term")
        .agg(
            F.count("*").alias("nrows"),
            F.sum(F.size("block_n")).alias("nblocks"),
            F.sum("df").alias("df_tot"),
        )
        .filter(
            (F.col("nrows") > 1)
            | (F.col("nblocks") > F.ceil(F.col("df_tot") / F.lit(8)).cast("int"))
        )
        .count()
    )
    df_sum_before = seg_before.agg(F.sum("df")).collect()[0][0]
    assert frag_before > 0  # updates really stacked generations

    q = ["spark", "데이터엔지니어", "개발자"]
    eng = SearchEngine(out)
    before = [(h.doc_id, h.score) for h in eng.search(q, k=20, strategy="wand")]
    before_ex = [(h.doc_id, h.score) for h in eng.search(q, k=20, strategy="exhaustive")]

    res = compact_index(spark, out)
    assert res["compacted_terms"] == frag_before
    assert res["touched_buckets"] > 0

    seg_after = spark.read.parquet(out + "/segments")
    assert seg_after.filter(
        F.size("block_n") > F.ceil(F.col("df") / F.lit(8)).cast("int")
    ).count() == 0
    # generations folded: one row per term again
    assert (
        seg_after.groupBy("term").count().filter(F.col("count") > 1).count() == 0
    )
    # postings preserved exactly
    assert seg_after.agg(F.sum("df")).collect()[0][0] == df_sum_before

    eng2 = SearchEngine(out)
    assert [(h.doc_id, h.score) for h in eng2.search(q, k=20, strategy="wand")] == before
    assert [(h.doc_id, h.score) for h in eng2.search(q, k=20, strategy="exhaustive")] == before_ex
    # second compaction is a no-op
    assert compact_index(spark, out) == {
        "compacted_terms": 0, "touched_buckets": 0, "purged_docs": 0,
    }


def _hash_tree(root):
    """{relpath: sha256} over every file under root."""
    import hashlib
    import os

    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_update_bytes_written_are_o_batch(spark, webpages_small, tmp_path):
    """Segment stacking contract: an update APPENDS generation files —
    every pre-existing segment AND forward file stays byte-identical
    (the round-2 design rewrote every touched bucket: O(index) per
    append at a Zipfian vocabulary)."""
    out = str(tmp_path / "idx_obatch")
    a = webpages_small.limit(200)
    b = webpages_small.subtract(a)
    build_index(spark, a, out, target_postings_per_salt=50, term_buckets=16)
    seg_before = _hash_tree(out + "/segments")
    fwd_before = _hash_tree(out + "/forward")
    res = update_index(spark, b, out, target_postings_per_salt=50)
    assert res["added_docs"] == 100
    seg_after = _hash_tree(out + "/segments")
    fwd_after = _hash_tree(out + "/forward")
    for rel, h in seg_before.items():
        assert seg_after.get(rel) == h, f"existing segment file rewritten: {rel}"
    for rel, h in fwd_before.items():
        assert fwd_after.get(rel) == h, f"existing forward file rewritten: {rel}"
    assert len(seg_after) > len(seg_before)  # the generation was appended


@pytest.mark.parametrize(
    "fail_point", ["after_forward", "after_stored", "after_segments"]
)
def test_update_crash_rolls_back_and_replays_clean(
    spark, webpages_small, tmp_path, fail_point
):
    """A crash at ANY point before the stats commit must roll back to
    the exact pre-update state (forward, stored, segments) on the next
    update; the replayed batch then lands as if the crash never
    happened — no duplicate stored urls, no orphan postings."""
    out = str(tmp_path / f"idx_crash_{fail_point}")
    ctrl = str(tmp_path / f"idx_ctrl_{fail_point}")
    a = webpages_small.limit(200)
    b = webpages_small.subtract(a)
    for d in (out, ctrl):
        build_index(spark, a, d, target_postings_per_salt=50, term_buckets=16)
    pre = {sub: _hash_tree(f"{out}/{sub}") for sub in ("segments", "forward", "stored")}

    with pytest.raises(RuntimeError, match="injected crash"):
        update_index(spark, b, out, target_postings_per_salt=50,
                     _fail_point=fail_point)
    import os
    assert os.path.exists(out + "/_PENDING_UPDATE.json")

    from job_searchengine_project_spark.index.update import recover_index

    recover_index(out)
    for sub, tree in pre.items():
        assert _hash_tree(f"{out}/{sub}") == tree, f"{sub} not rolled back"

    # replay (update_index also recovers internally — idempotent)
    update_index(spark, b, out, target_postings_per_salt=50)
    update_index(spark, b, ctrl, target_postings_per_salt=50)  # never crashed
    eng, eng_c = SearchEngine(out), SearchEngine(ctrl)
    assert eng.n_docs == eng_c.n_docs == 300
    for q in (["spark"], ["spark", "데이터엔지니어"]):
        got = [(h.doc_id, h.score, h.url) for h in eng.search(q, k=10)]
        want = [(h.doc_id, h.score, h.url) for h in eng_c.search(q, k=10)]
        assert got == want, q
    # no duplicate stored urls from the replay
    stored = spark.read.parquet(out + "/stored")
    assert stored.count() == stored.select("url").distinct().count()


def test_update_crash_after_commit_is_durable(spark, webpages_small, tmp_path):
    """A crash AFTER the atomic stats replace must NOT be rolled back —
    the update committed; recovery only drops the marker."""
    out = str(tmp_path / "idx_crash_commit")
    a = webpages_small.limit(200)
    b = webpages_small.subtract(a)
    build_index(spark, a, out, target_postings_per_salt=50, term_buckets=16)
    with pytest.raises(RuntimeError, match="injected crash"):
        update_index(spark, b, out, target_postings_per_salt=50,
                     _fail_point="after_commit")
    from job_searchengine_project_spark.index.update import recover_index

    res = recover_index(out)
    assert res["rolled_back_files"] == 0 and res["orphan_files"] == 0
    eng = SearchEngine(out)
    assert eng.n_docs == 300
    assert eng.search(["spark"], k=3)


def test_update_purges_orphan_forward_rows(spark, webpages_small, tmp_path):
    """A crashed prior update leaves forward rows with doc_id >= the
    committed n_docs; the next update must purge them or two urls would
    share each doc_id (silent score corruption)."""
    out = str(tmp_path / "idx_orphan")
    build_index(spark, webpages_small.limit(100), out,
                target_postings_per_salt=50, term_buckets=16)
    # simulate the crash: forward rows appended, stats NOT updated
    orphan = prepare_docs(webpages_small.limit(150).subtract(webpages_small.limit(100))).withColumn(
        "doc_id", F.col("doc_id") + F.lit(100)
    )
    orphan.write.mode("append").parquet(out + "/forward")
    assert spark.read.parquet(out + "/forward").count() == 150

    batch = webpages_small.limit(180).subtract(webpages_small.limit(150))
    res = update_index(spark, batch, out, target_postings_per_salt=50)
    assert res["added_docs"] == 30
    fwd = spark.read.parquet(out + "/forward")
    assert fwd.count() == 130  # 100 + 30, orphans purged
    assert fwd.select("doc_id").distinct().count() == 130  # no id collisions
    assert SearchEngine(out).search(["spark"], k=3)


def test_compaction_folds_terms_straddling_arrow_batches(spark, tmp_path):
    """A term's generation rows all land in one compaction partition
    but may straddle its Arrow batches; the fold must span the whole
    partition. With 2-row batches a per-batch fold left several
    overlapping rows per shared term."""
    from job_searchengine_project_spark.index.compact import compact_index

    out = str(tmp_path / "idx_compact_batches")
    base = spark.createDataFrame(
        [
            (f"https://c.test/b{i}", f"alpha beta common filler{i % 7} " * (1 + i % 3))
            for i in range(30)
        ],
        "url string, text string",
    )
    batches = [
        spark.createDataFrame(
            [
                (f"https://c.test/g{g}u{i}", f"alpha common gen{g} beta{'' if i % 2 else ' beta'}")
                for i in range(5)
            ],
            "url string, text string",
        )
        for g in range(4)
    ]
    build_index(spark, base, out, term_buckets=2, store_fields=False)
    for b in batches:
        update_index(spark, b, out)
    seg = spark.read.parquet(out + "/segments")
    assert seg.filter(F.col("term") == "alpha").count() == 5

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        compact_index(spark, out)
    finally:
        spark.conf.set(key, prev)

    seg = spark.read.parquet(out + "/segments")
    assert seg.groupBy("term").count().filter(F.col("count") > 1).count() == 0
    eng = SearchEngine(out)
    docs_all = prepare_docs(base)
    n = 30
    for b in batches:
        docs_all = docs_all.unionByName(
            prepare_docs(b).withColumn("doc_id", F.col("doc_id") + F.lit(n))
        )
        n += 5
    for q in (["alpha"], ["beta", "common"], ["alpha", "beta", "common", "gen2"]):
        hits = eng.search(q, k=10)
        oracle = bm25_topk_oracle(
            docs_all, q, k=10, n_docs=eng.n_docs, avgdl=eng.avgdl
        ).collect()
        assert [h.doc_id for h in hits] == [r["doc_id"] for r in oracle], q
        for h, r in zip(hits, oracle):
            assert abs(h.score - r["score"]) < 1e-9
