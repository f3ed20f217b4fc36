"""Round-6 optimization equivalence gates.

Every optimization that changed an operator's internals is pinned
here against the form it replaced:

- grouped segment encoding must be BYTE-identical to per-group
  encoding (the segment files are a durable format);
- the vectorized Arrow tokenize kernel must emit exactly the pandas
  UDF's (terms, doclen) contract;
- the numpy left-fold dot/norm kernels must be BIT-identical to the
  interpreted expression forms (scores feed rounded oracles);
- the batched stored-field read must return what per-hit point reads
  returned.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F


def test_grouped_encoder_byte_identical_to_per_group():
    from job_searchengine_project_spark.index import codec

    rng = np.random.default_rng(7)
    for _ in range(10):
        n_groups = int(rng.integers(1, 30))
        sizes = rng.integers(1, 300, size=n_groups)
        starts = np.zeros(n_groups, dtype=np.int64)
        np.cumsum(sizes[:-1], out=starts[1:])
        ends = starts + sizes
        docs = np.concatenate(
            [np.sort(rng.choice(10**6, size=s, replace=False)) for s in sizes]
        ).astype(np.int64)
        tfs = rng.integers(1, 40, size=docs.size).astype(np.int64)
        tfn = rng.random(docs.size)
        bs = int(rng.choice([4, 32, 128]))
        grouped = codec.encode_postings_grouped(
            starts, ends, docs, tfs, tfn, block_size=bs
        )
        for g in range(n_groups):
            s, e = starts[g], ends[g]
            ref = codec.encode_postings(
                docs[s:e], tfs[s:e], tfn[s:e], block_size=bs
            )
            got = grouped[g]
            assert got.doc_blob == ref.doc_blob
            assert got.tf_blob == ref.tf_blob
            assert got.count == ref.count and got.first_doc == ref.first_doc
            for f in (
                "block_n", "block_last_doc", "block_doc_bytes",
                "block_tf_bytes", "block_max_tfnorm",
            ):
                assert np.array_equal(getattr(got, f), getattr(ref, f)), f
            d, t = codec.decode_postings(got)
            assert np.array_equal(d, docs[s:e]) and np.array_equal(t, tfs[s:e])


def test_arrow_tokenize_kernel_matches_pandas_udf(spark):
    from job_searchengine_project_spark.corpus import generate_webpages
    from job_searchengine_project_spark.functions.tokenize import (
        make_term_freqs_udf,
        term_freqs_arrow_morph,
    )

    pages = generate_webpages(spark, n_docs=400, vocab_size=300, seed=11)
    extra = spark.createDataFrame(
        [
            ("u-ko", "한국어 테스트 spark SPARK spark/data  x 경우 ab"),
            ("u-empty", ""),
            ("u-short", "a b c"),
            ("u-stop", "경우 사항 이상"),
            # r6 RE2-split kernel: boundary separators, punctuation-only,
            # consecutive separators, mixed-script runs, digits/slashes
            ("u-bound", "  ,,spark!! data..  "),
            ("u-punct", "!!! ... ,,,"),
            ("u-mixed", "abc한글def 12/34 x9 ㄱ"),
            ("u-upper", "SPARK Data TABLE mixedCASE"),
        ],
        "url string, text string",
    )
    src = pages.select("url", "text").unionByName(extra)
    tf_udf = make_term_freqs_udf("morph")
    old = (
        src.select("url", tf_udf(F.col("text")).alias("terms"))
        .withColumn(
            "doclen",
            F.aggregate(F.col("terms"), F.lit(0), lambda a, x: a + x["tf"]),
        )
    )
    new = src.mapInArrow(
        term_freqs_arrow_morph,
        schema="url string, terms array<struct<term:string,tf:int>>, doclen int",
    )
    o = {r["url"]: (r["terms"], r["doclen"]) for r in old.collect()}
    n = {r["url"]: (r["terms"], r["doclen"]) for r in new.collect()}
    assert o == n


def test_fold_kernels_bit_identical_to_expressions(spark):
    from job_searchengine_project_spark.operators.similarity import (
        _bucket_array,
        _dot,
        _dot_udf,
        _norm,
        _norm_udf,
        _plane_signs,
        HI_PLANES,
        HI_TABLES,
    )

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", "embedding")
    a = emb.select("vec_id", F.col("embedding").alias("va"))
    b = emb.select(
        (F.col("vec_id") + 1).alias("vec_id"), F.col("embedding").alias("vb")
    )
    j = a.join(b, "vec_id")
    row = j.select(
        F.min(
            _dot(F.col("va"), F.col("vb")) == _dot_udf(F.col("va"), F.col("vb"))
        ).alias("dot_eq"),
        F.min(_norm(F.col("va")) == _norm_udf(F.col("va"))).alias("norm_eq"),
    ).collect()[0]
    assert row["dot_eq"] and row["norm_eq"]

    # bucket strings: kernel vs the interpreted literal-matrix form
    mat = F.array(
        *[
            F.array(
                *[
                    F.array(*[F.lit(float(s)) for s in _plane_signs(t, p)])
                    for p in range(HI_PLANES)
                ]
            )
            for t in range(HI_TABLES)
        ]
    )

    def _bit(plane):
        terms = F.zip_with(
            F.col("embedding"), plane, lambda x, s: x.cast("double") * s
        )
        return (
            (F.aggregate(terms, F.lit(0.0), lambda acc, x: acc + x) > 0)
            .cast("int")
            .cast("string")
        )

    old_buckets = F.transform(
        mat, lambda pa_: F.array_join(F.transform(pa_, _bit), "")
    )
    eq = emb.select(
        F.min(
            old_buckets == _bucket_array(F.col("embedding"), HI_PLANES, HI_TABLES)
        ).alias("eq")
    ).collect()[0]["eq"]
    assert eq


def test_fields_of_many_matches_fields_of(spark, tmp_path):
    from job_searchengine_project_spark.corpus import generate_webpages
    from job_searchengine_project_spark.index.build import build_index
    from job_searchengine_project_spark.search.engine import SearchEngine

    out = str(tmp_path / "idx")
    pages = generate_webpages(spark, n_docs=300, vocab_size=200, seed=3)
    build_index(spark, pages, out, analyzer="morph")
    eng = SearchEngine(out)
    doc_ids = [h.doc_id for h in eng.search(["spark", "data"], k=50)]
    assert doc_ids
    batched = eng.fields_of_many(doc_ids)
    for d in doc_ids:
        assert batched[d] == eng.fields_of(d)


def _reference_partials(rows, avgdl, bs):
    """Reference encode: plain codec.encode_postings per (term, salt)
    group of collected exploded posting rows (positions included when
    the rows carry them), docs ascending within the group."""
    from job_searchengine_project_spark import BM25_B, BM25_K1
    from job_searchengine_project_spark.index import codec

    groups = {}
    for r in rows:
        groups.setdefault((r["term"], r["salt"]), []).append(r)
    out = {}
    for k, grp in groups.items():
        grp.sort(key=lambda r: r["doc_id"])
        docs = np.array([r["doc_id"] for r in grp], dtype=np.int64)
        tfs = np.array([r["tf"] for r in grp], dtype=np.int64)
        dls = np.array([r["doclen"] for r in grp], dtype=np.float64)
        tfn = tfs / (tfs + BM25_K1 * (1.0 - BM25_B + BM25_B * (dls / avgdl)))
        pos = (
            np.concatenate([np.asarray(r["pos"], dtype=np.int64) for r in grp])
            if "pos" in grp[0]
            else None
        )
        enc = codec.encode_postings(docs, tfs, tfn, block_size=bs, positions=pos)
        out[k] = _partial_key(
            {
                "df": enc.count, "first_doc": enc.first_doc,
                "doc_blob": enc.doc_blob, "tf_blob": enc.tf_blob,
                "block_n": enc.block_n, "block_last_doc": enc.block_last_doc,
                "block_doc_bytes": enc.block_doc_bytes,
                "block_tf_bytes": enc.block_tf_bytes,
                "block_max_tfnorm": enc.block_max_tfnorm,
                "bytes_written": (
                    len(enc.doc_blob) + len(enc.tf_blob) + len(enc.pos_blob)
                ),
                **(
                    {"pos_blob": enc.pos_blob,
                     "block_pos_bytes": enc.block_pos_bytes}
                    if pos is not None
                    else {}
                ),
            }
        )
    return out


def _partial_key(r):
    keys = ("df", "first_doc", "bytes_written")
    blobs = ("doc_blob", "tf_blob", "pos_blob")
    lists = (
        "block_n", "block_last_doc", "block_doc_bytes", "block_tf_bytes",
        "block_max_tfnorm", "block_pos_bytes",
    )
    return (
        tuple(int(r[c]) for c in keys)
        + tuple(None if r.get(c) is None else bytes(r[c]) for c in blobs)
        + tuple(None if r.get(c) is None else tuple(r[c]) for c in lists)
    )


def _exploded(fwd, with_positions):
    return fwd.select("doc_id", "doclen", F.explode("terms").alias("t")).select(
        F.col("t.term").alias("term"), "doc_id",
        F.col("t.tf").alias("tf"), "doclen",
        *([F.col("t.pos").alias("pos")] if with_positions else []),
    )


def test_packed_shuffle_partials_identical(spark):
    """The packed encode path (pack off the forward rows -> (term,
    salt) blob shuffle -> _encode_packed_arrow) must emit exactly the
    partial rows of plain per-group codec.encode_postings over the
    exploded postings — same (term, salt) groups, same encoded blobs
    (positions included), byte for byte. Every term splits into three
    doc-range salts, like the sharded derive and head-term splits."""
    for with_positions in (False, True):
        _check_packed_shuffle_partials(spark, with_positions)


def _check_packed_shuffle_partials(spark, with_positions):
    from job_searchengine_project_spark.corpus import generate_webpages
    from job_searchengine_project_spark.index.build import (
        _encode_packed,
        _pack_postings,
    )
    from job_searchengine_project_spark.index.prepare import prepare_docs

    pages = generate_webpages(spark, n_docs=500, vocab_size=400, seed=13)
    fwd = prepare_docs(pages, with_positions=with_positions).localCheckpoint()
    n_docs = fwd.count()
    rng = -(-n_docs // 3)
    avgdl, bs = 37.5, 32
    ref = _reference_partials(
        _exploded(fwd, with_positions)
        .withColumn("salt", (F.col("doc_id") / F.lit(rng)).cast("int"))
        .collect(),
        avgdl, bs,
    )
    assert len({s for _, s in ref}) == 3
    new = _encode_packed(
        _pack_postings(
            spark, fwd, avgdl=avgdl, n_docs=n_docs, shard_rng=rng
        ).drop("term_bucket"),
        bs,
    ).collect()
    got = {(r["term"], r["salt"]): _partial_key(r.asDict()) for r in new}
    assert len(got) == len(new) == len(ref)
    assert got == ref
    assert all(r["n_parts"] == 1 for r in new)


def test_pack_forward_matches_exploded_salted(spark):
    """The pack kernel's in-kernel head-term salting — doc-range salts
    relative to a doc-id base, as update_index uses it — must produce
    the (term, salt) groups of the broadcast-salt JVM expression over
    exploded postings, and those groups must encode exactly as plain
    codec.encode_postings does. Its term_bucket must equal
    _term_bucket_py."""
    for with_positions in (False, True):
        _check_pack_forward_salted(spark, with_positions)


def _check_pack_forward_salted(spark, with_positions):
    from job_searchengine_project_spark.corpus import generate_webpages
    from job_searchengine_project_spark.index.build import (
        _encode_packed,
        _pack_postings,
        _term_bucket_py,
    )
    from job_searchengine_project_spark.index.prepare import prepare_docs

    pages = generate_webpages(spark, n_docs=600, vocab_size=150, seed=21)
    base = 1000  # a later generation's doc-id base
    fwd = (
        prepare_docs(pages, with_positions=with_positions)
        .withColumn("doc_id", F.col("doc_id") + F.lit(base))
        .localCheckpoint()
    )
    n_docs = fwd.count()
    avgdl, bs = 40.0, 16
    # small target so several head terms get real multi-salt splits
    target = 120
    df_true = (
        fwd.select(F.explode("terms").alias("t"))
        .groupBy(F.col("t.term").alias("term"))
        .agg(F.count("*").alias("df_est"))
    )
    head = df_true.filter(F.col("df_est") > target).select(
        "term",
        F.ceil(F.col("df_est") / target).cast("int").alias("n_salts"),
    )
    head_map = {r["term"]: int(r["n_salts"]) for r in head.collect()}
    assert head_map, "fixture must exercise multi-salt head terms"

    rps = F.ceil(F.lit(n_docs) / F.col("n_salts"))
    salted = (
        _exploded(fwd, with_positions)
        .join(F.broadcast(head), "term", "left")
        .withColumn("n_salts", F.coalesce(F.col("n_salts"), F.lit(1)))
        .withColumn(
            "salt",
            F.when(F.col("n_salts") == 1, F.lit(0)).otherwise(
                ((F.col("doc_id") - base) / rps).cast("int")
            ),
        )
        .drop("n_salts")
    )
    ref = _reference_partials(salted.collect(), avgdl, bs)
    assert any(s > 0 for _, s in ref)
    packed = _pack_postings(
        spark, fwd, avgdl=avgdl, n_docs=n_docs, head_map=head_map,
        term_buckets=8, doc_base=base,
    )
    for r in packed.select("term", "term_bucket").collect():
        assert r["term_bucket"] == _term_bucket_py(r["term"], 8)
    new = _encode_packed(packed.drop("term_bucket"), bs).collect()
    got = {(r["term"], r["salt"]): _partial_key(r.asDict()) for r in new}
    assert len(got) == len(new)
    assert got == ref


def test_binary_from_fixed_refuses_offset_overflow():
    """Packed blob columns carry int32 offsets: a batch whose data
    would pass 2 GiB must fail loudly, not wrap."""
    from job_searchengine_project_spark.index.build import _binary_from_fixed

    vals = np.zeros(4, dtype=np.int64)
    ok = _binary_from_fixed(vals, np.array([0, 2, 4], dtype=np.int64), 8)
    assert [len(b.as_py()) for b in ok] == [16, 16]
    with pytest.raises(ValueError, match="2 GiB"):
        _binary_from_fixed(vals, np.array([0, 2**28], dtype=np.int64), 8)
    with pytest.raises(ValueError, match="2 GiB"):
        _binary_from_fixed(
            vals.astype(np.int32), np.array([0, 1, 2**29 + 1], dtype=np.int64), 4
        )
