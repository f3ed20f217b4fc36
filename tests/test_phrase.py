"""Positional index + match_phrase semantics (ES two_gram body_text,
schema/es/es.sh:16-29: consecutive 2-gram positions == substring)."""

from __future__ import annotations

import pytest

from job_searchengine_project_spark.index.build import build_index
from job_searchengine_project_spark.index.update import update_index
from job_searchengine_project_spark.search.engine import SearchEngine


@pytest.fixture(scope="module")
def phrase_index(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("idx_phrase"))
    pages = spark.createDataFrame(
        [
            ("u0", "spark data table"),       # phrase "spark data" present
            ("u1", "data spark table"),       # both words, NOT adjacent
            ("u2", "spark and then data"),    # both words, far apart
            ("u3", "sparkle database"),       # substrings share grams only
            ("u4", "spark data spark data"),  # phrase twice
        ],
        "url string, text string",
    )
    build_index(
        spark, pages, out, analyzer="2gram",
        target_postings_per_salt=50, term_buckets=8, with_positions=True,
    )
    return out


def test_phrase_rejects_non_adjacent(spark, phrase_index):
    eng = SearchEngine(phrase_index)
    hits = eng.search_phrase("spark data", k=10)
    urls = sorted(h.url for h in hits)
    assert urls == ["u0", "u4"]
    # plain match-OR would have matched every doc sharing grams
    or_hits = eng.search_text("spark data", k=10)
    assert len(or_hits) == 5


def test_phrase_missing_term_no_match(spark, phrase_index):
    eng = SearchEngine(phrase_index)
    assert eng.search_phrase("zzqq", k=5) == []
    assert eng.search_phrase("", k=5) == []


def test_phrase_requires_positions(spark, tmp_path):
    out = str(tmp_path / "idx_nopos")
    pages = spark.createDataFrame(
        [("u0", "spark data table")], "url string, text string"
    )
    build_index(spark, pages, out, analyzer="2gram", term_buckets=8)
    with pytest.raises(ValueError, match="positions"):
        SearchEngine(out).search_phrase("spark data", k=5)


def test_phrase_survives_incremental_update(spark, phrase_index):
    """update_index must keep (and extend) the positional blobs through
    the merge-by-concatenation path."""
    batch = spark.createDataFrame(
        [("u5", "big spark data pipeline"), ("u6", "data then spark")],
        "url string, text string",
    )
    res = update_index(spark, batch, phrase_index, target_postings_per_salt=50)
    assert res["added_docs"] == 2
    eng = SearchEngine(phrase_index)
    urls = sorted(h.url for h in eng.search_phrase("spark data", k=10))
    assert urls == ["u0", "u4", "u5"]


def test_sharded_phrase_matches_driver(spark, phrase_index):
    """Distributed phrase over the positional sharded layout is rank-
    and score-identical to the driver engine's search_phrase."""
    from job_searchengine_project_spark.index.sharded import (
        build_sharded_segments,
        search_sharded_phrase,
    )

    build_sharded_segments(spark, phrase_index, n_shards=3)
    eng = SearchEngine(phrase_index)
    for q in ("spark data", "zzqq", "data table"):
        driver = eng.search_phrase(q, k=10)
        dist = search_sharded_phrase(spark, phrase_index, q, k=10).collect()
        assert [r["doc_id"] for r in dist] == [h.doc_id for h in driver], q
        assert [r["url"] for r in dist] == [h.url for h in driver], q
        for r, h in zip(dist, driver):
            assert abs(r["score"] - h.score) < 1e-9


def test_phrase_morph_analyzer(spark, tmp_path):
    """Positions work on the morph analyzer too (token-index positions:
    adjacent CONTENT tokens — stopwords/len-1 tokens are not indexed,
    so adjacency is in analyzed-token space, like ES's analyzed
    position increments)."""
    out = str(tmp_path / "idx_morph_pos")
    pages = spark.createDataFrame(
        [
            ("u0", "big spark data pipeline"),
            ("u1", "spark runs on data"),   # not adjacent in token space
            ("u2", "data spark"),           # reversed
        ],
        "url string, text string",
    )
    build_index(spark, pages, out, analyzer="morph", term_buckets=8, with_positions=True)
    eng = SearchEngine(out)
    urls = sorted(h.url for h in eng.search_phrase("spark data", k=10))
    assert urls == ["u0"]


@pytest.fixture(scope="module")
def slop_index(spark, tmp_path_factory):
    """Morph positional index with controlled token gaps."""
    out = str(tmp_path_factory.mktemp("idx_slop"))
    pages = spark.createDataFrame(
        [
            ("s0", "alpha beta gamma filler"),          # adjacent
            ("s1", "alpha gap1 beta gamma filler"),     # 1 between
            ("s2", "alpha gap1 gap2 beta gamma"),       # 2 between
            ("s3", "beta alpha gamma filler"),          # reversed: never
            ("s4", "alpha filler filler filler beta"),  # 3 between
            ("s5", "alpha alpha beta gamma filler"),    # duplicate term
        ],
        "url string, text string",
    )
    build_index(
        spark, pages, out, analyzer="morph",
        target_postings_per_salt=50, term_buckets=8, with_positions=True,
    )
    return out


def test_phrase_slop_window_semantics(spark, slop_index):
    """Ordered-window slop: terms IN ORDER within <= slop intervening
    tokens; slop=0 is exact adjacency; reversed order never matches."""
    eng = SearchEngine(slop_index)

    def urls(slop):
        return sorted(h.url for h in eng.search_phrase("alpha beta", k=10, slop=slop))

    assert urls(0) == ["s0", "s5"]
    assert urls(1) == ["s0", "s1", "s5"]
    assert urls(2) == ["s0", "s1", "s2", "s5"]
    assert urls(3) == ["s0", "s1", "s2", "s4", "s5"]
    assert "s3" not in urls(50)  # in-order contract: reversed never matches
    # three-term chain: alpha..beta..gamma window
    three = sorted(h.url for h in eng.search_phrase("alpha beta gamma", k=10, slop=1))
    assert three == ["s0", "s1", "s5"]  # s2 window = 5 > 3 + 1
    # sloppy matches score exactly like the slop=0 contract: BM25 of
    # the distinct terms over matching docs
    h0 = {h.url: h.score for h in eng.search_phrase("alpha beta", k=10, slop=0)}
    h2 = {h.url: h.score for h in eng.search_phrase("alpha beta", k=10, slop=2)}
    for u, s in h0.items():
        assert h2[u] == s


def test_phrase_slop_dsl_and_fielded(spark, slop_index):
    eng = SearchEngine(slop_index)
    r = eng.query(
        {"query": {"match_phrase": {"body": {"query": "alpha beta", "slop": 1}}},
         "size": 10}
    )
    assert sorted(h["_id"] for h in r["hits"]["hits"]) == ["s0", "s1", "s5"]
    assert r["hits"]["total"] == {"value": 3, "relation": "eq"}


def test_search_after_tiles_exactly(spark, slop_index, tmp_path):
    """Cursor pages concatenate to exactly the exhaustive ranking —
    no duplicates, no gaps — including across exact score ties."""
    from job_searchengine_project_spark.corpus import generate_webpages

    out = str(tmp_path / "idx_sa")
    # identical texts -> exact score ties split only by doc_id
    base = generate_webpages(spark, n_docs=60, vocab_size=200, seed=5)
    build_index(spark, base, out, target_postings_per_salt=50, term_buckets=8)
    eng = SearchEngine(out)
    q = ["spark", "데이터엔지니어"]
    full = eng.search(q, k=10**9, strategy="exhaustive", with_urls=False)
    pages = []
    cursor = None
    while True:
        p = (
            eng.search(q, k=7, strategy="exhaustive", with_urls=False)
            if cursor is None
            else eng.search(q, k=7, search_after=cursor, with_urls=False)
        )
        if not p:
            break
        pages.extend(p)
        cursor = (p[-1].score, p[-1].doc_id)
    assert [(h.doc_id, h.score) for h in pages] == [
        (h.doc_id, h.score) for h in full
    ]
    with pytest.raises(ValueError):
        eng.search(q, k=5, search_after=(1.0, 3), offset=5)


def test_search_after_splits_exact_ties(spark, tmp_path):
    """Docs with IDENTICAL text score identically; the cursor must
    advance through the tie group by doc_id."""
    out = str(tmp_path / "idx_sa_ties")
    pages = spark.createDataFrame(
        [(f"t{i}", "alpha beta common words here") for i in range(9)],
        "url string, text string",
    )
    build_index(spark, pages, out, target_postings_per_salt=50, term_buckets=8)
    eng = SearchEngine(out)
    full = eng.search(["alpha"], k=100, strategy="exhaustive", with_urls=False)
    assert len({h.score for h in full}) == 1 and len(full) == 9
    got = []
    cursor = None
    for _ in range(5):
        p = (
            eng.search(["alpha"], k=2, strategy="exhaustive", with_urls=False)
            if cursor is None
            else eng.search(["alpha"], k=2, search_after=cursor, with_urls=False)
        )
        if not p:
            break
        got.extend(p)
        cursor = (p[-1].score, p[-1].doc_id)
    assert [h.doc_id for h in got] == [h.doc_id for h in full]


def test_search_after_sharded_matches_driver(spark, tmp_path):
    """Distributed cursor pagination: every shard masks by the cursor
    inside its exhaustive kernel; the merged pages tile exactly like
    the driver engine's."""
    from job_searchengine_project_spark.corpus import generate_webpages
    from job_searchengine_project_spark.index.sharded import (
        build_sharded_segments,
        search_sharded,
    )

    out = str(tmp_path / "idx_sa_sh")
    base = generate_webpages(spark, n_docs=80, vocab_size=200, seed=9)
    build_index(spark, base, out, target_postings_per_salt=50, term_buckets=8)
    build_sharded_segments(spark, out, n_shards=3)
    eng = SearchEngine(out)
    q = ["spark", "데이터엔지니어"]
    p1 = eng.search(q, k=6, strategy="exhaustive", with_urls=False)
    cursor = (p1[-1].score, p1[-1].doc_id)
    want = [
        (h.doc_id, h.score)
        for h in eng.search(q, k=6, search_after=cursor, with_urls=False)
    ]
    got = [
        (int(r["doc_id"]), float(r["score"]))
        for r in search_sharded(spark, out, q, k=6, search_after=cursor).collect()
    ]
    assert got == want and got


def test_sharded_phrase_slop_matches_driver(spark, slop_index):
    """Distributed sloppy phrase == driver engine: same match set and
    scores under the ordered-window contract, through both the direct
    API and the distributed DSL endpoint."""
    from job_searchengine_project_spark.index.sharded import (
        build_sharded_segments,
        search_sharded_phrase,
    )
    from job_searchengine_project_spark.search.cluster import query_sharded

    build_sharded_segments(spark, slop_index, n_shards=3)
    eng = SearchEngine(slop_index)
    for slop in (0, 1, 2, 3):
        want = [
            (h.url, round(h.score, 9))
            for h in eng.search_phrase("alpha beta", k=10, slop=slop)
        ]
        got = [
            (r["url"], round(float(r["score"]), 9))
            for r in search_sharded_phrase(
                spark, slop_index, "alpha beta", k=10, slop=slop
            ).collect()
        ]
        assert got == want, slop
    resp = query_sharded(
        spark, slop_index,
        {"query": {"match_phrase": {"b": {"query": "alpha beta", "slop": 1}}},
         "size": 10},
    )
    want_dsl = eng.query(
        {"query": {"match_phrase": {"b": {"query": "alpha beta", "slop": 1}}},
         "size": 10}
    )
    assert resp["hits"]["total"] == want_dsl["hits"]["total"]
    assert {h["_id"] for h in resp["hits"]["hits"]} == {
        h["_id"] for h in want_dsl["hits"]["hits"]
    }


def test_match_phrase_prefix_and_analyze(spark, slop_index):
    """ES match_phrase_prefix (search-as-you-type): fixed terms in
    sequence + ANY dictionary term with the prefix at the last
    position; constant_score family contract (1.0, asc doc_id).
    Driver engine == hand truth == sharded kernel == both DSL
    endpoints; the _analyze endpoint emits the indexer's exact
    token/position sequence."""
    from job_searchengine_project_spark.index.sharded import (
        build_sharded_segments,
        phrase_prefix_docs_sharded,
        shards_fresh,
    )
    from job_searchengine_project_spark.index.termdict import (
        build_term_dictionary,
        termdict_fresh,
    )
    from job_searchengine_project_spark.search.cluster import query_sharded

    if not termdict_fresh(slop_index):
        build_term_dictionary(spark, slop_index)
    if not shards_fresh(slop_index):
        build_sharded_segments(spark, slop_index, n_shards=3)
    eng = SearchEngine(slop_index)
    url_of = {}
    for h in eng.search_prefix("a", k=100):
        url_of[h.doc_id] = h.url

    def urls(hits):
        eng._fetch_urls([h.doc_id for h in hits])
        return sorted(eng.url_of(h.doc_id) for h in hits)

    cases = {
        "alpha be": {"s0", "s5"},
        "alpha ga": {"s1", "s2", "s3"},
        "ga": {"s0", "s1", "s2", "s3", "s5"},  # degenerate: prefix query
        "alpha beta ga": {"s0", "s5"},  # s5: alpha@1 beta@2 gamma@3
        "zz": set(),
    }
    for q, want in cases.items():
        hits = eng.search_phrase_prefix(q, k=100)
        assert set(urls(hits)) == want, q
        assert all(h.score == 1.0 for h in hits)
        got_sh = {
            r["doc_id"]
            for r in phrase_prefix_docs_sharded(spark, slop_index, q).collect()
        }
        assert got_sh == {h.doc_id for h in hits}, q
    # DSL parity, driver vs distributed (totals + page)
    body = {"query": {"match_phrase_prefix": {"b": "alpha be"}}, "size": 5}
    want_r = eng.query(body)
    got_r = query_sharded(spark, slop_index, body)
    assert got_r["hits"]["total"] == want_r["hits"]["total"]
    assert [h["_id"] for h in got_r["hits"]["hits"]] == [
        h["_id"] for h in want_r["hits"]["hits"]
    ]
    assert want_r["hits"]["total"]["value"] == 2
    # max_expansions cap is honored (cap 0 -> no expansions -> no hits)
    assert eng.search_phrase_prefix("alpha be", k=10, max_expansions=0) == []
    # _analyze endpoint: exact indexer token/position sequence
    assert eng.analyze("alpha gap1 x beta") == [
        {"token": "alpha", "position": 0},
        {"token": "gap1", "position": 1},
        {"token": "beta", "position": 2},  # 'x' too short: dropped
    ]


def test_positional_purge_keeps_phrase_results(spark, tmp_path):
    """A purging compaction of a positional index re-encodes the
    tombstoned terms with their positions and passes every other row
    through with its position block table intact (a numpy array — its
    truth value once crashed the passthrough): phrase matches are the
    same before and after the purge (scores move: the purge makes df
    and N live-only)."""
    from job_searchengine_project_spark.index.compact import compact_index
    from job_searchengine_project_spark.index.tombstone import delete_docs

    rows = [
        (f"u{i}", ("gamma delta" if i % 2 == 0 else "delta gamma") + f" filler{i} spark")
        for i in range(10)
    ] + [(f"u{i}", f"delta epsilon filler{i} spark") for i in range(10, 20)]
    pages = spark.createDataFrame(rows, "url string, text string")
    out = str(tmp_path / "idx_pos_purge")
    build_index(
        spark, pages, out, block_size=4, term_buckets=4, with_positions=True,
    )
    seg = spark.read.parquet(out + "/segments")
    assert [len(r["block_n"]) for r in seg.filter("term = 'gamma'").collect()] == [3]
    delete_docs(spark, out, ["u3"])

    def phrases():
        eng = SearchEngine(out)
        return {
            q: sorted((h.doc_id, h.url) for h in eng.search_phrase(q, k=20))
            for q in ("gamma delta", "delta gamma", "epsilon filler12")
        }

    before = phrases()
    assert sorted(u for _, u in before["delta gamma"]) == ["u1", "u5", "u7", "u9"]
    assert compact_index(spark, out)["purged_docs"] == 1
    assert phrases() == before
