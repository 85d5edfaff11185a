"""Phrase queries (positions): engine vs brute-force oracle — exact
positional intersection, pseudo-term scoring, tie-breaks."""

import os

import numpy as np
import pytest

from lucene_1_spark import corpus as corpus_mod
from lucene_1_spark import oracle as oracle_mod
from lucene_1_spark.index import IndexBuilder, IndexReader
from lucene_1_spark.index.builder import IndexConfig
from lucene_1_spark.search import IndexSearcher, PhraseQuery


@pytest.fixture(scope="module")
def pos_index(spark, tmp_root):
    pdf = corpus_mod.t_small()
    d = os.path.join(tmp_root, "idx_positions")
    src = spark.createDataFrame(pdf).repartition(8, "repo")
    IndexBuilder(spark, d, IndexConfig(n_buckets=8, n_doc_partitions=8,
                                       positions=True)).build(src)
    return d, pdf


@pytest.fixture(scope="module")
def psearcher(spark, pos_index):
    d, _ = pos_index
    return IndexSearcher(IndexReader(spark, d))


@pytest.fixture(scope="module")
def oidx(pos_index):
    _, pdf = pos_index
    return oracle_mod.build_oracle_index(pdf)


@pytest.mark.parametrize("phrase", [
    '"tok0 tok1"', '"def class"', '"tie tok5"', '"tok5 tok5"',
    '"tok1 tok2 tok3"', '"zzz yyy"',
])
def test_phrase_matches_oracle(psearcher, oidx, phrase):
    exp = oracle_mod.search_oracle(oidx, phrase, k=10)
    got = psearcher.search(phrase, k=10)
    assert [r["doc_id"] for r in got] == [e[0] for e in exp], phrase
    for r, e in zip(got, exp):
        assert np.float32(r["score"]) == np.float32(e[2]), (phrase, r, e)


def test_phrase_requires_positions_index(spark, tmp_root):
    d = os.path.join(tmp_root, "idx_nopos")
    src = spark.createDataFrame(corpus_mod.generate(30)).repartition(2)
    IndexBuilder(spark, d, IndexConfig(n_buckets=4, n_doc_partitions=2)).build(src)
    s = IndexSearcher(IndexReader(spark, d))
    with pytest.raises(ValueError, match="positions"):
        s.search_df(PhraseQuery(("tok0", "tok1")), k=5).collect()


def test_non_phrase_queries_still_match(psearcher, oidx):
    for q in ["tok0", "+tok1 +tok2", "tok3 tok4"]:
        exp = oracle_mod.search_oracle(oidx, q, k=10)
        got = psearcher.search(q, k=10)
        assert [r["doc_id"] for r in got] == [e[0] for e in exp], q


# -- sloppy-phrase repeated-term semantics (SloppyPhraseMatcher.java:52-90:
#    repeat slots must land on DISTINCT positions) -------------------------

@pytest.fixture(scope="module")
def repeat_searcher(spark, tmp_root):
    docs = [
        ("r", "d0", "c", "x", "a b c"),        # one b: "a b b"~N no match
        ("r", "d1", "c", "x", "a b x b"),      # two b's, in-window
        ("r", "d2", "c", "x", "a b b"),        # adjacent b's
        ("r", "d3", "c", "x", "b"),            # one b: "b b"~N no match
        ("r", "d4", "c", "x", "b b"),
        ("r", "d5", "c", "x", "b x x x b"),    # b's too far for slop 1
        ("r", "d6", "c", "x", "a b"),
    ]
    d = os.path.join(tmp_root, "idx_repeat_phrase")
    src = spark.createDataFrame(
        docs, "repo string, path string, commit string, lang string,"
        " content string")
    IndexBuilder(spark, d, IndexConfig(n_buckets=4, n_doc_partitions=2,
                                       positions=True)).build(src)
    return IndexSearcher(IndexReader(spark, d))


def _paths(searcher, hits):
    docs = {r["doc_id"]: r["path"] for r in searcher.reader.docs().collect()}
    return sorted(docs[h["doc_id"]] for h in hits)


def test_sloppy_repeat_needs_distinct_occurrences(repeat_searcher):
    """("a","b","b") with slop: a doc with a single 'b' must NOT match
    — both b-slots may not reuse one occurrence."""
    hits = repeat_searcher.search(PhraseQuery(("a", "b", "b"), slop=1), k=10)
    assert _paths(repeat_searcher, hits) == ["d1", "d2"]
    # d0 ("a b c") and d6 ("a b") have one b each: excluded


def test_sloppy_two_term_repeat(repeat_searcher):
    """("b","b")~1: only docs with two b's within the window match."""
    hits = repeat_searcher.search(PhraseQuery(("b", "b"), slop=1), k=10)
    assert _paths(repeat_searcher, hits) == ["d1", "d2", "d4"]
    # d3 has one b; d5's b's are 4 apart (> slop+1)


def test_sloppy_repeat_exact_still_works(repeat_searcher):
    """slop=0 adjacency with repeats: "b b" exact."""
    hits = repeat_searcher.search(PhraseQuery(("b", "b"), slop=0), k=10)
    assert _paths(repeat_searcher, hits) == ["d2", "d4"]


# -- the one-exchange shape: doc-range grouping, complex clauses,
#    cursors, deletes, job count ----------------------------------------

@pytest.fixture(scope="module")
def big_ctx(spark, tmp_root):
    """Many more docs than BLOCK_SIZE x shuffle partitions, so posting
    blocks straddle the doc-range boundaries the phrase kernel groups
    on."""
    pdf = corpus_mod.generate(4000)
    d = os.path.join(tmp_root, "idx_positions_big")
    src = spark.createDataFrame(pdf).repartition(8, "repo")
    IndexBuilder(spark, d, IndexConfig(n_buckets=8, n_doc_partitions=8,
                                       positions=True)).build(src)
    return (IndexSearcher(IndexReader(spark, d)),
            oracle_mod.build_oracle_index(pdf))


def _rows(df):
    return [(r["doc_id"], np.float32(r["score"])) for r in df.collect()]


def _want(exp):
    return [(d, np.float32(s)) for d, _, s in exp]


def test_phrase_blocks_straddle_doc_ranges(spark, big_ctx):
    from lucene_1_spark.functions.codecs import BLOCK_SIZE
    from lucene_1_spark.index.maintenance import next_doc_id
    se, oidx = big_ctx
    terms = ["tok0", "tok1"]
    n_ranges = max(int(spark.conf.get("spark.sql.shuffle.partitions")),
                   -(-se._estimate_blocks(terms) // BLOCK_SIZE))
    width = -(-next_doc_id(se.reader.manifest) // n_ranges)
    meta = se.reader.block_meta_arrow(terms)
    assert ((meta["first_doc"] // width) != (meta["last_doc"] // width)).any()
    exp = oracle_mod.search_oracle(oidx, '"tok0 tok1"', k=10)
    assert exp
    assert _rows(se.search_df(PhraseQuery(("tok0", "tok1")), k=10)) \
        == _want(exp)


@pytest.mark.parametrize("terms,slop", [
    (("tok0", "tok2"), 2), (("tok1", "tok0", "tok1"), 2),
    (("tok2", "tok0", "tok1"), 1),
])
def test_sloppy_phrase_straddling_matches_oracle(big_ctx, terms, slop):
    se, oidx = big_ctx
    exp = oracle_mod.search_oracle_multiphrase(
        oidx, tuple((t,) for t in terms), k=10, slop=slop)
    assert exp
    assert _rows(se.search_df(PhraseQuery(terms, slop=slop), k=10)) \
        == _want(exp)


def test_phrase_as_boolean_clause(big_ctx):
    """A phrase inside a BooleanQuery runs as a complex clause (k=None):
    its per-doc scores add to the term's in double, then cast."""
    from lucene_1_spark.search import BooleanQuery, TermQuery
    from lucene_1_spark.search.query import Clause, Occur
    se, oidx = big_ctx
    q = BooleanQuery((Clause(TermQuery("tok3"), Occur.MUST),
                      Clause(PhraseQuery(("tok0", "tok1")), Occur.MUST)))
    ph = {d: s for d, _, s in
          oracle_mod.search_oracle_phrase(oidx, ["tok0", "tok1"], k=10**6)}
    tm = {d: s for d, _, s in oracle_mod.search_oracle(oidx, "tok3",
                                                        k=10**6)}
    both = sorted(((d, np.float32(float(np.float32(ph[d]))
                                  + float(np.float32(tm[d]))))
                   for d in ph.keys() & tm.keys()),
                  key=lambda r: (-r[1], r[0]))
    assert both
    assert _rows(se.search_df(q, k=10)) == both[:10]


def test_phrase_after_cursor_page(big_ctx):
    se, oidx = big_ctx
    exp = _want(oracle_mod.search_oracle(oidx, '"tok0 tok1"', k=10))
    q = PhraseQuery(("tok0", "tok1"))
    first = _rows(se.search_df(q, k=5))
    assert first == exp[:5]
    d, s = first[-1]
    assert _rows(se.search_df(q, k=5, after=(float(s), d))) == exp[5:10]


def test_phrase_runs_in_two_jobs(spark, big_ctx):
    """One exchange, then the top-k: planning plus collect of a phrase
    top-k runs at most two Spark jobs (no candidate pass)."""
    se, _ = big_ctx
    sc = spark.sparkContext
    group = "phrase-job-count"
    sc.setJobGroup(group, "phrase job count")
    try:
        rows = se.search_df(PhraseQuery(("tok0", "tok2"), slop=1),
                            k=10).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert rows
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 2


def test_phrase_multi_segment_with_deletes(spark, tmp_root):
    """Uncompacted deletes take search_df's tombstone path: live docs
    keep their scores (stats stay stale until compaction) and deleted
    docs drop out."""
    from lucene_1_spark.streaming import IncrementalIndexWriter
    pdf = corpus_mod.t_small().sort_values(
        ["repo", "path", "commit"], kind="mergesort").reset_index(drop=True)
    half = len(pdf) // 2
    d = os.path.join(tmp_root, "idx_phrase_deletes")
    w = IncrementalIndexWriter(spark, d, IndexConfig(
        n_buckets=8, n_doc_partitions=4, positions=True))
    w.append(spark.createDataFrame(pdf.iloc[:half]))
    w.append(spark.createDataFrame(pdf.iloc[half:]))
    oidx = oracle_mod.build_oracle_index(pdf)
    q = PhraseQuery(("tok0", "tok1"))
    exp = _want(oracle_mod.search_oracle(oidx, '"tok0 tok1"', k=10**6))
    se = IndexSearcher(IndexReader(spark, d))
    assert se.reader.manifest.get("n_segments") == 2
    assert _rows(se.search_df(q, k=10)) == exp[:10]
    dead = [exp[0][0], exp[2][0]]
    w.delete_docs(spark.createDataFrame([(x,) for x in dead], "doc_id long"))
    se = IndexSearcher(IndexReader(spark, d))
    assert se.reader.has_deletes
    assert _rows(se.search_df(q, k=10)) == \
        [r for r in exp if r[0] not in dead][:10]
