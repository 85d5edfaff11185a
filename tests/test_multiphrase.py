"""MultiPhraseQuery (``search/MultiPhraseQuery.java:53-120``): phrase
slots accepting multiple terms — per-slot positional union
(UnionPostingsEnum) feeding the exact/sloppy adjacency kernel.  Engine
vs the loop-based brute-force oracle, plus rewrite identities."""

import os

import numpy as np
import pytest

from lucene_1_spark import corpus as corpus_mod
from lucene_1_spark import oracle as oracle_mod
from lucene_1_spark.index import IndexBuilder, IndexReader
from lucene_1_spark.index.builder import IndexConfig
from lucene_1_spark.search import (IndexSearcher, MultiPhraseQuery,
                                   PhraseQuery, TermQuery)
from lucene_1_spark.search.query import (BooleanQuery, MatchNoDocsQuery,
                                         query_from_dict, query_to_dict,
                                         rewrite_fixpoint)


@pytest.fixture(scope="module")
def ctx(spark, tmp_root):
    pdf = corpus_mod.t_small()
    d = os.path.join(tmp_root, "idx_multiphrase")
    src = spark.createDataFrame(pdf).repartition(8, "repo")
    IndexBuilder(spark, d, IndexConfig(n_buckets=8, n_doc_partitions=8,
                                       positions=True)).build(src)
    se = IndexSearcher(IndexReader(spark, d))
    oidx = oracle_mod.build_oracle_index(pdf)
    return se, oidx


def _got(se, q, k=10):
    return [(r["doc_id"], np.float32(r["score"]))
            for r in se.search_df(q, k=k).collect()]


def _want(exp):
    return [(d, np.float32(s)) for d, _, s in exp]


@pytest.mark.parametrize("slots,slop", [
    ((("tok0",), ("tok1", "tok2")), 0),
    ((("def", "class"), ("tok1",)), 0),
    ((("tok1", "tok2"), ("tok3", "tok4")), 0),
    ((("tok0",), ("tok1", "tok2")), 2),
    ((("tok1", "tok2"), ("tok3",), ("tok4", "tok5")), 0),
    ((("tok1", "tok2"), ("tok3",), ("tok4", "tok5")), 3),
])
def test_multiphrase_matches_oracle(ctx, slots, slop):
    se, oidx = ctx
    exp = oracle_mod.search_oracle_multiphrase(oidx, slots, k=10, slop=slop)
    got = _got(se, MultiPhraseQuery(slots, slop=slop))
    assert got == _want(exp), (slots, slop)


def test_multiphrase_with_position_gap(ctx):
    """Builder.add(Term[], int): a stop-word hole between slots —
    slot 1 sits at position 2, so members must appear at anchor+2."""
    se, oidx = ctx
    slots = (("tok0",), ("tok2", "tok3"))
    exp = oracle_mod.search_oracle_multiphrase(oidx, slots, k=10,
                                               offsets=(0, 2))
    got = _got(se, MultiPhraseQuery(slots, positions=(0, 2)))
    assert got == _want(exp)
    assert exp, "gap fixture matched nothing — fixture too weak"


def test_singleton_slots_equal_phrase_query(ctx):
    """All-singleton slots are rank+score-identical to PhraseQuery —
    both through the rewrite (public path) and through the generalized
    kernel directly."""
    se, _ = ctx
    terms = ("tok1", "tok2", "tok3")
    for slop in (0, 2):
        want = _got(se, PhraseQuery(terms, slop=slop))
        mpq = MultiPhraseQuery(tuple((t,) for t in terms), slop=slop)
        assert rewrite_fixpoint(mpq) == PhraseQuery(terms, slop=slop)
        assert _got(se, mpq) == want
        direct = [(r["doc_id"], np.float32(r["score"])) for r in
                  se._multiphrase_search(mpq, 10, None).collect()]
        assert direct == want, slop


def test_single_slot_rewrites_to_should_disjunction(ctx):
    se, _ = ctx
    mpq = MultiPhraseQuery((("tok1", "tok2"),))
    r = rewrite_fixpoint(mpq)
    assert isinstance(r, BooleanQuery)
    assert _got(se, mpq) == _got(se, "tok1 tok2")
    assert rewrite_fixpoint(MultiPhraseQuery((("tok1",),))) == \
        TermQuery("tok1")


def test_degenerate_slots(ctx):
    se, _ = ctx
    assert isinstance(rewrite_fixpoint(MultiPhraseQuery(())),
                      MatchNoDocsQuery)
    assert isinstance(
        rewrite_fixpoint(MultiPhraseQuery((("tok1",), ()))),
        MatchNoDocsQuery)
    # a slot whose EVERY member is absent from the dictionary -> no hits
    assert _got(se, MultiPhraseQuery(
        (("tok1",), ("zzznope", "zzznope2")))) == []
    # absent members are skipped, present ones still match
    some = _got(se, MultiPhraseQuery((("tok1",), ("tok2", "zzznope"))))
    plain = _got(se, MultiPhraseQuery((("tok1",), ("tok2",))))
    # weight identical too: docFreq-0 members contribute no idf
    assert [d for d, _ in some] == [d for d, _ in plain]


def test_repeated_slot_needs_distinct_positions(spark, tmp_root):
    """Slots with identical member sets land on DISTINCT positions
    (SloppyPhraseMatcher.java:52-90): one union-occurrence cannot
    satisfy two repeat slots."""
    docs = [
        ("r", "d0", "c", "x", "a b c"),      # one union-occ of {b,c}? b AND c both -> 2
        ("r", "d1", "c", "x", "a b x"),      # only one {b,c} occurrence
        ("r", "d2", "c", "x", "a c b"),
    ]
    d = os.path.join(tmp_root, "idx_mpq_repeat")
    src = spark.createDataFrame(
        docs, "repo string, path string, commit string, lang string,"
        " content string")
    IndexBuilder(spark, d, IndexConfig(n_buckets=4, n_doc_partitions=2,
                                       positions=True)).build(src)
    se = IndexSearcher(IndexReader(spark, d))
    paths = {r["doc_id"]: r["path"] for r in se.reader.docs().collect()}
    q = MultiPhraseQuery((("a",), ("b", "c"), ("b", "c")), slop=1)
    got = sorted(paths[d_] for d_, _ in
                 ((r["doc_id"], r["score"]) for r in
                  se.search_df(q, k=None).collect()))
    # d1 has a single {b,c} position -> cannot fill both repeat slots
    assert got == ["d0", "d2"]


def test_multiphrase_serializer_roundtrip():
    q = MultiPhraseQuery((("a", "b"), ("c",)), boost=2.0, slop=1,
                         positions=(0, 2))
    assert query_from_dict(query_to_dict(q)) == q


def test_complex_phrase_parser_end_to_end(spark, tmp_root):
    """ComplexPhraseQueryParser analog
    (queryparser/complexPhrase/ComplexPhraseQueryParser.java):
    wildcard/prefix/fuzzy atoms INSIDE quoted phrases expand against
    the term dictionary at rewrite time and execute as a
    MultiPhraseQuery — results equal the hand-built MultiPhraseQuery
    over the same expansions."""
    import os

    import pandas as pd

    from lucene_1_spark.index import IndexBuilder, IndexReader
    from lucene_1_spark.index.builder import IndexConfig
    from lucene_1_spark.search import IndexSearcher
    from lucene_1_spark.search.query import (MultiPhraseQuery,
                                             parse_complex_phrase)
    pdf = pd.DataFrame([
        ("r", "d0", "c", "x", "jaguar smith hunts"),
        ("r", "d1", "c", "x", "jammed smith stalls"),
        ("r", "d2", "c", "x", "jaguar runs smith"),
        ("r", "d3", "c", "x", "other jaxon smith"),
        ("r", "d4", "c", "x", "zebra smith"),
    ], columns=["repo", "path", "commit", "lang", "content"])
    d = os.path.join(tmp_root, "idx_complexphrase")
    IndexBuilder(spark, d, IndexConfig(analyzer="whitespace", n_buckets=4,
                                       n_doc_partitions=2,
                                       positions=True)) \
        .build(spark.createDataFrame(pdf))
    s = IndexSearcher(IndexReader(spark, d))

    def paths(q, **kw):
        m = s.search_df(q, k=None, **kw)
        docs = s.reader.docs().select("doc_id", "path")
        return {r["path"] for r in m.join(docs, "doc_id").collect()}

    # exact adjacency: a ja*-term immediately before smith
    q = parse_complex_phrase('"ja* smith"', analyzer="whitespace")
    assert paths(q) == {"d0", "d1", "d3"}
    # equals the hand-expanded MultiPhraseQuery (scores too)
    mpq = MultiPhraseQuery(((("jaguar", "jammed", "jaxon"), ("smith",))))
    got = {(r["doc_id"], round(float(r["score"]), 5))
           for r in s.search_df(q, k=None).collect()}
    want = {(r["doc_id"], round(float(r["score"]), 5))
            for r in s.search_df(mpq, k=None).collect()}
    assert got == want
    # slop lets jaguar ... smith match at distance
    q2 = parse_complex_phrase('"ja* smith"~1', analyzer="whitespace")
    assert paths(q2) == {"d0", "d1", "d2", "d3"}
    # fuzzy atom inside a phrase
    q3 = parse_complex_phrase('"jaguar~1 smith"', analyzer="whitespace")
    assert "d0" in paths(q3)
    # a pattern matching NO indexed term empties the phrase
    q4 = parse_complex_phrase('"zz* smith"', analyzer="whitespace")
    assert paths(q4) == set()
    # plain quoted phrase still parses as PhraseQuery semantics
    q5 = parse_complex_phrase('"jaguar smith"', analyzer="whitespace")
    assert paths(q5) == {"d0"}
    # composes as a boolean clause
    q6 = parse_complex_phrase('+"ja* smith" -stalls',
                              analyzer="whitespace")
    assert paths(q6) == {"d0", "d3"}


def test_multiphrase_straddling_ranges_with_gap(spark, tmp_root):
    """Multi-member slots and a position gap on an index far larger
    than BLOCK_SIZE x shuffle partitions, so posting blocks straddle
    the doc ranges the phrase kernel groups on."""
    pdf = corpus_mod.generate(3000, seed=7)
    d = os.path.join(tmp_root, "idx_multiphrase_big")
    src = spark.createDataFrame(pdf).repartition(8, "repo")
    IndexBuilder(spark, d, IndexConfig(n_buckets=8, n_doc_partitions=8,
                                       positions=True)).build(src)
    se = IndexSearcher(IndexReader(spark, d))
    oidx = oracle_mod.build_oracle_index(pdf)
    for slots, offsets, slop in [
        ((("tok0", "tok3"), ("tok1", "tok2")), (0, 2), 0),
        ((("tok1",), ("tok0", "tok2"), ("tok3", "tok4")), (0, 1, 3), 1),
    ]:
        exp = oracle_mod.search_oracle_multiphrase(
            oidx, slots, k=10, slop=slop, offsets=offsets)
        assert exp, slots
        got = _got(se, MultiPhraseQuery(slots, slop=slop,
                                        positions=offsets))
        assert got == _want(exp), (slots, offsets, slop)
