"""Focused asserts for the round-8 optimization internals: the new
plan shapes (one-pass WAND, single-term no-exchange path, column-pruned
decode inputs, funnel-free windows) and the exact-equality properties
the restructures rely on."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from lucene_1_spark.index import IndexReader, build_index
from lucene_1_spark.index.builder import IndexConfig
from lucene_1_spark.search import IndexSearcher
from lucene_1_spark.search.executor import _merge_ranges, empty_df


@pytest.fixture(scope="module")
def searcher(spark, tmp_path_factory):
    from lucene_1_spark import corpus as corpus_mod
    d = str(tmp_path_factory.mktemp("r08opt") / "idx")
    shutil.rmtree(d, ignore_errors=True)
    src = spark.createDataFrame(corpus_mod.generate(600))
    build_index(spark, src, d,
                IndexConfig(analyzer="whitespace", n_buckets=4,
                            n_doc_partitions=4, positions=True))
    return IndexSearcher(IndexReader(spark, d))


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_single_term_no_exchange(searcher):
    """One scoring term skips the per-doc aggregation: the plan holds
    exactly one Python kernel and no Exchange below TakeOrdered."""
    plan = _plan(searcher.search_df("tok0", k=10))
    assert plan.count("MapInPandas") == 1
    assert "Exchange" not in plan
    assert "TakeOrderedAndProject" in plan


def test_multi_term_wand_single_decode(searcher):
    """The pruned disjunction decodes blocks ONCE (survivor-tagged),
    not candidates + scores + semi-join."""
    plan = _plan(searcher.search_df("tok0 tok1", k=10))
    assert plan.count("MapInPandas") == 1
    assert "SortMergeJoin" not in plan and "LeftSemi" not in plan


def test_decode_inputs_column_pruned(searcher):
    """No decode kernel receives the heavy `positions` binary unless it
    needs positions: a term query's scan schema excludes it."""
    plan = _plan(searcher.search_df("tok0", k=10))
    scan = plan[plan.index("Scan parquet"):]
    head = scan[:scan.index("\n")] if "\n" in scan else scan
    assert "positions" not in head


def test_phrase_one_positions_kernel(searcher):
    """The phrase path runs ONE positions-decoding kernel: a single
    grouped kernel per doc range, with no docs-only candidate kernel
    and no candidate broadcast or semi-join."""
    from lucene_1_spark.search.query import PhraseQuery
    plan = _plan(searcher.search_df(PhraseQuery(("tok0", "tok1")), k=10))
    assert plan.count("FlatMapGroupsInPandas") == 1
    assert "MapInPandas" not in plan
    assert "Broadcast" not in plan and "LeftSemi" not in plan


def test_empty_df_memoized(spark):
    a = empty_df(spark, "doc_id long, score float")
    b = empty_df(spark, "doc_id long, score float")
    assert a is b
    assert a.collect() == []


def test_merge_ranges_coalesce_sound():
    ranges = sorted([(0, 10), (12, 20), (100, 110), (300, 310), (311, 320)])
    merged = _merge_ranges(ranges, 2)
    assert len(merged) <= 2
    # every input range stays covered after coalescing (soundness)
    for lo, hi in ranges:
        assert any(mlo <= lo and hi <= mhi for mlo, mhi in merged)


def test_pack_sequences_matches_naive_window(spark):
    """The decomposed global prefix sum equals the naive single global
    window bit-for-bit, including sparse / unordered ids."""
    import random
    rnd = random.Random(7)
    ids = rnd.sample(range(0, 1_000_000), 300)
    rows = [(i, " ".join("w" * 1 for _ in range(rnd.randint(0, 9))))
            for i in ids]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from pyspark.sql import Window as W

    from lucene_1_spark.pipeline.sampling import (pack_sequences,
                                                  token_count_col)
    got = {r["doc_id"]: (r["tok_start"], r["seq_id"])
           for r in pack_sequences(df, capacity=16).collect()}
    w = W.partitionBy().orderBy(F.asc("doc_id")) \
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    naive = (df.withColumn("n", token_count_col("text"))
             .withColumn("ts", (F.sum("n").over(w) - F.col("n"))
                         .cast("long"))
             .withColumn("sq", F.floor(F.col("ts") / 16).cast("long")))
    want = {r["doc_id"]: (r["ts"], r["sq"]) for r in naive.collect()}
    assert got == want


def test_dynamic_range_facets_no_global_row_window(searcher):
    """The row_number binning window is PARTITIONED by the facet value
    (the old shape ranked the whole match set through one empty
    partition spec); the only unpartitioned window runs over the
    aggregated histogram (a sum, not row_number)."""
    from lucene_1_spark.search.collectors import dynamic_range_facets
    df = dynamic_range_facets(searcher, "tok0", "length", topn=3)
    plan = _plan(df)
    rn_lines = [ln for ln in plan.splitlines() if "row_number()" in ln]
    assert rn_lines, "expected a row_number window in the plan"
    for ln in rn_lines:
        # textual Window prints `..., [partitionCols], [orderCols]`;
        # the old global funnel printed an EMPTY partition list
        assert "], [], [" not in ln, f"unpartitioned row_number: {ln}"
        assert "length#" in ln.split("windowspecdefinition", 1)[-1]
    rows = df.collect()
    assert sum(r["n_docs"] for r in rows) > 0


def test_repack_term_salt_output_identical(spark, tmp_path):
    """The batched (bucket, term-salt) repack produces the same blocks
    per term as full compaction always did: fragmented-term count is 0
    and query results survive compaction unchanged."""
    from lucene_1_spark import corpus as corpus_mod
    from lucene_1_spark.index.maintenance import compact_index
    from lucene_1_spark.streaming.incremental import IncrementalIndexWriter
    d = str(tmp_path / "idx2")
    cfg = IndexConfig(analyzer="whitespace", n_buckets=4,
                      n_doc_partitions=4)
    w = IncrementalIndexWriter(spark, d, cfg)
    pdf = corpus_mod.generate(900)
    for i in range(3):
        w.append(spark.createDataFrame(pdf.iloc[i * 300:(i + 1) * 300]),
                 batch_id=i)
    before = IndexSearcher(IndexReader(spark, d)).search("tok0 tok1", k=10)
    compact_index(spark, d)
    r = IndexReader(spark, d)
    frag = (r.postings().groupBy("term")
            .agg(F.count("*").alias("nb"), F.sum("num_docs").alias("df"))
            .filter(F.col("nb") != F.ceil(F.col("df") / 128)).count())
    assert frag == 0
    after = IndexSearcher(r).search("tok0 tok1", k=10)
    assert [(h["doc_id"], h["score"]) for h in before] == \
        [(h["doc_id"], h["score"]) for h in after]
