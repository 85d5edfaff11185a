"""Selective segment merging — the TieredMergePolicy + SegmentMerger
analog (``index/TieredMergePolicy.java:89-93``,
``index/SegmentMerger.java:113-244``): merge ONLY the chosen segments'
files (O(merged bytes)), reclaim their tombstones, leave every other
segment untouched, commit atomically, keep snapshots readable."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from lucene_1_spark import corpus as corpus_mod
from lucene_1_spark.index import IndexBuilder, IndexReader
from lucene_1_spark.index.builder import IndexConfig
from lucene_1_spark.index.maintenance import (segment_sizes, select_merge,
                                              snapshot_index)
from lucene_1_spark.search import IndexSearcher
from lucene_1_spark.streaming.incremental import IncrementalIndexWriter

CFG = dict(n_buckets=4, n_doc_partitions=2, positions=True)
QUERIES = ["tok0", "tok1 tok2", "+tok0 +tok3", "tok4 -tok0", '"tok0 tok1"']


def _tokens(text: str) -> set[str]:
    from lucene_1_spark.analysis import get_analyzer
    return set(get_analyzer("standard").tokens(text))


def _hits(searcher, q) -> dict[str, float]:
    m = searcher.search_df(q, k=None)
    docs = searcher.reader.docs()
    rows = (m.join(docs, "doc_id")
            .select(F.concat_ws("/", "repo", "path").alias("key"), "score")
            .collect())
    return {r["key"]: float(np.float32(r["score"])) for r in rows}


def _file_census(root):
    out = {}
    for dirpath, _, files in os.walk(root):
        for fn in files:
            if fn.endswith(".parquet"):
                p = os.path.join(dirpath, fn)
                out[os.path.relpath(p, root)] = os.path.getsize(p)
    return out


@pytest.fixture(scope="module")
def corpus():
    return corpus_mod.generate(260)


def _build_segmented(spark, d, corpus, n_appends=4):
    """Bootstrap (base, 100 docs) + n_appends segments of 40 docs."""
    w = IncrementalIndexWriter(spark, d, IndexConfig(**CFG))
    w.append(spark.createDataFrame(corpus.iloc[:100]), batch_id=0)
    for i in range(n_appends):
        lo = 100 + 40 * i
        w.append(spark.createDataFrame(corpus.iloc[lo:lo + 40]),
                 batch_id=i + 1)
    return w


def test_merge_all_segments_equals_fresh_build(spark, tmp_root, corpus):
    """Merging EVERY segment (base included) with deletes pending must
    equal a fresh build over the live corpus — stats and scores."""
    d = os.path.join(tmp_root, "idx_mrg_all")
    w = _build_segmented(spark, d, corpus)
    w.delete_by_term("tok9")
    segs = sorted(segment_sizes(d))
    assert set(segs) == {"base", "seg1", "seg2", "seg3", "seg4"}
    out = w.merge(segments=segs)
    assert out is not None and out["segment"] == "segM1"
    r = IndexReader(spark, d)
    assert not r.has_deletes          # everything reclaimed
    assert out["remaining_tombstones"] == 0

    live = corpus.iloc[:260]
    live = live[[("tok9" not in _tokens(c)) for c in live["content"]]]
    d2 = os.path.join(tmp_root, "idx_mrg_all_ref")
    IndexBuilder(spark, d2, IndexConfig(**CFG)).build(
        spark.createDataFrame(live).repartition(4, "repo"))
    s, s2 = IndexSearcher(r), IndexSearcher(IndexReader(spark, d2))
    for k in ("n_docs", "doc_count", "sum_total_term_freq",
              "sum_doc_freq"):
        assert s.reader.stats[k] == s2.reader.stats[k], k
    for q in QUERIES:
        assert _hits(s, q) == _hits(s2, q), q
    # merged postings are defragmented into full blocks
    bad = (r.postings().groupBy("term")
           .agg(F.count("*").alias("nb"), F.sum("num_docs").alias("df"))
           .filter(F.col("nb") != F.ceil(F.col("df") / 128)).count())
    assert bad == 0


def test_partial_merge_touches_only_selected(spark, tmp_root, corpus):
    """Merge seg1+seg2 only: base/seg3/seg4 files survive path- and
    byte-identical in the new generation (hard links, no rewrite);
    results are unchanged; only merged-segment tombstones reclaim."""
    import shutil
    d = os.path.join(tmp_root, "idx_mrg_part")
    w = _build_segmented(spark, d, corpus)
    w.delete_by_term("tok9")
    d_ref = d + "_ref"
    shutil.rmtree(d_ref, ignore_errors=True)
    shutil.copytree(d, d_ref)
    s0 = IndexSearcher(IndexReader(spark, d))
    before_hits = {q: _hits(s0, q) for q in QUERIES}
    n_tomb_before = s0.reader.tombstones().count()
    # tombstones that live in seg1/seg2 (doc_ids 100..179)
    in_merged = s0.reader.tombstones() \
        .filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 180)).count()
    before = {t: _file_census(os.path.join(d, t))
              for t in ("docs", "postings", "term_stats")}

    out = w.merge(segments=["seg1", "seg2"])
    assert out is not None
    assert out["reclaimed_docs"] == in_merged
    assert out["remaining_tombstones"] == n_tomb_before - in_merged

    r = IndexReader(spark, d)
    m = r.manifest
    after = {t: _file_census(os.path.join(d, m[f"{t}_path"]))
             for t in ("docs", "postings", "term_stats")}
    for t in before:
        kept_old = {p: sz for p, sz in before[t].items()
                    if not os.path.basename(p).startswith(("seg1-",
                                                           "seg2-"))}
        # every untouched file is present, identical path + size
        for p, sz in kept_old.items():
            assert after[t].get(p) == sz, (t, p)
        # no seg1-/seg2- file survives; a segM1- file exists
        assert not any(os.path.basename(p).startswith(("seg1-", "seg2-"))
                       for p in after[t]), t
    assert any("segM1-" in p for p in after["docs"])
    # unreclaimed deletes still mask: the MATCH SET is unchanged
    # (scores legitimately shift — reclaiming the merged segments'
    # deletes updates collection stats, exactly as a Lucene merge does)
    assert r.has_deletes
    s1 = IndexSearcher(r)
    for q in QUERIES:
        assert set(_hits(s1, q)) == set(before_hits[q]), q
    # stats shrank by exactly the reclaimed docs
    assert r.stats["n_docs"] == s0.reader.stats["n_docs"] - in_merged
    # merge-then-compact == compact-directly (scores, stats — the
    # merge changed nothing semantically)
    w.compact()
    from lucene_1_spark.index.maintenance import compact_index
    compact_index(spark, d_ref)
    s2 = IndexSearcher(IndexReader(spark, d))
    s3 = IndexSearcher(IndexReader(spark, d_ref))
    assert s2.reader.stats == s3.reader.stats
    for q in QUERIES:
        assert _hits(s2, q) == _hits(s3, q), q


def test_tier_policy_selects_smallest(spark, tmp_root, corpus):
    """maybe_merge: no-op under the tier budget; over it, merges the
    SMALLEST segments (never the big base) and brings the count back
    under budget."""
    d = os.path.join(tmp_root, "idx_mrg_policy")
    w = _build_segmented(spark, d, corpus, n_appends=3)
    sizes = segment_sizes(d)
    assert len(sizes) == 4
    assert w.maybe_merge(segs_per_tier=4) is None      # at budget
    out = w.maybe_merge(segs_per_tier=3)               # over budget
    assert out is not None and "base" not in out["merged"]
    assert len(out["merged"]) >= 2
    sizes2 = segment_sizes(d)
    assert len(sizes2) <= 3
    assert "base" in sizes2 and "segM1" in sizes2
    # pure-function policy: biggest-first never chosen while under cap
    pick = select_merge({"a": 100, "b": 5, "c": 7, "d": 9},
                        segs_per_tier=3, max_merge_at_once=10)
    assert pick == ["b", "c"]
    assert select_merge({"a": 1, "b": 2}, segs_per_tier=3) is None
    # max_merged_bytes excludes giants from eligibility
    assert select_merge({"a": 10 ** 12, "b": 5, "c": 7},
                        segs_per_tier=2,
                        max_merged_bytes=10 ** 9) == ["b", "c"]


def test_force_merge_cascade(spark, tmp_root, corpus):
    """forceMerge(1) via cascaded selective merges (bounded merge
    width): ends at one segment with results and stats identical to
    the pre-merge view (no deletes pending => stats unchanged)."""
    d = os.path.join(tmp_root, "idx_mrg_force")
    w = _build_segmented(spark, d, corpus, n_appends=4)   # 5 segments
    s0 = IndexSearcher(IndexReader(spark, d))
    before_hits = {q: _hits(s0, q) for q in QUERIES}
    before_stats = dict(s0.reader.stats)
    out = w.force_merge(max_num_segments=1, max_merge_at_once=3)
    assert out is not None and out["segment"] == "segM2"  # 2 passes
    sizes = segment_sizes(d)
    assert list(sizes) == ["segM2"]
    r = IndexReader(spark, d)
    assert r.stats == before_stats
    s1 = IndexSearcher(r)
    for q in QUERIES:
        assert _hits(s1, q) == before_hits[q], q
    bad = (r.postings().groupBy("term")
           .agg(F.count("*").alias("nb"), F.sum("num_docs").alias("df"))
           .filter(F.col("nb") != F.ceil(F.col("df") / 128)).count())
    assert bad == 0
    # idempotent at target
    assert w.force_merge(max_num_segments=1) is None


def test_foreach_batch_auto_merge(spark, tmp_root, corpus):
    """The ConcurrentMergeScheduler analog: the streaming handler with
    auto_merge keeps the segment count at the tier budget while batches
    land exactly once."""
    d = os.path.join(tmp_root, "idx_mrg_auto")
    w = IncrementalIndexWriter(spark, d, IndexConfig(**CFG))
    handler = w.foreach_batch(auto_merge=True, segs_per_tier=2)
    for i in range(5):
        handler(spark.createDataFrame(corpus.iloc[i * 40:(i + 1) * 40]), i)
    assert len(segment_sizes(d)) <= 2
    r = IndexReader(spark, d)
    assert r.stats["n_docs"] == 200
    docs = spark.read.parquet(r.table_path("docs"))
    assert docs.groupBy("doc_id").count().filter("count > 1").count() == 0
    # redelivery after merges is still a no-op
    handler(spark.createDataFrame(corpus.iloc[160:200]), 4)
    assert IndexReader(spark, d).stats["n_docs"] == 200


def test_add_indexes_equals_union_build(spark, tmp_root, corpus):
    """addIndexes: two shard indexes built independently compose into
    one whose stats and scores equal a fresh build over the union —
    with zero re-analysis (docID rebase is column arithmetic)."""
    cfg = IndexConfig(**CFG)
    d_a = os.path.join(tmp_root, "idx_shard_a")
    d_b = os.path.join(tmp_root, "idx_shard_b")
    IndexBuilder(spark, d_a, cfg).build(
        spark.createDataFrame(corpus.iloc[:120]))
    IndexBuilder(spark, d_b, cfg).build(
        spark.createDataFrame(corpus.iloc[120:260]))
    w = IncrementalIndexWriter(spark, d_a, cfg)
    stats = w.add_indexes([d_b])
    assert stats["n_docs"] == 260

    d_ref = os.path.join(tmp_root, "idx_union_ref")
    IndexBuilder(spark, d_ref, cfg).build(
        spark.createDataFrame(corpus.iloc[:260]))
    s, s2 = (IndexSearcher(IndexReader(spark, d_a)),
             IndexSearcher(IndexReader(spark, d_ref)))
    assert s.reader.stats == s2.reader.stats
    for q in QUERIES:
        assert _hits(s, q) == _hits(s2, q), q
    # absorbed segments participate in merging like any other
    out = w.merge(segments=sorted(segment_sizes(d_a)))
    assert out is not None
    s3 = IndexSearcher(IndexReader(spark, d_a))
    for q in QUERIES:
        assert _hits(s3, q) == _hits(s2, q), q
    # config mismatch is refused (the reference's compatibility check)
    d_c = os.path.join(tmp_root, "idx_shard_c")
    IndexBuilder(spark, d_c, IndexConfig(n_buckets=8, n_doc_partitions=2,
                                         positions=True)).build(
        spark.createDataFrame(corpus.iloc[:40]))
    with pytest.raises(ValueError, match="config mismatch"):
        w.add_indexes([d_c])


def test_merge_keeps_snapshot_readable(spark, tmp_root, corpus):
    """A snapshot retained before the merge still reads its exact
    commit point afterwards (old generation dirs are protected; hard
    links keep shared files alive)."""
    d = os.path.join(tmp_root, "idx_mrg_snap")
    w = _build_segmented(spark, d, corpus, n_appends=2)
    s0 = IndexSearcher(IndexReader(spark, d))
    pre_hits = _hits(s0, "tok1")
    pre_n = s0.reader.stats["n_docs"]
    snap = snapshot_index(d)
    w.delete_by_term("tok9")
    assert w.merge(segments=["base", "seg1", "seg2"]) is not None
    # current view: deletes reclaimed
    assert IndexReader(spark, d).stats["n_docs"] < pre_n
    # snapshot view: the exact pre-delete, pre-merge commit
    rs = IndexReader(spark, d, snapshot=snap)
    assert rs.stats["n_docs"] == pre_n
    assert not rs.has_deletes
    assert _hits(IndexSearcher(rs), "tok1") == pre_hits


def test_select_merge_total_size_cap():
    """The merged TOTAL respects max_merged_bytes
    (``TieredMergePolicy.java:655-668`` totAfterMergeBytes): picks stop
    accumulating before the sum exceeds the cap."""
    sizes = {f"s{i}": 4 for i in range(12)}
    pick = select_merge(sizes, segs_per_tier=2, max_merge_at_once=10,
                        max_merged_bytes=10)
    assert pick is not None and len(pick) == 2
    assert sum(sizes[s] for s in pick) <= 10
    # a cap too small for even two picks still merges two (progress
    # beats the cap, as the reference also always merges >= 2)
    pick2 = select_merge(sizes, segs_per_tier=2, max_merge_at_once=10,
                         max_merged_bytes=3)
    assert pick2 is None  # nothing eligible (each segment > cap)


def test_append_after_reclaiming_merge_no_id_collision(
        spark, tmp_root, corpus):
    """The ADVICE-high regression: a reclaiming merge shrinks n_docs
    without renumbering survivors; a later append must rebase off the
    persisted ``next_doc_id`` high-water mark, not n_docs — otherwise
    new docs collide with live ids."""
    from lucene_1_spark.index.maintenance import next_doc_id
    d = os.path.join(tmp_root, "idx_hwm_append")
    w = _build_segmented(spark, d, corpus, n_appends=2)  # 180 docs
    w.delete_by_term("tok9")
    assert w.merge(segments=sorted(segment_sizes(d))) is not None
    r = IndexReader(spark, d)
    n_live = r.stats["n_docs"]
    assert n_live < 180                      # reclaim happened
    assert next_doc_id(r.manifest) == 180    # high-water mark kept

    w.append(spark.createDataFrame(corpus.iloc[180:220]), batch_id=99)
    r2 = IndexReader(spark, d)
    ids = r2.docs().select("doc_id")
    assert ids.count() == n_live + 40
    assert ids.distinct().count() == n_live + 40  # no collisions
    assert next_doc_id(r2.manifest) == 220

    # composed index == fresh build over the live union (stats+scores)
    import pandas as pd
    live = corpus.iloc[:180]
    live = live[[("tok9" not in _tokens(c)) for c in live["content"]]]
    union = pd.concat([live, corpus.iloc[180:220]])
    d_ref = os.path.join(tmp_root, "idx_hwm_append_ref")
    IndexBuilder(spark, d_ref, IndexConfig(**CFG)).build(
        spark.createDataFrame(union))
    s, s_ref = (IndexSearcher(IndexReader(spark, d)),
                IndexSearcher(IndexReader(spark, d_ref)))
    assert s.reader.stats == s_ref.reader.stats
    for q in QUERIES:
        assert _hits(s, q) == _hits(s_ref, q), q


def test_add_indexes_after_reclaiming_compact(spark, tmp_root, corpus):
    """addIndexes after a reclaiming compaction rebases by the id
    high-water mark — absorbed docs must not collide with survivors."""
    from lucene_1_spark.index.maintenance import next_doc_id
    cfg = IndexConfig(**CFG)
    d_a = os.path.join(tmp_root, "idx_hwm_dest")
    d_b = os.path.join(tmp_root, "idx_hwm_src")
    IndexBuilder(spark, d_a, cfg).build(
        spark.createDataFrame(corpus.iloc[:120]))
    IndexBuilder(spark, d_b, cfg).build(
        spark.createDataFrame(corpus.iloc[120:180]))
    w = IncrementalIndexWriter(spark, d_a, cfg)
    w.delete_by_term("tok9")
    w.compact()
    r = IndexReader(spark, d_a)
    n_live = r.stats["n_docs"]
    assert n_live < 120 and next_doc_id(r.manifest) == 120

    stats = w.add_indexes([d_b])
    assert stats["n_docs"] == n_live + 60
    r2 = IndexReader(spark, d_a)
    ids = r2.docs().select("doc_id")
    assert ids.count() == ids.distinct().count() == n_live + 60
    assert next_doc_id(r2.manifest) == 180

    import pandas as pd
    live = corpus.iloc[:120]
    live = live[[("tok9" not in _tokens(c)) for c in live["content"]]]
    union = pd.concat([live, corpus.iloc[120:180]])
    d_ref = os.path.join(tmp_root, "idx_hwm_dest_ref")
    IndexBuilder(spark, d_ref, cfg).build(spark.createDataFrame(union))
    s, s_ref = (IndexSearcher(IndexReader(spark, d_a)),
                IndexSearcher(IndexReader(spark, d_ref)))
    assert s.reader.stats == s_ref.reader.stats
    for q in QUERIES:
        assert _hits(s, q) == _hits(s_ref, q), q


def test_merge_without_hard_links(spark, tmp_root, corpus, monkeypatch):
    """A no-delete merge on a filesystem without hard links: every
    os.link fails, the merge copies instead, and the merged index
    passes CheckIndex with unchanged results.  Linked doc files carry
    their source segment, so equal basenames of two segments cannot
    collide."""
    from lucene_1_spark.index.check import check_index
    d = os.path.join(tmp_root, "idx_mrg_nolink")
    w = _build_segmented(spark, d, corpus, n_appends=2)
    before = {q: _hits(IndexSearcher(IndexReader(spark, d)), q)
              for q in QUERIES}

    def no_link(src, dst, *a, **kw):
        raise OSError("hard links not supported")

    monkeypatch.setattr(os, "link", no_link)
    out = w.merge(segments=["seg1", "seg2"])
    assert out is not None and out["segment"] == "segM1"
    r = IndexReader(spark, d)
    report = check_index(r)
    assert all(ok for ok, _ in report.values()), report
    s = IndexSearcher(r)
    for q in QUERIES:
        assert _hits(s, q) == before[q], q
    docs = _file_census(os.path.join(d, r.manifest["docs_path"]))
    linked = sorted(os.path.basename(p) for p in docs
                    if os.path.basename(p).startswith("segM1-"))
    assert any(p.startswith("segM1-seg1-") for p in linked), linked
    assert any(p.startswith("segM1-seg2-") for p in linked), linked


def test_merge_of_interleaved_segments_keeps_blocks_sorted(
        spark, tmp_root, corpus):
    """Merging non-adjacent segments yields a segment whose doc ids
    span the ones between; a later merge with those must still write
    ascending doc ids per block with true [first_doc, last_doc]."""
    from lucene_1_spark.index.check import check_index
    d = os.path.join(tmp_root, "idx_mrg_interleave")
    w = _build_segmented(spark, d, corpus, n_appends=3)
    before = {q: _hits(IndexSearcher(IndexReader(spark, d)), q)
              for q in QUERIES}
    assert w.merge(segments=["seg1", "seg3"])["segment"] == "segM1"
    assert w.merge(segments=["seg2", "segM1"])["segment"] == "segM2"
    r = IndexReader(spark, d)
    report = check_index(r)
    assert all(ok for ok, _ in report.values()), report
    s = IndexSearcher(r)
    for q in QUERIES:
        assert _hits(s, q) == before[q], q
