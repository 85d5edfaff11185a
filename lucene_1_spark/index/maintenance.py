"""Index maintenance: tombstone writes and compaction — the roles of
``IndexWriter.deleteDocuments`` / ``updateDocument``
(``index/IndexWriter.java:1837``) and the merge machinery
(``index/SegmentMerger.java:113-244``, TieredMergePolicy) re-expressed
relationally.

**Deletes** are tombstones: an appended ``tombstones`` parquet of
doc_ids.  Queries mask hits against it (liveDocs,
``search/IndexSearcher.java:826``); doc_freq / collection stats stay
STALE until compaction — exactly Lucene's deleted-docs-still-count
semantics (df shrinks only when segments merge).

**Compaction** is the SegmentMerger analog and serves two needs:

1. reclaim deleted docs (drop tombstoned rows from docs + postings,
   recompute exact stats);
2. defragment postings: segment-local packing leaves a term's postings
   as one short block run per build partition — at 10^5+ partitions a
   rare term fragments into thousands of tiny blocks.  Compaction
   groups each term's blocks (one shuffle keyed by (bucket, term) —
   partition count scales with executors), decodes, drops dead docs,
   and repacks into FULL 128-doc blocks.

Each compaction writes new table generations (``postings_v<g>`` etc.)
and atomically swaps the manifest pointers — readers opened before the
swap keep a consistent older view (the Iceberg-snapshot analog).

Scale note: tombstoned doc_ids are delivered to the repack kernel as a
per-block ``dead_ids`` array column built by a chunk-pigeonholed range
join (tombstone chunk == block [first_doc, last_doc] chunk span) — no
driver-side materialization at any delete count; an index with 10^9
tombstones compacts with the same plan shape as one with 10.

docID allocation: the manifest carries ``next_doc_id`` (max assigned
id + 1), advanced by build/append/addIndexes and PRESERVED by
compact/merge — reclaiming tombstones shrinks ``n_docs`` without
renumbering survivors, so ``n_docs`` is NOT a safe append base after
any reclaim (ids would collide with live docs).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from lucene_1_spark.functions import codecs
from lucene_1_spark.functions.smallfloat import LENGTH_TABLE
from lucene_1_spark.index.builder import BLOCKS_SCHEMA, FIELD_SEP
from lucene_1_spark.index.reader import IndexReader


def _manifest(index_dir: str) -> dict:
    with open(os.path.join(index_dir, "manifest.json")) as fh:
        return json.load(fh)


def next_doc_id(manifest: dict) -> int:
    """The next free docID (max assigned + 1).  Falls back to
    ``n_docs`` for pre-``next_doc_id`` manifests, which is exact there:
    only reclaiming compactions/merges ever make ``n_docs`` lag the id
    high-water mark, and those now persist the key."""
    return int(manifest.get("next_doc_id",
                            manifest["collection_stats"]["n_docs"]))


def _link_or_copy(src: str, dst: str) -> None:
    """Hard-link ``src`` to ``dst``, or copy where linking fails."""
    os.makedirs(os.path.dirname(dst), exist_ok=True)
    try:
        os.link(src, dst)
    except OSError:
        shutil.copy2(src, dst)


def _write_manifest(index_dir: str, manifest: dict) -> None:
    """Atomic snapshot commit: write-new + rename."""
    tmp = os.path.join(index_dir, "manifest.json.tmp")
    with open(tmp, "w") as fh:
        json.dump(manifest, fh, indent=2)
    os.replace(tmp, os.path.join(index_dir, "manifest.json"))


def snapshot_index(index_dir: str) -> str:
    """Retain the current commit point — ``SnapshotDeletionPolicy.
    snapshot()`` (``index/SnapshotDeletionPolicy.java:40-90``): copies
    the manifest into ``snapshots/`` and returns a snapshot id.  While
    any snapshot exists, compaction/folding keep every data directory
    a retained manifest references (plus tombstones / dv deltas), so
    the snapshot stays readable — the Iceberg-snapshot-retention
    analog.  Open one with ``IndexReader(spark, dir, snapshot=id)``
    (``DirectoryReader.open(IndexCommit)``)."""
    snap_dir = os.path.join(index_dir, "snapshots")
    os.makedirs(snap_dir, exist_ok=True)
    # monotonic id persisted in the manifest: a count-of-files scheme
    # can reuse an index after release_snapshot and silently overwrite
    # an earlier retained commit taken in the same epoch second
    m = _manifest(index_dir)
    counter = int(m.get("snapshot_counter", 0)) + 1
    m["snapshot_counter"] = counter
    _write_manifest(index_dir, m)
    snap_id = f"snap_{counter:06d}"
    dst = os.path.join(snap_dir, f"{snap_id}.json")
    if os.path.exists(dst):
        raise FileExistsError(f"snapshot {snap_id} already exists")
    shutil.copyfile(os.path.join(index_dir, "manifest.json"), dst)
    return snap_id


def release_snapshot(index_dir: str, snapshot_id: str) -> bool:
    """``SnapshotDeletionPolicy.release``: drop the retained commit.
    Data dirs it referenced become eligible for cleanup at the NEXT
    compaction/fold (deletion policies are lazy in the reference
    too)."""
    p = os.path.join(index_dir, "snapshots", f"{snapshot_id}.json")
    if os.path.exists(p):
        os.remove(p)
        return True
    return False


def list_snapshots(index_dir: str) -> list[str]:
    snap_dir = os.path.join(index_dir, "snapshots")
    if not os.path.isdir(snap_dir):
        return []
    return sorted(f[:-5] for f in os.listdir(snap_dir)
                  if f.endswith(".json"))


def _snapshot_protected(index_dir: str) -> set[str]:
    """Relative data paths some retained snapshot still references."""
    out: set[str] = set()
    snap_dir = os.path.join(index_dir, "snapshots")
    if not os.path.isdir(snap_dir):
        return out
    for f in os.listdir(snap_dir):
        if not f.endswith(".json"):
            continue
        with open(os.path.join(snap_dir, f)) as fh:
            m = json.load(fh)
        for name in ("postings", "docs", "term_stats"):
            out.add(m.get(f"{name}_path", name))
        for side in ("features_path", "payloads_path"):
            if m.get(side):
                out.add(m[side])
        if m.get("has_deletes"):
            out.add(m.get("tombstones_path", "tombstones"))
        if m.get("dv_fields"):
            out.add("dv_updates")
    return out


def fold_doc_values(spark: SparkSession, index_dir: str,
                    drop_old: bool = True) -> int:
    """Materialize pending doc-values updates into a new docs-table
    generation and clear the delta — the merge-time fold of Lucene's
    per-segment doc-values update files (``index/ReadersAndUpdates.java``
    writeFieldUpdates).  Atomic: the new generation is fully written
    before the manifest swap; a crash in between leaves the previous
    snapshot (base + delta overlay) intact.  Returns the number of
    fields folded (0 = nothing pending)."""
    m = _manifest(index_dir)
    dvf = m.get("dv_fields")
    if not dvf:
        return 0
    reader = IndexReader(spark, index_dir)
    # fold over the FULL physical schema (docs() drops term_freqs)
    full = spark.read.parquet(reader.table_path("docs"))
    folded = reader._overlay_doc_values(full)
    gen = int(m.get("generation", 0)) + 1
    docs_name = f"docs_gen{gen}"
    folded.write.mode("overwrite") \
        .parquet(os.path.join(index_dir, docs_name))
    old_docs = m.get("docs_path", "docs")
    m["docs_path"] = docs_name
    m["generation"] = gen
    m.pop("dv_fields", None)
    m.pop("dv_field_kinds", None)
    # dv_generation stays monotonic across folds; dv_folded_gen marks
    # the materialized floor so the overlay filter and retained
    # snapshots (which read the delta dir at THEIR generation window)
    # never double-apply or lose updates
    m["dv_folded_gen"] = int(m.get("dv_generation", 0))
    m["committed_at"] = time.time()
    _write_manifest(index_dir, m)
    protected = _snapshot_protected(index_dir)
    if "dv_updates" not in protected:
        shutil.rmtree(os.path.join(index_dir, "dv_updates"),
                      ignore_errors=True)
    if drop_old and old_docs != docs_name and old_docs not in protected:
        full_old = os.path.join(index_dir, old_docs)
        if os.path.exists(full_old):
            shutil.rmtree(full_old, ignore_errors=True)
    return len(dvf)


def append_tombstones(spark: SparkSession, index_dir: str,
                      doc_ids: DataFrame) -> int:
    """Record deletions (doc_id rows).  Returns the number appended.
    The parquet append is durable before the manifest flags deletes, so
    a reader never sees the flag without the data."""
    rows = doc_ids.select(F.col("doc_id").cast("long")).distinct()
    n = rows.count()
    if n == 0:
        return 0
    m = _manifest(index_dir)
    gen = int(m.get("tombstone_gen", 0)) + 1
    rows.withColumn("gen", F.lit(gen).cast("long")).coalesce(1) \
        .write.mode("append") \
        .parquet(os.path.join(index_dir,
                              m.get("tombstones_path", "tombstones")))
    m["has_deletes"] = True
    m["tombstone_gen"] = gen
    m["committed_at"] = time.time()
    _write_manifest(index_dir, m)
    return n


# multi-granularity pigeonhole for the dead-doc range join: chunk
# sizes 2^16, 2^24, ... 2^56.  A block picks the SMALLEST level whose
# chunk count for its [first_doc, last_doc] span stays <= 257, so a
# rare term's 128-doc block spanning the whole id space replicates
# into a few coarse chunks instead of millions of fine ones; each
# tombstone replicates once per level (6 rows).  Join key =
# (level, chunk); the exact range filter runs after the equi-join.
_DEAD_LEVELS = [1 << 16, 1 << 24, 1 << 32, 1 << 40, 1 << 48, 1 << 56]


def _attach_dead(posts: DataFrame, tombstones: DataFrame) -> DataFrame:
    """Attach a sorted ``dead_ids`` array column (tombstoned doc_ids
    falling inside each block's ``[first_doc, last_doc]`` range) to
    every posting-block row — the liveDocs bitset handed to
    ``SegmentMerger``, DISTRIBUTED: a multi-granularity pigeonholed
    range join instead of a driver-side collect, so neither the delete
    count nor a block's id SPAN ever touches driver memory or blows up
    row counts.  ``(bucket, term, first_doc)`` is a unique block key:
    a term's block runs partition its postings by doc range."""
    lvl_lits = F.array(*[F.lit(c).cast("long") for c in _DEAD_LEVELS])
    t = (tombstones.select(F.col("doc_id").cast("long").alias("_t_doc"))
         .distinct()
         .withColumn("_lvl", F.explode(lvl_lits))
         .withColumn("_chunk",
                     (F.col("_t_doc") / F.col("_lvl")).cast("long")))
    span_chunks = [((F.col("last_doc") / c).cast("long")
                    - (F.col("first_doc") / c).cast("long") + 1, c)
                   for c in _DEAD_LEVELS]
    # smallest level keeping the block's chunk fan-out bounded
    lvl = F.lit(_DEAD_LEVELS[-1]).cast("long")
    for n_chunks, c in reversed(span_chunks):
        lvl = F.when(n_chunks <= 257, F.lit(c).cast("long")) \
            .otherwise(lvl)
    cand = (posts.select("bucket", "term", "first_doc", "last_doc")
            .withColumn("_lvl", lvl)
            .withColumn("_chunk", F.explode(F.sequence(
                (F.col("first_doc") / F.col("_lvl")).cast("long"),
                (F.col("last_doc") / F.col("_lvl")).cast("long"))))
            .join(t, ["_lvl", "_chunk"])
            .filter((F.col("_t_doc") >= F.col("first_doc"))
                    & (F.col("_t_doc") <= F.col("last_doc")))
            .groupBy("bucket", "term", "first_doc")
            .agg(F.sort_array(F.collect_set("_t_doc")).alias("dead_ids")))
    return posts.join(cand, ["bucket", "term", "first_doc"], "left")


def _make_repack(block_size: int, exact_norms: bool, want_positions: bool):
    """Build the repack kernel shared by full compaction and selective
    segment merges: for EVERY term in the group, decode its block runs
    in first_doc order, drop docs listed in the row's ``dead_ids``
    column (absent/null = none), re-encode into full ``block_size``
    blocks (``index/SegmentMerger.java:113-244`` mergeTerms).

    Groups are keyed (bucket, term-hash salt) rather than (bucket,
    term): one applyInPandas invocation repacks MANY terms (a pandas
    groupby inside), amortizing the per-group Arrow/pandas overhead
    that dominated per-term grouping (~6 ms per call, 530 calls -> 64
    for a two-segment 4k-doc merge).  Per-term output is byte-identical
    to the per-term kernel."""
    length_table = LENGTH_TABLE
    block_cols = [f.name for f in BLOCKS_SCHEMA.fields]

    def repack_term(bucket: int, term, pdf: pd.DataFrame, rows: list):
        pdf = pdf.sort_values("first_doc")
        has_dead = "dead_ids" in pdf.columns
        dids_l, freqs_l, norms_l, possegs = [], [], [], []
        for row in pdf.itertuples(index=False):
            n = int(row.num_docs)
            dids = codecs.decode_doc_ids(bytes(row.doc_gaps),
                                         int(row.first_doc), n)
            freqs = codecs.decode_freqs(bytes(row.freqs), n)
            norms = np.frombuffer(bytes(row.norms),
                                  dtype="<u4" if exact_norms else np.uint8)
            keep = np.ones(n, dtype=bool)
            dv = row.dead_ids if has_dead else None
            dead = (np.asarray(dv, dtype=np.int64) if dv is not None
                    and len(dv) else np.zeros(0, dtype=np.int64))
            if len(dead):
                pos = np.searchsorted(dead, dids)
                pos[pos >= len(dead)] = len(dead) - 1
                keep = dead[pos] != dids
            if want_positions:
                # per-doc delta segments are unchanged by doc removal:
                # slice the flat delta stream at freq boundaries
                total = int(freqs.sum())
                deltas = codecs.bitunpack(bytes(row.positions), total)
                ends = np.cumsum(freqs)
                starts = np.concatenate([[0], ends[:-1]])
                possegs.extend(deltas[s:e] for s, e, k2
                               in zip(starts, ends, keep) if k2)
            dids_l.append(dids[keep])
            freqs_l.append(freqs[keep])
            norms_l.append(norms[keep])
        dids = np.concatenate(dids_l)
        if len(dids) == 0:
            return
        freqs = np.concatenate(freqs_l)
        norms = np.concatenate(norms_l)
        if (np.diff(dids) < 0).any():
            # a segment merged from non-adjacent ones interleaves ids
            order = np.argsort(dids, kind="stable")
            dids, freqs, norms = dids[order], freqs[order], norms[order]
            possegs = [possegs[i] for i in order] if want_positions else []
        for seq, st in enumerate(range(0, len(dids), block_size)):
            d = dids[st:st + block_size]
            f = freqs[st:st + block_size]
            nv = norms[st:st + block_size]
            if exact_norms:
                lens = nv.astype(np.float64)
                norm_buf = nv.astype("<u4").tobytes()
                min_byte = 0
            else:
                lens = length_table[nv]
                norm_buf = nv.astype(np.uint8).tobytes()
                min_byte = int(nv[int(np.argmin(lens))])
            if want_positions:
                pos_buf = codecs.bitpack(np.concatenate(
                    possegs[st:st + block_size]) if len(d) else
                    np.zeros(0, dtype=np.int64))
            else:
                pos_buf = None
            rows.append((term, seq, len(d), int(d[0]), int(d[-1]),
                         int(f.max()), int(lens.min()), min_byte,
                         int(f.sum()), codecs.encode_doc_gaps(d),
                         codecs.encode_freqs(f), norm_buf, pos_buf, bucket))

    def repack(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        bucket = int(key[0])
        rows: list = []
        for term, tp in pdf.groupby("term", sort=False):
            repack_term(bucket, term, tp, rows)
        if not rows:
            return pd.DataFrame(columns=block_cols)
        return pd.DataFrame(rows, columns=block_cols)

    return repack


# repack group sizing: terms are spread over salt groups per bucket so
# one applyInPandas call amortizes its Arrow/pandas overhead over many
# terms, while the salt SCALES WITH INPUT BYTES so a group's postings
# stay bounded (~REPACK_GROUP_BYTES per group) — a fixed salt would let
# a group grow with the bucket and OOM the worker at scale.  A single
# term larger than the target still bounds its group (same floor as
# per-term grouping); compact_index(salt_docs=N) splits such a term's
# runs across doc-salt groups.
REPACK_TERM_SALT_MIN = 32
REPACK_GROUP_BYTES = 256 * 2 ** 20


def _repack_salt(total_bytes: int, n_buckets: int) -> int:
    per_bucket = max(int(total_bytes), 1) / max(int(n_buckets), 1)
    import math
    return max(REPACK_TERM_SALT_MIN,
               int(math.ceil(per_bucket / REPACK_GROUP_BYTES)))


def _repack_groups(posts: "DataFrame", extra: list[str] | None = None,
                   total_bytes: int = 0, n_buckets: int = 1):
    """(augmented DataFrame, group key columns) for the repack shuffle:
    key = (bucket, pmod(xxhash64(term), salt) [, extras]) with the salt
    derived from the input bytes (see above)."""
    salt = _repack_salt(total_bytes, n_buckets)
    keyed = posts.withColumn(
        "_tsalt", F.pmod(F.xxhash64("term"), F.lit(salt)).cast("int"))
    return keyed, ["bucket", "_tsalt"] + list(extra or [])


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for fn in files:
            if fn.endswith(".parquet"):
                try:
                    total += os.path.getsize(os.path.join(root, fn))
                except OSError:
                    pass
    return total


def compact_index(spark: SparkSession, index_dir: str,
                  drop_old: bool = True,
                  salt_docs: int | None = None) -> dict:
    """Merge every term's block runs into full blocks, dropping
    tombstoned docs; rewrite docs/term_stats; recompute exact
    collection stats; swap manifest pointers atomically.

    ``salt_docs``: EXPLICIT hot-term skew salting for the repack
    shuffle.  The default (None) keys the shuffle by (bucket, term) —
    one task per term, which at 10^9-posting terms becomes the skewed
    straggler.  With ``salt_docs=N`` the key gains
    ``floor(first_doc / N)``: a hot term's runs split into salt groups
    repacked in parallel.  A block run is assigned wholesale to one
    salt group by its ``first_doc``, so a run straddling a salt
    boundary can make adjacent groups' repacked blocks have OVERLAPPING
    ``[first_doc, last_doc]`` ranges for the same term — tolerated, not
    disjoint: each doc still posts exactly once per term (runs
    partition the postings), and the decode kernel never assumes
    disjoint block ranges (block pruning uses range CONTAINMENT, which
    stays sound over overlaps).  Each salt group may end in one tail
    block (<128 docs), so blocks-per-term is bounded by
    ceil(df/128) + (groups with a straddling run) + groups-1 rather
    than the unsalted exact ceil(df/128); query results are identical.
    Returns the new collection stats."""
    reader = IndexReader(spark, index_dir)
    cfg = reader.cfg
    gen = int(reader.manifest.get("generation", 0)) + 1
    block_size = int(cfg["block_size"])
    exact_norms = cfg.get("norms_encoding", "byte4") == "exact32"
    want_positions = bool(cfg.get("positions", False))

    tomb_path = os.path.join(
        index_dir, reader.manifest.get("tombstones_path", "tombstones"))
    repack = _make_repack(block_size, exact_norms, want_positions)

    posts = reader.postings()
    if reader.has_deletes:
        posts = _attach_dead(posts, reader.tombstones())
    extra = []
    if salt_docs is not None:
        posts = posts.withColumn(
            "_salt", (F.col("first_doc") / int(salt_docs)).cast("long"))
        extra = ["_salt"]
    posts, group_keys = _repack_groups(
        posts, extra,
        total_bytes=_dir_bytes(reader.table_path("postings")),
        n_buckets=int(cfg.get("n_buckets", 1)))
    new_postings = posts.groupBy(*group_keys) \
        .applyInPandas(repack, BLOCKS_SCHEMA)
    postings_name = f"postings_v{gen}"
    new_postings.write.mode("overwrite").partitionBy("bucket") \
        .parquet(os.path.join(index_dir, postings_name))

    # docs: drop tombstoned rows (anti-join, no driver materialization)
    docs = reader.docs()
    if reader.has_deletes:
        docs = docs.join(reader.tombstones(), "doc_id", "left_anti")
    docs_name = f"docs_v{gen}"
    docs.write.mode("overwrite").parquet(os.path.join(index_dir, docs_name))

    # term stats from the compacted postings (term-sorted within files
    # so the dictionary scan gets row-group min/max pruning)
    blocks = spark.read.parquet(os.path.join(index_dir, postings_name))
    ts_name = f"term_stats_v{gen}"
    (blocks.groupBy("bucket", "term")
     .agg(F.sum("num_docs").alias("doc_freq"),
          F.sum("sum_freq").alias("total_term_freq"))
     .sortWithinPartitions("term")
     .write.mode("overwrite").partitionBy("bucket")
     .parquet(os.path.join(index_dir, ts_name)))

    # exact stats over the survivors
    drow = (spark.read.parquet(os.path.join(index_dir, docs_name))
            .agg(F.count("*").alias("n_docs"),
                 F.sum(F.when(F.col("length") > 0, 1).otherwise(0))
                 .alias("doc_count"),
                 F.sum("length").alias("sum_total_term_freq"))
            .collect()[0])
    sum_df = (spark.read.parquet(os.path.join(index_dir, ts_name))
              .filter(~F.col("term").contains(FIELD_SEP))
              .agg(F.sum("doc_freq")).collect()[0][0])
    stats = {"n_docs": int(drow["n_docs"]),
             "doc_count": int(drow["doc_count"] or 0),
             "sum_total_term_freq": int(drow["sum_total_term_freq"] or 0),
             "sum_doc_freq": int(sum_df or 0)}

    # per-field stats over the survivors (keyword + analyzed fields)
    from lucene_1_spark.index.builder import _field_stats_of_docs
    field_stats = _field_stats_of_docs(
        spark.read.parquet(os.path.join(index_dir, docs_name)),
        cfg.get("keyword_fields"), cfg.get("text_fields"))

    # features/payloads side tables: drop reclaimed doc rows, else
    # FeatureQuery/PayloadScoreQuery would resurface deleted docs as
    # ghost hits once the tombstone mask clears (has_deletes=False)
    side_swaps: dict[str, tuple[str, str]] = {}  # kind -> (old, new)
    if reader.has_deletes:
        for kind in ("features", "payloads"):
            old_side = reader.manifest.get(f"{kind}_path")
            if not old_side:
                continue
            sgen = int(reader.manifest.get(f"{kind}_generation", 0)) + 1
            new_side = f"{kind}_gen{sgen}"
            (spark.read.parquet(os.path.join(index_dir, old_side))
             .join(reader.tombstones(), "doc_id", "left_anti")
             .write.mode("overwrite")
             .parquet(os.path.join(index_dir, new_side)))
            side_swaps[kind] = (old_side, new_side)

    m = _manifest(index_dir)
    old = {name: m.get(f"{name}_path", name)
           for name in ("postings", "docs", "term_stats")}
    # id high-water mark BEFORE the stats swap shrinks n_docs:
    # survivors keep their ids, so future appends must not reuse the
    # reclaimed range
    m["next_doc_id"] = next_doc_id(m)
    m["postings_path"] = postings_name
    m["docs_path"] = docs_name
    m["term_stats_path"] = ts_name
    m["generation"] = gen
    for kind, (_old_side, new_side) in side_swaps.items():
        m[f"{kind}_path"] = new_side
        m[f"{kind}_generation"] = int(m.get(f"{kind}_generation", 0)) + 1
    m["collection_stats"] = stats
    if field_stats:
        m["field_stats"] = field_stats
    m["has_deletes"] = False
    old_tomb = m.pop("tombstones_path", "tombstones")
    m["committed_at"] = time.time()
    _write_manifest(index_dir, m)  # the atomic snapshot swap

    # post-commit cleanup (crash-safe: manifest no longer references
    # these; anything a retained snapshot references stays — the
    # SnapshotDeletionPolicy keep-set)
    protected = _snapshot_protected(index_dir)
    if os.path.exists(tomb_path) and old_tomb not in protected:
        shutil.rmtree(tomb_path, ignore_errors=True)
    if drop_old:
        for name, path in old.items():
            full = os.path.join(index_dir, path)
            if path != m[f"{name}_path"] and path not in protected \
                    and os.path.exists(full):
                shutil.rmtree(full, ignore_errors=True)
        for _kind, (old_side, new_side) in side_swaps.items():
            if old_side != new_side and old_side not in protected:
                shutil.rmtree(os.path.join(index_dir, old_side),
                              ignore_errors=True)
    # keep the builder's stage stats coherent for later appends/resumes
    with open(os.path.join(index_dir, "docs_stats.json"), "w") as fh:
        json.dump({k: stats[k] for k in
                   ("n_docs", "doc_count", "sum_total_term_freq")}, fh)
    with open(os.path.join(index_dir, "postings_stats.json"), "w") as fh:
        json.dump({"sum_doc_freq": stats["sum_doc_freq"]}, fh)
    return stats


# Segment membership is encoded in parquet FILE NAME prefixes: the
# initial build's files carry no prefix ("base"), incremental appends
# promote files as ``seg<N>-...`` (streaming/incremental.py
# _promote_segment), and selective merges write ``segM<G>-...``.
_SEG_FILE_RE = re.compile(r"^(seg\d+|segM\d+)-")


def _segment_files(table_dir: str) -> dict[str, list[str]]:
    """Map segment name -> parquet paths relative to ``table_dir``
    (recurses into ``bucket=`` partition dirs)."""
    out: dict[str, list[str]] = {}
    if not os.path.isdir(table_dir):
        return out
    for root, _dirs, files in os.walk(table_dir):
        for fn in files:
            if not fn.endswith(".parquet"):
                continue
            mm = _SEG_FILE_RE.match(fn)
            seg = mm.group(1) if mm else "base"
            out.setdefault(seg, []).append(
                os.path.relpath(os.path.join(root, fn), table_dir))
    return out


def segment_sizes(index_dir: str) -> dict[str, int]:
    """Per-segment on-disk bytes (docs + postings files) — the size
    signal TieredMergePolicy scores candidate merges with
    (``index/TieredMergePolicy.java:445-520`` segment byte sizes)."""
    m = _manifest(index_dir)
    sizes: dict[str, int] = {}
    for name in ("docs", "postings"):
        d = os.path.join(index_dir, m.get(f"{name}_path", name))
        for seg, rels in _segment_files(d).items():
            sizes[seg] = sizes.get(seg, 0) + sum(
                os.path.getsize(os.path.join(d, f)) for f in rels)
    return sizes


def select_merge(sizes: dict[str, int], segs_per_tier: int = 10,
                 max_merge_at_once: int = 10,
                 max_merged_bytes: int = 5 * 2 ** 30) -> list[str] | None:
    """TieredMergePolicy-lite candidate selection
    (``index/TieredMergePolicy.java:89-93``: segsPerTier=10,
    maxMergeAtOnce=10, maxMergedSegmentMB=5GB): when the segment count
    exceeds the tier budget, merge the SMALLEST eligible segments —
    enough to bring the count back under budget, never more than
    ``max_merge_at_once`` — and never pick a segment already larger
    than ``max_merged_bytes`` (big segments stay untouched, so merge
    cost tracks the small-segment tail, not the index).  The cap also
    bounds the merged TOTAL: candidates stop accumulating before their
    sum would exceed ``max_merged_bytes``
    (``TieredMergePolicy.java:655-668`` totAfterMergeBytes guard) —
    without it, ten 4.9 GB picks would produce a ~49 GB segment, 10×
    the advertised cap."""
    if len(sizes) <= segs_per_tier:
        return None
    eligible = sorted((s for s in sizes if sizes[s] <= max_merged_bytes),
                      key=lambda s: sizes[s])
    n_over = len(sizes) - segs_per_tier + 1
    pick: list[str] = []
    total = 0
    for s in eligible[:min(max_merge_at_once, max(2, n_over))]:
        if pick and total + sizes[s] > max_merged_bytes:
            break
        pick.append(s)
        total += sizes[s]
    if len(pick) < 2:
        return None
    return pick


def merge_segments(spark: SparkSession, index_dir: str,
                   segments: list[str] | None = None,
                   segs_per_tier: int = 10, max_merge_at_once: int = 10,
                   max_merged_bytes: int = 5 * 2 ** 30,
                   drop_old: bool = True) -> dict | None:
    """Selective segment merge — the actual TieredMergePolicy behavior
    (``index/TieredMergePolicy.java:89-93`` + ``SegmentMerger.java:
    113-244``): pick the smallest segments (or use the explicit
    ``segments`` list), merge ONLY their files into one new segment,
    and leave every other segment's files untouched.  Unlike
    :func:`compact_index` (the forceMerge(1) analog, O(index)), cost is
    proportional to the MERGED bytes — the property that keeps
    continuous ingestion sustainable at 100 TB, where a full rewrite
    per maintenance cycle is impossible.

    Semantics, all per the reference's merge:

    - postings of the merged segments repack into full blocks (one
      shuffle over ONLY the selected segments' files, grouped
      (bucket, term));
    - tombstoned docs BELONGING to merged segments are reclaimed (a
      doc's postings live only in its own segment, so dropping them
      here is complete); tombstones over unmerged segments survive and
      keep masking at query time;
    - collection/field stats shrink by exactly the reclaimed docs'
      contributions (computed over the merged slice only — no
      whole-index scan);
    - doc_ids are NOT renumbered (they are index-global here, unlike
      Lucene's per-segment ords), so merged postings stay valid without
      touching stored fields elsewhere.

    Commit is atomic: new table generations ``<table>_m<G>`` are built
    by HARD-LINKING every unmerged file (metadata-only — the Iceberg
    manifest-relist analog; on an object store this is a manifest
    rewrite, no data movement) plus the freshly-written ``segM<G>-``
    files, then the manifest swaps all pointers at once.  Retained
    snapshots keep reading the old generation dirs — hard links make
    the shared files safe under either dir's deletion.

    Returns a summary dict when a merge ran, else None (under the tier
    budget, or fewer than 2 eligible segments)."""
    m = _manifest(index_dir)
    tables = {name: os.path.join(index_dir, m.get(f"{name}_path", name))
              for name in ("docs", "postings", "term_stats")}
    seg_files = {name: _segment_files(d) for name, d in tables.items()}
    if segments is None:
        segments = select_merge(segment_sizes(index_dir), segs_per_tier,
                                max_merge_at_once, max_merged_bytes)
    if not segments or len(segments) < 2:
        return None
    chosen = set(segments)
    reader = IndexReader(spark, index_dir)
    cfg = reader.cfg
    had_deletes = reader.has_deletes
    staging = os.path.join(index_dir, "merge_staging")
    shutil.rmtree(staging, ignore_errors=True)

    sel_post = [os.path.join(tables["postings"], f)
                for s in chosen
                for f in seg_files["postings"].get(s, [])]
    # After a fold/compact the docs table may be a single unprefixed
    # generation (all "base") while postings keep seg prefixes — then a
    # postings-only merge still defragments, the tombstones simply stay
    # masking (no doc files to rewrite, no postings reclaim either:
    # dropping postings while the doc rows stay would desynchronize
    # the two tables)
    sel_docs = [os.path.join(tables["docs"], f)
                for s in chosen for f in seg_files["docs"].get(s, [])]
    if not sel_docs and not sel_post:
        shutil.rmtree(staging, ignore_errors=True)
        return None
    # mergeSchema: segments appended AFTER a doc-values fold lack the
    # folded-in columns; without schema merge the rewrite could bake
    # in whichever file's schema inference sampled (dropping a column)
    old_docs = (spark.read.option("mergeSchema", "true")
                .parquet(*sel_docs)) if sel_docs else None

    # reclaimable = tombstones whose doc ROW is in the merged slice
    # (exactly the set the docs rewrite below drops); stays a
    # DataFrame — never driver-materialized
    reclaimed = None
    if had_deletes and old_docs is not None:
        reclaimed = reader.tombstones().select("doc_id") \
            .join(old_docs.select("doc_id"), "doc_id", "semi")

    # ---- merge the selected postings (only their files are read) ----
    block_cols = [f.name for f in BLOCKS_SCHEMA.fields]
    if sel_post:
        repack = _make_repack(
            int(cfg["block_size"]),
            cfg.get("norms_encoding", "byte4") == "exact32",
            bool(cfg.get("positions", False)))
        merged_in = (spark.read.option("basePath", tables["postings"])
                     .parquet(*sel_post).select(*block_cols))
        if reclaimed is not None:
            merged_in = _attach_dead(merged_in, reclaimed)
        sel_bytes = 0
        for p in sel_post:
            try:
                sel_bytes += os.path.getsize(p)
            except OSError:
                pass
        merged_in, mk = _repack_groups(
            merged_in, total_bytes=sel_bytes,
            n_buckets=int(cfg.get("n_buckets", 1)))
        (merged_in
         .groupBy(*mk).applyInPandas(repack, BLOCKS_SCHEMA)
         .write.mode("overwrite").partitionBy("bucket")
         .parquet(os.path.join(staging, "postings")))

    # ---- merge the selected docs, reclaiming their tombstoned rows ----
    # With no tombstones the "rewrite" would copy every doc row
    # verbatim: skip the Spark job entirely and HARD-LINK the chosen
    # segments' doc files under the merged-segment name instead
    # (metadata-only, byte-identical table)
    docs_linked = old_docs is not None and not had_deletes
    if old_docs is not None and not docs_linked:
        live = old_docs.join(reader.tombstones(), "doc_id", "left_anti")
        live.write.mode("overwrite").parquet(os.path.join(staging, "docs"))

    # ---- merged term stats (from the repacked postings); the content-
    # doc_freq total is observed DURING the write (one job, not two) ----
    from pyspark.sql import Observation
    new_df_sum = 0
    staged_posts = os.path.join(staging, "postings")
    if os.path.isdir(staged_posts) and any(
            fn.endswith(".parquet") for _r, _d, fns in os.walk(staged_posts)
            for fn in fns):
        merged_posts = spark.read.parquet(staged_posts)
        obs_ts = Observation("merged_stats")
        (merged_posts.groupBy("bucket", "term")
         .agg(F.sum("num_docs").alias("doc_freq"),
              F.sum("sum_freq").alias("total_term_freq"))
         .sortWithinPartitions("term")
         .observe(obs_ts, F.sum(F.when(
             ~F.col("term").contains(FIELD_SEP), F.col("doc_freq"))
             .otherwise(0)).alias("df_sum"))
         .write.mode("overwrite").partitionBy("bucket")
         .parquet(os.path.join(staging, "term_stats")))
        new_df_sum = int(obs_ts.get["df_sum"] or 0)

    # ---- stat deltas: merged slice only, no whole-index scan.  A
    # no-delete merge rewrites nothing (docs hard-linked), so every
    # doc/field stat delta is exactly zero — no jobs at all. ----
    def _doc_stats(df: DataFrame) -> tuple[int, int, int]:
        r = df.agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("length") > 0, 1).otherwise(0)).alias("ne"),
            F.sum("length").alias("len")).collect()[0]
        return int(r["n"]), int(r["ne"] or 0), int(r["len"] or 0)

    o_n = o_ne = o_len = n_n = n_ne = n_len = 0
    fs_old = fs_new = {}
    if old_docs is not None and not docs_linked:
        new_docs_df = spark.read.parquet(os.path.join(staging, "docs"))
        o_n, o_ne, o_len = _doc_stats(old_docs)
        n_n, n_ne, n_len = _doc_stats(new_docs_df)
        from lucene_1_spark.index.builder import _field_stats_of_docs
        fs_old = _field_stats_of_docs(old_docs, cfg.get("keyword_fields"),
                                      cfg.get("text_fields"))
        fs_new = _field_stats_of_docs(new_docs_df,
                                      cfg.get("keyword_fields"),
                                      cfg.get("text_fields"))
    # a merge that reclaims nothing preserves every (doc, freq) pair, so
    # sum_doc_freq cannot move — skip the old-stats scan in that case
    sel_ts = [os.path.join(tables["term_stats"], f)
              for s in chosen for f in seg_files["term_stats"].get(s, [])]
    old_df_sum = 0
    if sel_ts and reclaimed is not None:
        old_df_sum = int(
            spark.read.option("basePath", tables["term_stats"])
            .parquet(*sel_ts)
            .filter(~F.col("term").contains(FIELD_SEP))
            .agg(F.sum("doc_freq")).collect()[0][0] or 0)
    elif reclaimed is None:
        old_df_sum = new_df_sum

    # ---- surviving tombstones (docs of unmerged segments) ----
    gen = int(m.get("merge_gen", 0)) + 1
    new_tomb_rel: str | None = None
    n_remaining = 0
    if had_deletes and old_docs is not None:
        t_full = spark.read.parquet(reader.table_path("tombstones"))
        remaining = t_full.join(old_docs.select("doc_id"), "doc_id",
                                "left_anti")
        n_remaining = remaining.count()
        if n_remaining > 0:
            new_tomb_rel = f"tombstones_m{gen}"
            remaining.coalesce(1).write.mode("overwrite") \
                .parquet(os.path.join(index_dir, new_tomb_rel))

    # ---- build the new generation: links for untouched files, the
    # staged merge output under the new segment name ----
    new_names = {name: f"{name}_m{gen}"
                 for name in ("docs", "postings", "term_stats")}
    for name, new_name in new_names.items():
        dst_root = os.path.join(index_dir, new_name)
        shutil.rmtree(dst_root, ignore_errors=True)
        os.makedirs(dst_root, exist_ok=True)
        for seg, rels in seg_files[name].items():
            if seg in chosen:
                if name == "docs" and docs_linked:
                    # no-delete merge: the chosen segments' doc files
                    # are byte-identical under the merged segment —
                    # link them under the segM name (no Spark rewrite);
                    # the source segment in the name keeps equal
                    # basenames of two segments apart
                    for rel in rels:
                        fn = _SEG_FILE_RE.sub("", os.path.basename(rel))
                        dst = os.path.join(dst_root, os.path.dirname(rel),
                                           f"segM{gen}-{seg}-{fn}")
                        _link_or_copy(os.path.join(tables[name], rel), dst)
                continue
            for rel in rels:
                _link_or_copy(os.path.join(tables[name], rel),
                              os.path.join(dst_root, rel))
        src_staged = os.path.join(staging, name)
        if os.path.isdir(src_staged):
            for root, _dirs, files in os.walk(src_staged):
                for fn in files:
                    if not fn.endswith(".parquet"):
                        continue
                    rel_dir = os.path.relpath(root, src_staged)
                    dd = dst_root if rel_dir == "." \
                        else os.path.join(dst_root, rel_dir)
                    os.makedirs(dd, exist_ok=True)
                    os.replace(os.path.join(root, fn),
                               os.path.join(dd, f"segM{gen}-{fn}"))

    # features/payloads side tables: drop the reclaimed docs' rows so
    # FeatureQuery/PayloadScoreQuery can't resurface them once their
    # tombstones are gone
    side_swaps: dict[str, tuple[str, str]] = {}
    if reclaimed is not None:
        mm = _manifest(index_dir)
        for kind in ("features", "payloads"):
            old_side = mm.get(f"{kind}_path")
            if not old_side:
                continue
            sgen = int(mm.get(f"{kind}_generation", 0)) + 1
            new_side = f"{kind}_gen{sgen}"
            (spark.read.parquet(os.path.join(index_dir, old_side))
             .join(reclaimed, "doc_id", "left_anti")
             .write.mode("overwrite")
             .parquet(os.path.join(index_dir, new_side)))
            side_swaps[kind] = (old_side, new_side)

    # ---- atomic commit: swap every pointer + adjusted stats at once ----
    m = _manifest(index_dir)
    old_paths = {name: m.get(f"{name}_path", name) for name in new_names}
    old_tomb = m.get("tombstones_path", "tombstones")
    for name, new_name in new_names.items():
        m[f"{name}_path"] = new_name
    m["merge_gen"] = gen
    # id high-water mark survives the reclaim (ids are never reused)
    m["next_doc_id"] = next_doc_id(m)
    for kind, (_old_side, new_side) in side_swaps.items():
        m[f"{kind}_path"] = new_side
        m[f"{kind}_generation"] = int(m.get(f"{kind}_generation", 0)) + 1
    cs = dict(m["collection_stats"])
    cs["n_docs"] = int(cs["n_docs"]) + (n_n - o_n)
    cs["doc_count"] = int(cs["doc_count"]) + (n_ne - o_ne)
    cs["sum_total_term_freq"] = (int(cs["sum_total_term_freq"])
                                 + (n_len - o_len))
    cs["sum_doc_freq"] = int(cs["sum_doc_freq"]) + (new_df_sum - old_df_sum)
    m["collection_stats"] = cs
    if fs_old or fs_new:
        fs = dict(m.get("field_stats", {}))
        for fld in set(fs_old) | set(fs_new):
            cur = fs.get(fld, {"doc_count": 0, "sum_total_term_freq": 0})
            o = fs_old.get(fld, {"doc_count": 0, "sum_total_term_freq": 0})
            n2 = fs_new.get(fld, {"doc_count": 0, "sum_total_term_freq": 0})
            fs[fld] = {
                "doc_count": cur["doc_count"]
                + n2["doc_count"] - o["doc_count"],
                "sum_total_term_freq": cur["sum_total_term_freq"]
                + n2["sum_total_term_freq"] - o["sum_total_term_freq"],
            }
        m["field_stats"] = fs
    if had_deletes and old_docs is not None:
        if new_tomb_rel is not None:
            m["tombstones_path"] = new_tomb_rel
            m["has_deletes"] = True
        else:
            m["has_deletes"] = False
            m.pop("tombstones_path", None)
    m["committed_at"] = time.time()
    _write_manifest(index_dir, m)

    # ---- post-commit cleanup (snapshot-protected dirs stay; hard
    # links keep shared files alive under either generation) ----
    shutil.rmtree(staging, ignore_errors=True)
    protected = _snapshot_protected(index_dir)
    if drop_old:
        for name, new_name in new_names.items():
            p = old_paths[name]
            if p != new_name and p not in protected:
                shutil.rmtree(os.path.join(index_dir, p),
                              ignore_errors=True)
        if had_deletes and old_tomb != m.get("tombstones_path") \
                and old_tomb not in protected:
            shutil.rmtree(os.path.join(index_dir, old_tomb),
                          ignore_errors=True)
        for _kind, (old_side, new_side) in side_swaps.items():
            if old_side != new_side and old_side not in protected:
                shutil.rmtree(os.path.join(index_dir, old_side),
                              ignore_errors=True)
    # keep the builder's stage stats coherent for later appends/resumes
    with open(os.path.join(index_dir, "docs_stats.json"), "w") as fh:
        json.dump({k: cs[k] for k in
                   ("n_docs", "doc_count", "sum_total_term_freq")}, fh)
    with open(os.path.join(index_dir, "postings_stats.json"), "w") as fh:
        json.dump({"sum_doc_freq": cs["sum_doc_freq"]}, fh)
    return {"merged": sorted(chosen), "segment": f"segM{gen}",
            "reclaimed_docs": o_n - n_n,
            "remaining_tombstones": n_remaining,
            "collection_stats": cs}


def add_indexes(spark: SparkSession, dest_dir: str,
                source_dirs: list[str]) -> dict:
    """``IndexWriter.addIndexes(Directory...)``
    (``index/IndexWriter.java:2931``): bulk-append independently-built
    indexes as new segments of ``dest_dir`` WITHOUT re-analysis — the
    shard-then-combine path (build 1000 shards in parallel on 1000
    executors, each over its slice, then compose; tokenization never
    runs twice).

    docIDs are global here, so absorbing a source is pure column
    arithmetic: every source docID shifts by the destination's current
    ``n_docs`` — and since posting blocks delta-encode docIDs, a
    uniform shift touches ONLY the ``first_doc``/``last_doc``/
    ``doc_id`` columns (one JVM column rewrite per table, no Python
    kernel, no shuffle, packed cells byte-identical).  Collection and
    per-field stats add (they are sums).

    Requirements, as the reference enforces compatibility: identical
    index config (analyzer, similarity, buckets, block size,
    positions, fields), no pending deletes or doc-values deltas in the
    source (compact/fold it first — ``IndexWriter.addIndexes`` likewise
    refuses an open-for-write source).  Duplicate (repo, path, commit)
    keys are NOT checked (same as addDocument).

    Staged like the streaming append (stage -> checkpoint -> promote ->
    manifest commit, ``n_segments`` the commit marker), so a crash at
    any point replays to exactly-once.  Returns the new collection
    stats."""
    from lucene_1_spark.index.builder import IndexBuilder, IndexConfig

    b = IndexBuilder(spark, dest_dir, IndexConfig())
    for src_dir in source_dirs:
        dm = _manifest(dest_dir)
        src = IndexReader(spark, src_dir)
        sm = src.manifest
        for key in ("analyzer", "similarity", "n_buckets", "block_size",
                    "positions", "norms_encoding", "keyword_fields",
                    "text_fields", "k1", "b"):
            if dm["config"].get(key) != sm["config"].get(key):
                raise ValueError(
                    f"addIndexes: config mismatch on '{key}': "
                    f"{dm['config'].get(key)!r} != {sm['config'].get(key)!r}")
        if src.has_deletes:
            raise ValueError("addIndexes: source has pending deletes — "
                             "compact it first")
        if sm.get("dv_fields"):
            raise ValueError("addIndexes: source has pending doc-values "
                             "updates — fold_doc_values it first")

        # rebase by the id high-water mark, NOT n_docs: after a
        # reclaiming compact/merge n_docs < max(doc_id)+1 and an
        # n_docs base would collide new ids with live docs
        base = next_doc_id(dm)
        src_span = next_doc_id(sm)  # source ids live in [0, src_span)
        seg_id = int(dm.get("n_segments", 1))
        stage_name = f"addidx_staged_{seg_id}"
        staging = os.path.join(dest_dir, "addidx_staging")
        if not b._stage_done(stage_name):
            shutil.rmtree(staging, ignore_errors=True)
            # docs: shift doc_id (full physical schema preserved)
            (spark.read.parquet(src.table_path("docs"))
             .withColumn("doc_id", F.col("doc_id") + F.lit(base))
             .write.mode("overwrite")
             .parquet(os.path.join(staging, "docs")))
            # postings: shift the block range columns only — the
            # delta-packed cells are unchanged by a uniform shift
            (src.postings()
             .withColumn("first_doc", F.col("first_doc") + F.lit(base))
             .withColumn("last_doc", F.col("last_doc") + F.lit(base))
             .write.mode("overwrite").partitionBy("bucket")
             .parquet(os.path.join(staging, "postings")))
            # term stats: per-segment delta rows, summed at read
            (src.term_stats_raw()
             .groupBy("bucket", "term")
             .agg(F.sum("doc_freq").alias("doc_freq"),
                  F.sum("total_term_freq").alias("total_term_freq"))
             .sortWithinPartitions("term")
             .write.mode("overwrite").partitionBy("bucket")
             .parquet(os.path.join(staging, "term_stats")))
            b._write_json(f"addidx_seg_{seg_id}.json", {
                "collection_stats": sm["collection_stats"],
                "field_stats": sm.get("field_stats", {}),
                "next_doc_id_after": base + src_span,
            })
            b._write_checkpoint(-1, stage_name, "done",
                                int(sm["collection_stats"]["n_docs"]))

        # promote (idempotent os.replace moves, seg<id>- names)
        for sub in ("docs", "postings", "term_stats"):
            root = os.path.join(staging, sub)
            if not os.path.isdir(root):
                continue
            dst_table = os.path.join(
                dest_dir, dm.get(f"{sub}_path", sub))
            for r, _d, files in os.walk(root):
                for fn in sorted(files):
                    if not fn.endswith(".parquet"):
                        continue
                    rel_dir = os.path.relpath(r, root)
                    dd = dst_table if rel_dir == "." \
                        else os.path.join(dst_table, rel_dir)
                    os.makedirs(dd, exist_ok=True)
                    os.replace(os.path.join(r, fn),
                               os.path.join(dd, f"seg{seg_id}-{fn}"))

        # absorb the source's features side table, ids shifted by base
        # (attach_features is an atomic generation swap; the merge is
        # idempotent, so a crash-replay that re-runs it is safe)
        if sm.get("features_path") \
                and int(_manifest(dest_dir).get("n_segments", 1)) <= seg_id:
            src_feat = (spark.read.parquet(
                os.path.join(src_dir, sm["features_path"]))
                .withColumn("doc_id", F.col("doc_id") + F.lit(base)))
            attach_features(spark, dest_dir, src_feat, mode="merge")

        # commit: stats add, n_segments is the marker (replay-safe)
        dm = _manifest(dest_dir)
        if int(dm.get("n_segments", 1)) <= seg_id:
            deltas = b._read_json(f"addidx_seg_{seg_id}.json") or {}
            scs = deltas.get("collection_stats", {})
            fallback_next = next_doc_id(dm) + int(scs.get("n_docs", 0))
            cs = dm["collection_stats"]
            for key in ("n_docs", "doc_count", "sum_total_term_freq",
                        "sum_doc_freq"):
                cs[key] = int(cs[key]) + int(scs.get(key, 0))
            fs = dm.get("field_stats", {})
            for fld, d in (deltas.get("field_stats") or {}).items():
                cur = fs.get(fld, {"doc_count": 0,
                                   "sum_total_term_freq": 0})
                fs[fld] = {
                    "doc_count": cur["doc_count"] + d["doc_count"],
                    "sum_total_term_freq": cur["sum_total_term_freq"]
                    + d["sum_total_term_freq"],
                }
            dm["collection_stats"] = cs
            if fs:
                dm["field_stats"] = fs
            dm["next_doc_id"] = int(
                deltas.get("next_doc_id_after", fallback_next))
            dm["n_segments"] = seg_id + 1
            dm["committed_at"] = time.time()
            b._write_json("docs_stats.json", {
                k: cs[k] for k in ("n_docs", "doc_count",
                                   "sum_total_term_freq")})
            b._write_json("postings_stats.json",
                          {"sum_doc_freq": cs["sum_doc_freq"]})
            _write_manifest(dest_dir, dm)
        shutil.rmtree(staging, ignore_errors=True)
    return _manifest(dest_dir)["collection_stats"]


def attach_features(spark: SparkSession, index_dir: str,
                    features: DataFrame, mode: str = "merge") -> list[str]:
    """Bulk-load static ranking features — the loading side of the
    FeatureField analog (``document/FeatureField.java:60-97``; see
    ``search.query.FeatureQuery``).  The reference encodes features
    into term frequencies at index time, so refreshing them means
    re-indexing; here they live in a doc_id-keyed side table beside
    the index (the doc-values strategy), so a pagerank refresh is one
    table swap and the join stays co-located at any scale.

    ``features`` must carry ``doc_id`` plus >= 1 numeric column.
    ``mode='merge'`` outer-joins onto the existing feature table (new
    columns added; overlapping columns take the new value where the
    new table has one); ``'overwrite'`` replaces the table.  Atomic:
    a new generation is fully written before the manifest swap."""
    from pyspark.sql import types as T
    cols = [f for f in features.schema.fields if f.name != "doc_id"]
    if "doc_id" not in features.columns or not cols:
        raise ValueError("features needs doc_id + >= 1 value column")
    for f in cols:
        if not isinstance(f.dataType, (T.NumericType,)):
            raise ValueError(f"feature column '{f.name}' must be "
                             f"numeric, got {f.dataType.simpleString()}")
        if f.name in ("repo", "path", "commit", "lang", "length",
                      "norm_byte", "content_sha256", "build_partition",
                      "field_lengths", "term_freqs", "score"):
            raise ValueError(f"'{f.name}' collides with an index column")
    m = _manifest(index_dir)
    new = features.select(
        "doc_id", *[F.col(f.name).cast("double") for f in cols])
    old_path = m.get("features_path")
    if mode == "merge" and old_path is not None:
        old = spark.read.parquet(os.path.join(index_dir, old_path))
        renamed = new.select(
            "doc_id", *[F.col(f.name).alias(f"_new_{f.name}")
                        for f in cols])
        merged = old.join(renamed, "doc_id", "full_outer")
        for f in cols:
            nc = f"_new_{f.name}"
            if f.name in old.columns:
                # overlap: new value wins where the new table has one
                merged = merged.withColumn(
                    f.name, F.coalesce(F.col(nc), F.col(f.name))).drop(nc)
            else:
                merged = merged.withColumnRenamed(nc, f.name)
    elif mode in ("merge", "overwrite"):
        merged = new
    else:
        raise ValueError(f"unknown mode {mode!r}")
    gen = int(m.get("features_generation", 0)) + 1
    name = f"features_gen{gen}"
    merged.write.mode("overwrite") \
        .parquet(os.path.join(index_dir, name))
    m["features_path"] = name
    m["features_generation"] = gen
    m["committed_at"] = time.time()
    _write_manifest(index_dir, m)
    if old_path and old_path != name \
            and old_path not in _snapshot_protected(index_dir):
        shutil.rmtree(os.path.join(index_dir, old_path),
                      ignore_errors=True)
    return [f.name for f in cols]


def attach_payloads(spark: SparkSession, index_dir: str,
                    payloads: DataFrame) -> int:
    """Bulk-load per-position payloads — the ``.pay``-file analog
    (``codecs/lucene912/Lucene912PostingsWriter`` payload stream;
    produced at analysis time by ``DelimitedPayloadTokenFilter``):
    a (doc_id, position, payload double) side table beside the index,
    served to ``search.query.PayloadScoreQuery``.  Replaces any
    previous payload table; atomic generation swap (written fully
    before the manifest commit).  Returns the row count."""
    for c in ("doc_id", "position", "payload"):
        if c not in payloads.columns:
            raise ValueError("payloads needs (doc_id, position, payload)")
    rows = payloads.select(F.col("doc_id").cast("long"),
                           F.col("position").cast("long"),
                           F.col("payload").cast("double"))
    m = _manifest(index_dir)
    gen = int(m.get("payloads_generation", 0)) + 1
    name = f"payloads_gen{gen}"
    rows.write.mode("overwrite") \
        .parquet(os.path.join(index_dir, name))
    n = spark.read.parquet(os.path.join(index_dir, name)).count()
    old_path = m.get("payloads_path")
    m["payloads_path"] = name
    m["payloads_generation"] = gen
    m["committed_at"] = time.time()
    _write_manifest(index_dir, m)
    if old_path and old_path != name \
            and old_path not in _snapshot_protected(index_dir):
        shutil.rmtree(os.path.join(index_dir, old_path),
                      ignore_errors=True)
    return n


def split_delimited_payloads(docs_df: DataFrame,
                             content_col: str = "content",
                             delim: str = "|",
                             key_cols: tuple = ("repo", "path", "commit")):
    """``DelimitedPayloadTokenFilter`` analog
    (``analysis/common/.../payloads/DelimitedPayloadTokenFilter.java``):
    whitespace tokens shaped ``term|payload`` split into the clean term
    (what gets indexed) and a float payload recorded at the token's
    0-based position.  Pair with the ``whitespace`` analyzer so the
    recorded positions equal the indexed ones; after the build, map the
    key columns to doc_ids and :func:`attach_payloads`.

    Returns ``(clean_df, payload_rows)`` — ``clean_df`` is ``docs_df``
    with the payload markers stripped from ``content_col``;
    ``payload_rows`` carries ``key_cols + (position, payload)``.  All
    JVM expressions, no Python kernels."""
    from pyspark.sql import Window as W

    esc = re.escape(delim)
    base = (docs_df
            .select(*key_cols,
                    F.posexplode(F.split(F.col(content_col), r"\s+"))
                    .alias("_i", "_tok"))
            .filter(F.col("_tok") != ""))
    toks = (base
            .withColumn("position",
                        F.row_number().over(
                            W.partitionBy(*key_cols).orderBy("_i"))
                        .cast("long") - 1)
            .withColumn("term", F.substring_index("_tok", delim, 1))
            .withColumn("payload", F.when(
                F.col("_tok").rlike(esc),
                F.substring_index("_tok", delim, -1).cast("double"))))
    cleaned = (toks.groupBy(*key_cols)
               .agg(F.array_join(
                   F.transform(
                       F.array_sort(F.collect_list(
                           F.struct("_i", "term"))),
                       lambda s: s["term"]), " ").alias("_clean")))
    clean_df = (docs_df.join(cleaned, list(key_cols), "left")
                .withColumn(content_col,
                            F.coalesce("_clean", F.col(content_col)))
                .drop("_clean"))
    payload_rows = (toks.filter(F.col("payload").isNotNull())
                    .select(*key_cols, "position", "payload"))
    return clean_df, payload_rows
