"""Top-k BM25 query execution over the block-packed postings table.

The physical strategy mirrors Lucene's scorer selection
(``search/BooleanScorerSupplier.java:184-346``) re-expressed in Spark:

- **term lookup** — parquet partition pruning on ``bucket`` + predicate
  pushdown on ``term`` (the term-dictionary seek; check
  ``.explain()`` shows PartitionFilters/PushedFilters);
- **block-max pruning** for pure disjunctions / single terms — the
  WAND/MaxScore analog (``search/WANDScorer.java:54``,
  ``MaxScoreCache.java:72-90``): phase 1 scores a handful of
  highest-upper-bound blocks to establish a true lower bound θ on the
  kth score (partial disjunction scores are valid lower bounds), then
  phase 2 decodes only blocks whose relational upper bound
  ``w - w/(1 + max_freq * inv(min_norm_len))`` (+ the other terms'
  global max scores, MaxScore-style) can still beat θ.  Pruning is
  disabled when MUST/MUST_NOT/minShouldMatch would make the bound
  unsound — same spirit as Lucene falling back from WAND;
- **conjunction** — the rarest term (by docFreq) drives; per-term
  scored rows inner-join on ``doc_id`` (the leapfrog analog,
  ``ConjunctionDISI.java:165-217``);
- **MUST_NOT** — ``left_anti`` join (``ReqExclScorer.java:26``);
- **top-k** — ``orderBy(desc(score), asc(doc_id)).limit(k)`` compiles
  to TakeOrderedAndProject: per-partition top-k + driver merge, exactly
  the TopScoreDocCollector/TopDocs.merge shape with Lucene's tie-break
  (``HitQueue.java:78-84``, ``TopDocs.java:202-277``).

Scores are Lucene-exact: per-term float32 BM25 in the decode kernel,
per-doc summation in double, final cast to float32
(``DisjunctionSumScorer.java:39-45``).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from lucene_1_spark.functions import bm25, codecs
from lucene_1_spark.index.builder import FIELD_SEP
from lucene_1_spark.index.maintenance import next_doc_id
from lucene_1_spark.index.reader import IndexReader
from lucene_1_spark.search.query import (
    MAX_CLAUSE_COUNT, BooleanQuery, Clause, CommonTermsQuery,
    ComplexPhraseQuery,
    ConstantScoreQuery,
    DisjunctionMaxQuery, DocValuesRangeQuery, DocValuesTermsQuery,
    FieldExistsQuery, FunctionScoreQuery, FuzzyQuery,
    JoinQuery, MatchAllDocsQuery, MatchNoDocsQuery, MultiPhraseQuery,
    CombinedFieldQuery, FeatureQuery, MultiTermQuery, Occur,
    PayloadScoreQuery, PhraseQuery, PrefixQuery, Query, RegexpQuery,
    SynonymQuery,
    TermInSetQuery, TermQuery, TermRangeQuery, WildcardQuery, parse_query,
    rewrite_fixpoint,
)

DECODED_SCHEMA = T.StructType([
    T.StructField("term", T.StringType()),
    T.StructField("doc_id", T.LongType()),
    T.StructField("score", T.DoubleType()),  # exact float32 widened to double
])

# decode output carrying the per-block WAND survivor flag (see the
# multi-term prune path in _search_inner): candidate docs are those with
# max(sv) == 1 — one decode pass instead of decode-candidates + decode-
# scores + semi-join
DECODED_SV_SCHEMA = T.StructType([
    T.StructField("term", T.StringType()),
    T.StructField("doc_id", T.LongType()),
    T.StructField("score", T.DoubleType()),
    T.StructField("sv", T.IntegerType()),
])

BATCH_DECODED_SCHEMA = T.StructType([
    T.StructField("query_id", T.StringType()),
    T.StructField("term", T.StringType()),
    T.StructField("doc_id", T.LongType()),
    T.StructField("score", T.DoubleType()),
])

POSITIONS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("norm_val", T.LongType()),
    T.StructField("positions", T.ArrayType(T.IntegerType())),
])

# positions decode carrying the term — used by the interval sources'
# one-pass pivot (all lists' positions decoded in one kernel, grouped
# per doc)
POSITIONS_TERM_SCHEMA = T.StructType([
    T.StructField("term", T.StringType()),
    T.StructField("doc_id", T.LongType()),
    T.StructField("norm_val", T.LongType()),
    T.StructField("positions", T.ArrayType(T.IntegerType())),
])

PRUNE_SAFETY = 1.00001  # relational double ub -> float32 score margin

# columns each decode kernel actually reads — selected explicitly before
# every mapInPandas so Arrow never ships the unused heavy binaries
# (notably `positions`, the largest column, into kernels that only need
# doc ids or freqs; Spark cannot column-prune through an opaque Python
# function)
DECODE_COLS = ["term", "first_doc", "num_docs", "doc_gaps", "freqs",
               "norms"]
DOCS_ONLY_COLS = ["term", "first_doc", "num_docs", "doc_gaps"]
POS_COLS = ["first_doc", "num_docs", "doc_gaps", "freqs", "norms",
            "positions"]


from dataclasses import dataclass, field as _field


def _levenshtein(a: str, b: str) -> int:
    """Driver-side edit distance (tiny strings only: fuzzy member
    boosts).  Matches Spark's F.levenshtein / classic Levenshtein."""
    if a == b:
        return 0
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


# empty-result DataFrames memoized per (session, schema): building one
# costs ~20 ms of py4j/schema parsing, and every search constructed one
# up front whether or not it was returned
_EMPTY_DF_MEMO: dict = {}


def empty_df(spark, schema: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, schema)
    df = _EMPTY_DF_MEMO.get(key)
    if df is None:
        if len(_EMPTY_DF_MEMO) > 64:
            _EMPTY_DF_MEMO.clear()
        df = spark.createDataFrame([], schema)
        _EMPTY_DF_MEMO[key] = df
    return df


def _merge_ranges(ranges: list[tuple[int, int]],
                  max_intervals: int) -> list[list[int]]:
    """Merge sorted [lo, hi] doc ranges; coalesce across the smallest
    inter-interval gaps until at most ``max_intervals`` remain (over-
    coalescing only widens ranges — always sound for pruning)."""
    merged: list[list[int]] = []
    for lo, hi in ranges:
        if merged and lo <= merged[-1][1] + 1:
            merged[-1][1] = max(merged[-1][1], hi)
        else:
            merged.append([lo, hi])
    while len(merged) > max_intervals:
        gaps = sorted((merged[i + 1][0] - merged[i][1], i)
                      for i in range(len(merged) - 1))
        kill = {i for _, i in gaps[:len(merged) - max_intervals]}
        out: list[list[int]] = []
        for i, iv in enumerate(merged):
            if out and (i - 1) in kill:
                out[-1][1] = max(out[-1][1], iv[1])
            else:
                out.append(iv)
        merged = out
    return merged


def _overlap_cond(ranges: list[tuple[int, int]],
                  max_intervals: int) -> F.Column:
    """Block predicate: [first_doc, last_doc] overlaps one of the
    (merged, at most ``max_intervals``) sorted doc ranges."""
    cond = None
    for lo, hi in _merge_ranges(ranges, max_intervals):
        c = (F.col("last_doc") >= lo) & (F.col("first_doc") <= hi)
        cond = c if cond is None else cond | c
    return cond


def _collect(scored: DataFrame, k: int | None,
             after: tuple[float, int] | None = None) -> DataFrame:
    """The shared collector tail over (doc_id, score) hits: drop hits
    at or before the ``after`` cursor (searchAfter: a lower score, or
    an equal score and a higher doc_id), then return every hit
    (``k=None``, the exhaustive collector) or the top k by score desc,
    doc_id asc (TopScoreDocCollector's tie-break)."""
    if after is not None:
        s, d = after
        scored = scored.filter(
            (F.col("score") < float(s))
            | ((F.col("score") == float(s)) & (F.col("doc_id") > int(d))))
    if k is None:
        return scored
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def _block_positions(row, double_mode: bool):
    """One positions block -> (doc_ids, norms, freqs, absolute positions
    of every doc, concatenated).  Decode fuses the segmented prefix sum
    over within-doc position deltas."""
    n = int(row.num_docs)
    dids = codecs.decode_doc_ids(bytes(row.doc_gaps), int(row.first_doc), n)
    freqs = codecs.decode_freqs(bytes(row.freqs), n)
    norms = np.frombuffer(bytes(row.norms),
                          dtype="<u4" if double_mode else np.uint8) \
        .astype(np.int64)
    deltas = codecs.bitunpack(bytes(row.positions), int(freqs.sum()))
    ends = np.cumsum(freqs)
    g = np.cumsum(deltas)
    doc_base = np.concatenate(
        [[0], g[ends[:-1] - 1]]) if n > 1 else np.array([0])
    pos_abs = (g - np.repeat(doc_base, freqs)).astype(np.int32)
    return dids, norms, freqs, pos_abs


def phrase_freq(plists, slop: int, deltas, slot_keys) -> np.ndarray:
    """Phrase frequency of each row (doc).  ``plists[i][r]`` is the
    sorted, distinct position list of slot ``i`` in row ``r``;
    ``deltas[i]`` is slot i's offset from slot 0 and ``slot_keys[i]``
    its member-term tuple (equal tuples = repeated slots).  The rules
    are those of :meth:`IndexSearcher._phrase_exec`.  All rows' lists
    are flattened into one (row, pos)-keyed array, so adjacency is one
    ``np.isin`` per slot (no per-row Python loop)."""
    n_slots = len(plists)
    has_repeats = len(set(slot_keys)) != n_slots
    # slots with identical member sets need DISTINCT positions
    # (SloppyPhraseMatcher.java:52-90 repeat handling)
    repeated = {s for s in slot_keys if slot_keys.count(s) > 1}
    nrows = len(plists[0])
    if nrows == 0:
        return np.zeros(0, dtype=np.float64)
    M = np.int64(1) << 32  # (row, pos) -> one sortable key

    def keyed(col):
        lens = np.fromiter((len(x) for x in col), dtype=np.int64,
                           count=nrows)
        total = int(lens.sum())
        flat = (np.concatenate(
            [np.asarray(x, dtype=np.int64) for x in col])
            if total else np.zeros(0, dtype=np.int64))
        rows = np.repeat(np.arange(nrows, dtype=np.int64), lens)
        return rows * M + flat, rows

    k0, rows0 = keyed(plists[0])
    if slop == 0:
        mask = np.ones(len(k0), dtype=bool)
        for i in range(1, n_slots):
            ki, _ = keyed(plists[i])
            mask &= np.isin(k0 + deltas[i], ki)
        pf = np.bincount(rows0[mask],
                         minlength=nrows).astype(np.float64)
    elif n_slots == 2 and not has_repeats:
        k1s, _ = keyed(plists[1])
        pf = np.zeros(nrows, dtype=np.float64)
        for e in range(-slop, slop + 1):
            m = np.isin(k0 + deltas[1] + e, k1s)
            if m.any():
                pf += (np.bincount(rows0[m], minlength=nrows)
                       / (1.0 + abs(e)))
    else:
        # anchor on slot 0 (n>=3, or any n with repeated slots).
        # Non-repeated slots pick the minimal in-slop
        # |displacement| independently (one np.isin per offset).
        # Slots with a REPEATED member set are assigned DISTINCT
        # positions (Lucene's SloppyPhraseMatcher.java:52-90
        # forces repeats onto different positions): a
        # leftmost-feasible greedy in slot order — positions of
        # the repeat group must be strictly increasing across
        # its slots, which is WLOG since any crossing assignment
        # can be uncrossed within the per-slot windows.  The
        # anchor position is consumed when slot 0 itself
        # repeats.
        nk = len(k0)
        disp_total = np.zeros(nk, dtype=np.float64)
        valid = np.ones(nk, dtype=bool)
        offsets_by_abs = sorted(range(-slop, slop + 1), key=abs)
        keyed_memo: dict[int, np.ndarray] = {}
        prev: dict[tuple, np.ndarray] = {}
        if slot_keys[0] in repeated:
            prev[slot_keys[0]] = k0
        for i in range(1, n_slots):
            sk = slot_keys[i]
            if i not in keyed_memo:
                keyed_memo[i] = keyed(plists[i])[0]
            ki = keyed_memo[i]
            target = k0 + deltas[i]
            if sk not in repeated:
                best = np.full(nk, np.inf)
                for e in offsets_by_abs:
                    undecided = ~np.isfinite(best)
                    if not undecided.any():
                        break
                    m = undecided & np.isin(target + e, ki)
                    best[m] = abs(e)
                slot_ok = np.isfinite(best)
                valid &= slot_ok
                disp_total += np.where(slot_ok, best, 0.0)
                continue
            p = prev.get(sk)
            lb = target - slop if p is None \
                else np.maximum(target - slop, p + 1)
            if len(ki) == 0:
                valid[:] = False
                break
            idx = np.searchsorted(ki, lb, side="left")
            idxc = np.minimum(idx, len(ki) - 1)
            pos = ki[idxc]
            # pos in [lb, target+slop] stays inside the anchor's
            # row: keys are row*M + position and slop << M
            ok = (idx < len(ki)) & (pos <= target + slop)
            valid &= ok
            disp_total += np.where(ok, np.abs(pos - target), 0.0)
            prev[sk] = np.where(ok, pos, target)
        w = np.where(valid, 1.0 / (1.0 + disp_total), 0.0)
        pf = np.bincount(rows0, weights=w, minlength=nrows)
    return pf


def _phrase_range_kernel(slots, slop: int, deltas, width: int,
                         double_mode: bool):
    """Grouped phrase kernel: the blocks of one doc range ``_r`` (docs
    ``[_r*width, (_r+1)*width)``) -> (doc_id, norm_val, pf) of the
    range's matching docs.  Doc ids are decoded first and clipped to
    the range (a block straddling ranges counts each doc once); slot
    doc sets (a multi-member slot takes the union of its members) are
    intersected; freqs, norms and positions are decoded only for
    blocks holding a candidate."""
    slot_of = {t: [i for i, s in enumerate(slots) if t in s]
               for s in slots for t in s}
    M = np.int64(1) << 32           # (candidate, position) -> one key

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        r = int(pdf["_r"].iloc[0])
        rows = list(pdf.itertuples(index=False))
        dids = [codecs.decode_doc_ids(bytes(row.doc_gaps), int(row.first_doc),
                                      int(row.num_docs)) for row in rows]
        slot_docs: list[list[np.ndarray]] = [[] for _ in slots]
        for row, d in zip(rows, dids):
            for i in slot_of[row.term]:
                slot_docs[i].append(d[d // width == r])
        cand = None
        for parts in slot_docs:
            sd = np.unique(np.concatenate([*parts, np.zeros(0, np.int64)]))
            cand = sd if cand is None else np.intersect1d(
                cand, sd, assume_unique=True)
        if not len(cand):
            return pd.DataFrame({"doc_id": cand, "norm_val": cand,
                                 "pf": np.zeros(0)})
        norm = np.zeros(len(cand), dtype=np.int64)
        keys: list[list[np.ndarray]] = [[] for _ in slots]
        for row, d in zip(rows, dids):
            hit = np.isin(d, cand)
            if not hit.any():
                continue
            _, norms, freqs, pos = _block_positions(row, double_mode)
            ci = np.searchsorted(cand, d)
            norm[ci[hit]] = norms[hit]
            k = (np.repeat(ci, freqs) * M + pos)[np.repeat(hit, freqs)]
            for i in slot_of[row.term]:
                keys[i].append(k)
        plists = []
        for parts in keys:
            # sorted distinct positional union per doc (UnionPostingsEnum)
            k = np.unique(np.concatenate(parts))
            counts = np.bincount(k // M, minlength=len(cand))
            plists.append(np.split((k % M).astype(np.int32),
                                   np.cumsum(counts)[:-1]))
        pf = phrase_freq(plists, slop, deltas, slots)
        keep = pf > 0.0
        return pd.DataFrame({"doc_id": cand[keep], "norm_val": norm[keep],
                             "pf": pf[keep]})

    return kernel


@dataclass
class _Flat:
    """Flattened boolean clauses (see :meth:`IndexSearcher._flatten`)."""
    must: list = _field(default_factory=list)        # scored + required
    filters: list = _field(default_factory=list)     # required, NON-scoring
    should: list = _field(default_factory=list)      # scored, optional
    mnot: list = _field(default_factory=list)        # excluded
    must_groups: list = _field(default_factory=list)    # scored OR-groups, required
    filter_groups: list = _field(default_factory=list)  # non-scoring OR-groups, required
    # non-term sub-queries kept WHOLE: [(Occur, Query)] — each executes
    # as its own scored sub-plan and joins the per-doc aggregation as a
    # pseudo-term (BooleanClause.java composability: ANY Query nests)
    complex: list = _field(default_factory=list)
    msm: int = 0


class LRUQueryCache:
    """The ``search/LRUQueryCache.java:87`` analog: caches the DOC-ID
    SET of non-scoring (filter) queries as PERSISTED DataFrames, LRU-
    evicted with unpersist.  Lucene caches per-segment bitsets of
    frequently-reused filters; here the cached artifact is the
    distributed doc_id set itself (``df.persist()`` — memory/disk
    executor-side, reused across jobs with zero recompute).  Keys are
    rewritten Query dataclasses (frozen => hashable).

    Snapshot semantics: a searcher + cache pair is a POINT-IN-TIME view
    (DirectoryReader.open snapshot).  Because block scans list parquet
    files lazily at execution, an index MUTATION (IncrementalIndexWriter
    append/delete/compact) while the searcher lives could make a
    persisted filter set disagree with a fresh sub-plan — so every
    ``docs_for`` call re-reads the on-disk manifest's commit stamp and
    DROPS all entries when it moved (the per-call cost is one tiny JSON
    read).  Holders of previously returned DataFrames should also
    discard them after a mutation: eviction (and ``clear()``)
    unpersists cached frames, silently degrading any still-held
    reference to a full recompute."""

    def __init__(self, searcher: "IndexSearcher", max_entries: int = 32):
        from collections import OrderedDict
        self.searcher = searcher
        self.max_entries = int(max_entries)
        self._entries: "OrderedDict" = OrderedDict()
        self.hits = 0
        self.misses = 0
        self._gen = self._disk_generation()

    def _disk_generation(self):
        """(committed_at, n_segments, generation) from the on-disk
        manifest — moves on every append/delete/compact commit."""
        import json
        import os
        try:
            with open(os.path.join(self.searcher.reader.dir,
                                   "manifest.json")) as fh:
                m = json.load(fh)
            return (m.get("committed_at"), m.get("n_segments"),
                    m.get("generation"), m.get("has_deletes"))
        except OSError:
            return None

    def docs_for(self, query) -> DataFrame:
        """Persisted (doc_id) set of the query's matches."""
        s = self.searcher
        gen = self._disk_generation()
        if gen != self._gen:
            self.clear()           # index mutated: stale sets are wrong
            self._gen = gen
        if isinstance(query, str):
            query = parse_query(query, s.reader.cfg["analyzer"],
                                s.keyword_fields, s.text_fields)
        key = rewrite_fixpoint(s._expand_tree(
            rewrite_fixpoint(s._resolve_fields(query))))
        hit = self._entries.get(key)
        if hit is not None:
            self.hits += 1
            self._entries.move_to_end(key)
            return hit
        self.misses += 1
        df = (s._search_inner(key, k=None, prune=False)
              .select("doc_id").persist())
        df.count()  # materialize now; later uses are cache reads
        self._entries[key] = df
        while len(self._entries) > self.max_entries:
            _, old = self._entries.popitem(last=False)
            old.unpersist()
        return df

    def clear(self) -> None:
        for df in self._entries.values():
            df.unpersist()
        self._entries.clear()


class IndexSearcher:
    def __init__(self, reader: IndexReader, similarity: str | None = None,
                 sim_params: dict | None = None):
        """``similarity`` overrides the index's build-time similarity —
        the ``IndexSearcher.setSimilarity`` analog.  Only legal within
        the same norms encoding: the double similarities (bm25_double /
        classic_double / lm_dirichlet_double / boolean_double) share
        exact uint32 lengths and are freely interchangeable;
        bm25_float32 indexes carry byte4-quantized norms no other
        similarity can read.

        ``sim_params`` overlays the index config's similarity
        parameters for THIS searcher (``lm_mu``, ``lm_lambda``,
        ``norm_c``, ``ss_ln_min``...) — the analog of the reference's
        mutable similarity setters (``SweetSpotSimilarity
        .setLengthNormFactors`` / ``LMDirichletSimilarity(mu)``
        constructor args)."""
        self.reader = reader
        self.spark = reader.spark
        st = reader.stats
        built = reader.cfg.get("similarity", "bm25_float32")
        cfg_p = {**reader.cfg, **(sim_params or {})}
        self.similarity = similarity or built
        if similarity and ((similarity == "bm25_float32")
                           != (built == "bm25_float32")):
            raise ValueError(
                f"similarity '{similarity}' cannot read an index built "
                f"with '{built}' (norms encodings differ: byte4 vs "
                f"exact32)")
        # double_mode = exact uint32 norms + double arithmetic/output;
        # non-bm25 kinds additionally swap the scoring curve — the
        # pluggable-Similarity registry (SURVEY.md §2.11; reference
        # ``search/similarities/``: BM25Similarity, ClassicSimilarity,
        # LMDirichletSimilarity, LMJelinekMercerSimilarity,
        # BooleanSimilarity, DFRSimilarity, IBSimilarity,
        # AxiomaticF2EXP)
        _KINDS = {"bm25_float32": "bm25", "bm25_double": "bm25",
                  "classic_double": "classic",
                  "sweet_spot_double": "classic",
                  "lm_dirichlet_double": "lmd",
                  "lm_jelinek_mercer_double": "lmjm",
                  "boolean_double": "boolean",
                  "axiomatic_f2exp_double": "bm25",
                  "axiomatic_f2log_double": "bm25",
                  "axiomatic_f1exp_double": "ax1",
                  "axiomatic_f1log_double": "ax1",
                  "axiomatic_f3exp_double": "ax3",
                  "axiomatic_f3log_double": "ax3",
                  "indri_dirichlet_double": "indri",
                  "raw_tf_double": "rawtf"}
        self.dfr_params: tuple | None = None   # (basic, after_eff, norm)
        self.ib_params: tuple | None = None    # (dist, lambda_kind, norm)
        self.dfi_measure: str | None = None    # chi2 | sat | std
        # the two F2 axiomatics share BM25's tfln curve (k1=2s, b=0.5)
        # and differ only in the doc-independent idf factor
        self.axiomatic = self.similarity in ("axiomatic_f2exp_double",
                                             "axiomatic_f2log_double")
        # "exp" = ((N+1)/n)^k idf, "log" = ln((N+1)/n) idf — shared by
        # the F1/F2/F3 pairs (AxiomaticF*EXP/LOG.java)
        self.ax_variant = ("exp" if self.similarity.endswith("exp_double")
                           else "log")
        if self.similarity in _KINDS:
            self.score_kind = _KINDS[self.similarity]
        else:
            import re as _re
            m = _re.fullmatch(r"dfr_(if|in|ine|g)_(l|b)_(h[123]|z)_double",
                              self.similarity)
            mi = _re.fullmatch(r"ib_(ll|spl)_(df|ttf)_(h[123]|z)_double",
                               self.similarity)
            md = _re.fullmatch(r"dfi_(chi2|sat|std)_double",
                               self.similarity)
            if m:
                self.score_kind = "dfr"
                self.dfr_params = (m.group(1), m.group(2), m.group(3))
            elif mi:
                self.score_kind = "ib"
                self.ib_params = (mi.group(1), mi.group(2), mi.group(3))
            elif md:
                self.score_kind = "dfi"
                self.dfi_measure = md.group(1)
            else:
                raise ValueError(
                    f"unknown similarity '{self.similarity}' (supported:"
                    f" {sorted(_KINDS)}, dfr_<if|in|ine|g>_<l|b>_"
                    f"<h1|h2|h3|z>_double, ib_<ll|spl>_<df|ttf>_"
                    f"<h1|h2|h3|z>_double, dfi_<chi2|sat|std>_double)")
        self.double_mode = self.similarity != "bm25_float32"
        self.classic = self.similarity in ("classic_double",
                                           "sweet_spot_double")
        # SweetSpotSimilarity knobs (misc/SweetSpotSimilarity.java
        # setLengthNormFactors/setBaselineTfFactors); defaults make it
        # degrade exactly to ClassicSimilarity
        self.sweet_params = None
        if self.similarity == "sweet_spot_double":
            d = bm25.SWEET_SPOT_DEFAULTS
            self.sweet_params = (
                float(cfg_p.get("ss_ln_min", d[0])),
                float(cfg_p.get("ss_ln_max", d[1])),
                float(cfg_p.get("ss_steep", d[2])),
                float(cfg_p.get("ss_tf_base", d[3])),
                float(cfg_p.get("ss_tf_min", d[4])))
        self.mu = float(cfg_p.get("lm_mu", bm25.MU_DEFAULT))
        self.lm_lambda = float(cfg_p.get("lm_lambda",
                                         bm25.LMJM_LAMBDA_DEFAULT))
        self.norm_c = float(cfg_p.get("norm_c", 1.0))
        # H3's Dirichlet prior / Z's Pareto-Zipf exponent
        # (NormalizationH3.java / NormalizationZ.java defaults)
        self.norm_mu = float(cfg_p.get("norm_mu",
                                       bm25.NORM_MU_DEFAULT))
        self.norm_z = float(cfg_p.get("norm_z", bm25.NORM_Z_DEFAULT))
        self.ax_k = float(cfg_p.get("ax_k", bm25.AX_K_DEFAULT))
        self.ax_s = float(cfg_p.get("ax_s", bm25.AX_S_DEFAULT))
        # F3's query-length gamma parameter (AxiomaticF3EXP.java:38-49
        # constructor arg; mutable per-searcher like setSimilarity)
        self.ax_query_len = int(cfg_p.get("ax_query_len", 1))
        self.k1 = np.float32(reader.cfg["k1"])
        self.b = np.float32(reader.cfg["b"])
        if self.axiomatic:
            # F2's tf part == BM25's with k1 = 2s, b = 0.5 — the
            # whole double pipeline (incl. block-max bounds) is reused
            self.k1 = np.float32(2.0 * self.ax_s)
            self.b = np.float32(0.5)
        if self.double_mode:
            self.avgdl = st["sum_total_term_freq"] / max(st["doc_count"], 1)
        else:
            self.avgdl = bm25.avg_field_length(
                st["sum_total_term_freq"], max(st["doc_count"], 1))
        self.cache = bm25.norm_inverse_cache(
            np.float32(self.avgdl), self.k1, self.b)
        self.doc_count = st["doc_count"]
        self.keyword_fields = frozenset(
            reader.cfg.get("keyword_fields") or ())
        self.text_fields = frozenset(
            reader.cfg.get("text_fields") or ())
        self._field_cache_memo: dict[str, np.ndarray] = {}
        self.query_cache: LRUQueryCache | None = None

    def set_query_cache(self, max_entries: int = 32) -> "LRUQueryCache":
        """Enable the filter cache (``LRUQueryCache.java:87``): FILTER
        sub-query doc sets persist and are reused across searches."""
        self.query_cache = LRUQueryCache(self, max_entries)
        return self.query_cache

    # -- per-field statistics (Similarity.java:152 per-field norms) ----
    def _field_params(self, term_key: str) -> tuple[int, float]:
        """(doc_count, avgdl) of the field a term key belongs to —
        content stats for plain terms, manifest ``field_stats`` for
        composite ``<field>\\x1f<value>`` keyword terms."""
        if FIELD_SEP not in term_key:
            return self.doc_count, float(self.avgdl)
        fld = term_key.split(FIELD_SEP, 1)[0]
        fs = (self.reader.manifest.get("field_stats") or {}).get(fld)
        if fs is None:
            raise ValueError(f"field '{fld}' is not indexed "
                             f"(keyword_fields={sorted(self.keyword_fields)})")
        dc = max(int(fs["doc_count"]), 1)
        return int(fs["doc_count"]), float(fs["sum_total_term_freq"]) / dc

    def _idf_weight(self, boost: float, doc_freq: int, fdc: int,
                    ttf: int = 0) -> float:
        """boost × the similarity's document-independent term factor:
        idf for bm25, idf² for classic (TFIDFSimilarity's weight
        value), plain boost for the LM similarities (their
        doc-independent parts live in the per-doc formula / aux
        scalar), boolean (constant score == boost) and IB (lambda is
        the aux scalar), the factored Inf1-slope × after-effect
        constant for DFR, ((N+1)/n)^k for axiomatic F2EXP."""
        if self.score_kind == "classic":
            return boost * bm25.idf_classic(doc_freq, fdc) ** 2
        if self.score_kind in ("lmd", "lmjm", "boolean", "ib", "dfi",
                               "indri", "rawtf"):
            return float(boost)
        if self.score_kind == "dfr":
            bm_, ae, _ = self.dfr_params
            if bm_ == "g":
                return boost * bm25.dfr_g_weight(ae, doc_freq, ttf,
                                                 fdc)[0]
            return boost * bm25.dfr_weight(bm_, ae, doc_freq, ttf, fdc)
        if self.score_kind in ("ax1", "ax3") or self.axiomatic:
            return boost * (
                bm25.axiomatic_f2exp_weight(doc_freq, fdc, self.ax_k)
                if self.ax_variant == "exp"
                else bm25.axiomatic_f2log_weight(doc_freq, fdc))
        if self.double_mode:
            return boost * bm25.idf_double(doc_freq, fdc)
        return float(bm25.term_weight(doc_freq, fdc, boost))

    def _collection_prob(self, term_key: str,
                         ttf: int | None = None,
                         indri: bool = False) -> float:
        """P(term | collection) for the LM similarities — per-FIELD
        sum_total_term_freq for composite keyword/text-field terms
        (``Similarity.java:152`` per-field stats).  ``indri`` selects
        the unsmoothed ``F/T`` model (IndriCollectionModel) instead of
        the default ``(F+1)/(T+1)``."""
        if ttf is None:
            ttf = self.reader.term_statistics([term_key]).get(
                term_key, (0, 0))[1]
        if FIELD_SEP in term_key:
            fld = term_key.split(FIELD_SEP, 1)[0]
            fs = (self.reader.manifest.get("field_stats") or {}).get(fld)
            sttf = int(fs["sum_total_term_freq"]) if fs else 0
        else:
            sttf = int(self.reader.stats["sum_total_term_freq"])
        if indri:
            return bm25.indri_collection_prob(int(ttf), sttf)
        return bm25.collection_prob(int(ttf), sttf)


    def _term_aux(self, terms,
                  stats: dict[str, tuple] | None = None) -> dict[str, float]:
        """Per-term auxiliary scoring scalar: P(t|C) for the LM
        similarities, lambda for IB, {} otherwise.  ``stats`` =
        {term: (doc_freq, ttf)} skips the extra stats seek when the
        query-prep path already has them (memoized)."""
        if self.score_kind in ("lmd", "lmjm", "dfi"):
            # DFI's expected-frequency rate (F+1)/(T+1) IS the LM
            # collection model (DFISimilarity.java:58-62)
            return {t: self._collection_prob(
                t, ttf=(stats[t][1] if stats else None)) for t in terms}
        if self.score_kind == "indri":
            return {t: self._collection_prob(
                t, ttf=(stats[t][1] if stats else None), indri=True)
                for t in terms}
        if self.score_kind == "ib":
            st = stats or self.reader.term_statistics(list(terms))
            _, lam_kind, norm = self.ib_params
            out = {}
            for t in terms:
                fdc, _ = self._field_params(t)
                df_t, ttf_t = st.get(t, (0, 0))
                lam = bm25.ib_lambda(lam_kind, df_t, ttf_t, fdc)
                # H3's tfn needs the term's Dirichlet pivot (F+1)/(T+1)
                out[t] = ((lam, self._collection_prob(t, ttf=ttf_t))
                          if norm == "h3" else lam)
            return out
        if self.score_kind == "dfr" and (
                self.dfr_params[0] == "g" or self.dfr_params[2] == "h3"):
            # (g_ratio, h3_pivot) — 0.0 where unused
            st = stats or self.reader.term_statistics(list(terms))
            basic, ae, norm = self.dfr_params
            out = {}
            for t in terms:
                fdc, _ = self._field_params(t)
                df_t, ttf_t = st.get(t, (0, 0))
                ratio = bm25.dfr_g_weight(ae, df_t, ttf_t, fdc)[1] \
                    if basic == "g" else 0.0
                pivot = self._collection_prob(t, ttf=ttf_t) \
                    if norm == "h3" else 0.0
                out[t] = (ratio, pivot)
            return out
        if self.score_kind == "ax3":
            # per-term idf so the scorer can recover boost = w/idf for
            # the gamma penalty (Axiomatic.java:96-105)
            st = stats or self.reader.term_statistics(list(terms))
            out = {}
            for t in terms:
                fdc, _ = self._field_params(t)
                df_t = st.get(t, (0, 0))[0]
                out[t] = (bm25.axiomatic_f2exp_weight(df_t, fdc, self.ax_k)
                          if self.ax_variant == "exp"
                          else bm25.axiomatic_f2log_weight(df_t, fdc))
            return out
        return {}

    def _double_scorer(self):
        """Picklable (freqs, lens, weight, aux) -> scores closure for
        the round-7 double similarities (lmjm / dfr / ib); None for the
        kinds the kernels already dispatch inline."""
        if self.score_kind == "lmjm":
            lam = self.lm_lambda
            return lambda f, ln, w, a: \
                bm25.score_term_lm_jelinek_mercer(f, ln, w, a, lam)
        if self.score_kind == "dfr":
            basic, _, norm = self.dfr_params
            c = self.norm_z if norm == "z" else self.norm_c
            avgdl, mu = float(self.avgdl), self.norm_mu
            if basic == "g" or norm == "h3":
                # aux = (g_ratio, h3_pivot) from _term_aux
                return lambda f, ln, w, a: bm25.score_term_dfr(
                    f, ln, w, avgdl, c, norm, a[0], mu, a[1])
            return lambda f, ln, w, a: \
                bm25.score_term_dfr(f, ln, w, avgdl, c, norm)
        if self.score_kind == "ib":
            dist, _, norm = self.ib_params
            c = self.norm_z if norm == "z" else self.norm_c
            avgdl, mu = float(self.avgdl), self.norm_mu
            if norm == "h3":
                # aux = (lambda, h3_pivot)
                return lambda f, ln, w, a: bm25.score_term_ib(
                    f, ln, w, a[0], avgdl, c, norm, dist, mu, a[1])
            return lambda f, ln, w, a: \
                bm25.score_term_ib(f, ln, w, a, avgdl, c, norm, dist)
        if self.score_kind == "dfi":
            measure = self.dfi_measure
            return lambda f, ln, w, a: \
                bm25.score_term_dfi(f, ln, w, a, measure)
        if self.score_kind == "indri":
            mu = self.mu
            return lambda f, ln, w, a: \
                bm25.score_term_indri(f, ln, w, a, mu)
        if self.score_kind == "ax1":
            avgdl, s = float(self.avgdl), self.ax_s
            return lambda f, ln, w, a: \
                bm25.score_term_ax1(f, ln, w, avgdl, s)
        if self.score_kind == "ax3":
            avgdl, s = float(self.avgdl), self.ax_s
            qlen = self.ax_query_len
            return lambda f, ln, w, a: \
                bm25.score_term_ax3(f, ln, w, a, avgdl, s, qlen)
        if self.score_kind == "rawtf":
            return lambda f, ln, w, a: bm25.score_term_raw_tf(f, w)
        return None

    def _per_term_field_maps(self, terms) -> tuple[dict, dict]:
        """({term: norm-cache}, {term: avgdl}) overrides for composite
        keyword terms (empty for content-only queries — the common
        path pays nothing)."""
        caches: dict[str, np.ndarray] = {}
        avgdls: dict[str, float] = {}
        for t in terms:
            if FIELD_SEP not in t:
                continue
            _, avgdl_f = self._field_params(t)
            avgdls[t] = avgdl_f
            key = f"{t.split(FIELD_SEP, 1)[0]}"
            if key not in self._field_cache_memo:
                self._field_cache_memo[key] = bm25.norm_inverse_cache(
                    np.float32(avgdl_f), self.k1, self.b)
            caches[t] = self._field_cache_memo[key]
        return caches, avgdls

    def _resolve_fields(self, q: Query) -> Query:
        """Map fielded TermQuery nodes onto composite term keys so the
        whole downstream pipeline (stats seek, bucket pruning, decode,
        aggregation) is field-agnostic."""
        if isinstance(q, TermQuery) and q.field != "content":
            if q.field not in self.keyword_fields \
                    and q.field not in self.text_fields:
                raise ValueError(
                    f"field '{q.field}' is not indexed (fields: "
                    f"{sorted(self.keyword_fields | self.text_fields)})")
            return TermQuery(f"{q.field}{FIELD_SEP}{q.term}", q.boost)
        if isinstance(q, PhraseQuery) and q.field != "content":
            if q.field not in self.text_fields:
                raise ValueError(
                    f"field '{q.field}' is not an analyzed text field "
                    f"(text_fields={sorted(self.text_fields)})")
            return PhraseQuery(
                tuple(f"{q.field}{FIELD_SEP}{t}" for t in q.terms),
                q.boost, q.slop)
        if isinstance(q, MultiPhraseQuery) and q.field != "content":
            if q.field not in self.text_fields:
                raise ValueError(
                    f"field '{q.field}' is not an analyzed text field "
                    f"(text_fields={sorted(self.text_fields)})")
            return MultiPhraseQuery(
                tuple(tuple(f"{q.field}{FIELD_SEP}{t}" for t in s)
                      for s in q.slots),
                q.boost, q.slop, positions=q.positions)
        if isinstance(q, BooleanQuery):
            new = tuple(Clause(self._resolve_fields(c.query), c.occur)
                        for c in q.clauses)
            if all(a.query is b.query for a, b in zip(new, q.clauses)):
                return q
            return BooleanQuery(new, q.minimum_should_match)
        if isinstance(q, ConstantScoreQuery):
            inner = self._resolve_fields(q.query)
            return q if inner is q.query else ConstantScoreQuery(inner,
                                                                 q.boost)
        if isinstance(q, DisjunctionMaxQuery):
            new = tuple(self._resolve_fields(d) for d in q.disjuncts)
            if all(a is b for a, b in zip(new, q.disjuncts)):
                return q
            return DisjunctionMaxQuery(new, q.tie_breaker, q.boost)
        if isinstance(q, TermInSetQuery) and q.field != "content":
            if q.field not in self.keyword_fields \
                    and q.field not in self.text_fields:
                raise ValueError(
                    f"field '{q.field}' is not indexed (fields: "
                    f"{sorted(self.keyword_fields | self.text_fields)})")
            return TermInSetQuery(
                tuple(f"{q.field}{FIELD_SEP}{t}" for t in q.terms),
                "content", q.boost)
        if isinstance(q, CommonTermsQuery) and q.field != "content":
            if q.field not in self.keyword_fields \
                    and q.field not in self.text_fields:
                raise ValueError(
                    f"field '{q.field}' is not indexed (fields: "
                    f"{sorted(self.keyword_fields | self.text_fields)})")
            import dataclasses as _dc
            return _dc.replace(
                q, terms=tuple(f"{q.field}{FIELD_SEP}{t}"
                               for t in q.terms), field="content")
        return q

    # ------------------------------------------------------------------
    def _flatten(self, q: Query) -> "_Flat":
        """Flatten a term/boolean tree into the executor's clause lists.

        FILTER clauses are kept in a SEPARATE list: they constrain the
        match set but never contribute score — Lucene's required,
        non-scoring semantics (``search/BooleanQuery.java:120-126``,
        the non-scoring ``BooleanWeight``).

        One level of nested pure disjunctions (a BooleanQuery of only
        SHOULD TermQuery clauses — what multi-term expansion produces)
        is supported: under SHOULD it flattens into the parent (the
        disjunction sum is associative, ``DisjunctionSumScorer.java``);
        under MUST/FILTER it becomes a required OR-*group* (the doc must
        contain >=1 member); under MUST_NOT the members extend the
        exclusion set.

        EVERY other sub-query (PhraseQuery, SynonymQuery,
        ConstantScoreQuery, nested mixed BooleanQuery, ...) lands in
        ``complex``: it executes as its own scored (doc_id, score)
        sub-plan and joins the parent's per-doc aggregation under the
        clause's occur semantics — the relational ``BooleanWeight``
        over arbitrary sub-scorers (``search/BooleanQuery.java:105-130``,
        ``BooleanClause.java``)."""
        if isinstance(q, TermQuery):
            return _Flat(must=[q])
        if isinstance(q, BooleanQuery):
            out = _Flat()
            for c in q.clauses:
                sub = c.query
                if isinstance(sub, TermQuery):
                    {Occur.MUST: out.must, Occur.FILTER: out.filters,
                     Occur.SHOULD: out.should,
                     Occur.MUST_NOT: out.mnot}[c.occur].append(sub)
                    continue
                if isinstance(sub, BooleanQuery) and all(
                        cc.occur == Occur.SHOULD
                        and isinstance(cc.query, TermQuery)
                        for cc in sub.clauses) \
                        and sub.minimum_should_match <= 1:
                    members = [cc.query for cc in sub.clauses]
                    if c.occur == Occur.SHOULD:
                        out.should.extend(members)
                    elif c.occur == Occur.MUST:
                        out.must_groups.append(tuple(members))
                    elif c.occur == Occur.FILTER:
                        out.filter_groups.append(tuple(members))
                    else:
                        out.mnot.extend(members)
                    continue
                out.complex.append((c.occur, sub))
            out.msm = q.minimum_should_match
            return out
        raise NotImplementedError(f"query type {type(q)}")

    def _decode_kernel(self, weights: dict[str, float], want_scores: bool,
                       surv: bool = False):
        cache = self.cache
        k1, b = float(self.k1), float(self.b)
        avgdl = float(self.avgdl)
        double_mode = self.double_mode
        classic = self.classic
        classic_fn = bm25.make_classic_scorer(self.sweet_params)
        kind, mu = self.score_kind, self.mu
        # LM / IB need a per-term aux scalar (collection probability /
        # lambda) — the stats were already seeked (memoized) by the
        # query-prep path
        probs = self._term_aux(weights) if want_scores else {}
        nscore = self._double_scorer()
        # per-term field overrides (keyword fields have their own avgdl
        # / norm-inverse cache); empty for content-only queries
        caches, avgdls = self._per_term_field_maps(weights) \
            if want_scores else ({}, {})

        def decode(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in it:
                # per-block numpy decode, ONE DataFrame per Arrow batch
                # (a per-row DataFrame was the kernel's dominant cost)
                dids_l, scores_l, terms_l, counts = [], [], [], []
                svs = pdf["sv"].to_numpy() if surv else None
                for row in pdf.itertuples(index=False):
                    n = int(row.num_docs)
                    dids = codecs.decode_doc_ids(bytes(row.doc_gaps),
                                                 int(row.first_doc), n)
                    if want_scores and row.term in weights:
                        freqs = codecs.decode_freqs(bytes(row.freqs), n)
                        if double_mode:
                            lens = np.frombuffer(bytes(row.norms), dtype="<u4")
                            if classic:
                                s = classic_fn(
                                    freqs, lens, weights[row.term])
                            elif kind == "lmd":
                                s = bm25.score_term_lm_dirichlet(
                                    freqs, lens, weights[row.term],
                                    probs[row.term], mu)
                            elif kind == "boolean":
                                s = bm25.score_term_boolean(
                                    n, weights[row.term])
                            elif nscore is not None:
                                s = nscore(freqs, lens, weights[row.term],
                                           probs.get(row.term, 0.0))
                            else:
                                s = bm25.score_term_double(
                                    freqs, lens, weights[row.term],
                                    avgdls.get(row.term, avgdl), k1, b)
                        else:
                            norms = np.frombuffer(bytes(row.norms), dtype=np.uint8)
                            w = np.float32(weights[row.term])
                            s = bm25.score_term(freqs, norms, w,
                                                caches.get(row.term, cache)) \
                                .astype(np.float64)
                    else:
                        s = np.zeros(n, dtype=np.float64)
                    dids_l.append(dids)
                    scores_l.append(s)
                    terms_l.append(row.term)
                    counts.append(n)
                if not dids_l:
                    out = {"term": [], "doc_id": [], "score": []}
                    if surv:
                        out["sv"] = []
                    yield pd.DataFrame(out)
                    continue
                out = {
                    "term": np.repeat(np.asarray(terms_l, dtype=object),
                                      counts),
                    "doc_id": np.concatenate(dids_l),
                    "score": np.concatenate(scores_l),
                }
                if surv:
                    out["sv"] = np.repeat(svs.astype(np.int32), counts)
                yield pd.DataFrame(out)

        return decode

    def _blocks_for(self, terms: list[str]) -> DataFrame:
        buckets = sorted(set(self.reader.buckets_of(terms).values()))
        return (self.reader.postings()
                .filter(F.col("bucket").isin(buckets))
                .filter(F.col("term").isin(terms)))

    def _ub_col(self, weights: dict[str, float]) -> F.Column:
        """Relational per-block score upper bound (double + safety margin):
        w - w/(1 + max_freq / (k1*((1-b) + b*min_norm_len/avgdl)))."""
        wmap = F.create_map(*[x for t, w in weights.items()
                              for x in (F.lit(t), F.lit(float(w)))])
        w = wmap[F.col("term")]
        inv = 1.0 / (float(self.k1) * ((1.0 - float(self.b))
                     + float(self.b) * F.col("min_norm_len") / float(self.avgdl)))
        return (w - w / (1.0 + F.col("max_freq") * inv)) * PRUNE_SAFETY

    # ------------------------------------------------------------------
    def search_df(self, query: Query | str, k: int | None = 10,
                  prune: bool = True,
                  after: tuple[float, int] | None = None) -> DataFrame:
        """Top-k as a DataFrame (doc_id long, score float), rank-ordered.
        ``k=None`` returns ALL matching docs with scores, unsorted (the
        exhaustive-collector mode used by facets/grouping).

        With uncompacted deletes, results are masked against the
        tombstone set (liveDocs, ``search/IndexSearcher.java:826``) and
        block-max pruning is disabled — the θ probe could learn a bound
        from a deleted doc and over-prune; compaction restores it."""
        if self.reader.has_deletes:
            matches = self._search_inner(query, k=None, prune=False,
                                         after=after)
            live = matches.join(self.reader.tombstones(), "doc_id",
                                "left_anti")
            return _collect(live, k)
        return self._search_inner(query, k, prune=prune, after=after)

    def _search_inner(self, query: Query | str, k: int | None = 10,
                      prune: bool = True,
                      after: tuple[float, int] | None = None) -> DataFrame:
        if isinstance(query, str):
            query = parse_query(query, self.reader.cfg["analyzer"],
                                self.keyword_fields, self.text_fields)
        query = rewrite_fixpoint(self._expand_tree(
            rewrite_fixpoint(self._resolve_fields(query))))
        spark = self.spark
        empty = empty_df(spark, "doc_id long, score float")
        if isinstance(query, MatchNoDocsQuery):
            return empty
        if isinstance(query, MatchAllDocsQuery):
            scored = (self.reader.docs()
                      .select("doc_id", F.lit(float(query.boost)).cast("float")
                              .alias("score")))
            if k is None:  # exhaustive-collector mode (facets/grouping)
                return scored
            return scored.orderBy(F.asc("doc_id")).limit(k)
        if isinstance(query, FieldExistsQuery):
            scored = (self.reader.docs()
                      .filter(F.col(query.field).isNotNull())
                      .select("doc_id",
                              F.lit(float(query.boost)).cast("float")
                              .alias("score")))
            if k is None:
                return scored
            return scored.orderBy(F.asc("doc_id")).limit(k)
        if isinstance(query, DocValuesRangeQuery):
            col = F.col(query.field)
            pred = col.isNotNull()
            if query.lower is not None:
                pred = pred & (col >= query.lower if query.include_lower
                               else col > query.lower)
            if query.upper is not None:
                pred = pred & (col <= query.upper if query.include_upper
                               else col < query.upper)
            scored = (self.reader.docs().filter(pred)
                      .select("doc_id",
                              F.lit(float(query.boost))
                              .cast("double" if self.double_mode
                                    else "float").alias("score")))
            if k is None:
                return scored
            return scored.orderBy(F.asc("doc_id")).limit(k)
        if isinstance(query, DocValuesTermsQuery):
            scored = (self.reader.docs()
                      .filter(F.col(query.field).isin(list(query.values)))
                      .select("doc_id",
                              F.lit(float(query.boost))
                              .cast("double" if self.double_mode
                                    else "float").alias("score")))
            if k is None:
                return scored
            return scored.orderBy(F.asc("doc_id")).limit(k)
        if isinstance(query, FunctionScoreQuery):
            return self._function_score_search(query, k)
        if isinstance(query, PhraseQuery):
            return self._phrase_search(query, k, after)
        if isinstance(query, MultiPhraseQuery):
            return self._multiphrase_search(query, k, after)
        if isinstance(query, ConstantScoreQuery):
            matches = self._search_inner(query.query, k=None, prune=False)
            scored = matches.select(
                "doc_id", F.lit(float(query.boost))
                .cast("double" if self.double_mode else "float")
                .alias("score"))
            if k is None:
                return scored
            return scored.orderBy(F.asc("doc_id")).limit(k)
        if isinstance(query, SynonymQuery):
            return self._synonym_search(query, k, after)
        if isinstance(query, CombinedFieldQuery):
            return self._combined_field_search(query, k, after)
        if isinstance(query, FeatureQuery):
            return self._feature_search(query, k, after)
        if isinstance(query, PayloadScoreQuery):
            return self._payload_search(query, k, after)
        if isinstance(query, DisjunctionMaxQuery):
            return self._dismax_search(query, k, after)
        if isinstance(query, TermInSetQuery):
            return self._term_in_set_search(query, k, after)
        if isinstance(query, JoinQuery):
            return self._join_search(query, k, after)

        fl = self._flatten(query)
        must, should, mnot, msm = fl.must, fl.should, fl.mnot, fl.msm
        filters = fl.filters
        group_members = [t for g in fl.must_groups + fl.filter_groups for t in g]
        stats = self.reader.term_statistics(
            sorted({t.term for t in
                    must + should + mnot + filters + group_members}))
        # a required term (or fully-absent required group) -> no hits
        if any(t.term not in stats for t in must + filters):
            return empty
        if any(all(t.term not in stats for t in g)
               for g in fl.must_groups + fl.filter_groups):
            return empty
        must = [t for t in must if t.term in stats]
        should = [t for t in should if t.term in stats]
        mnot = [t for t in mnot if t.term in stats]
        filters = [t for t in filters if t.term in stats]
        must_groups = [tuple(t for t in g if t.term in stats)
                       for g in fl.must_groups]
        filter_groups = [tuple(t for t in g if t.term in stats)
                         for g in fl.filter_groups]
        # FILTER terms/groups are required but NEVER scored
        # (BooleanQuery.java:120-126)
        scoring = must + should + [t for g in must_groups for t in g]

        # complex clauses: each sub-query executes as its own scored
        # per-doc sub-plan and enters the aggregation as a pseudo-term
        # tagged \x00cx<i> (analyzers never emit \x00, so tags cannot
        # collide with real terms).  Sub-plan scores are per-clause
        # floats summed in double — BooleanScorer's accumulation.
        cx_parts: list[DataFrame] = []
        cx_required_tags: list[str] = []
        cx_scoring_tags: list[str] = []
        cx_should_tags: list[str] = []
        cx_mnot_tags: list[str] = []
        for ci, (occ, cq) in enumerate(fl.complex):
            tag = f"\x00cx{ci}"
            if occ == Occur.FILTER and self.query_cache is not None:
                # non-scoring clause: the persisted doc-id set from the
                # filter cache replaces the sub-plan (LRUQueryCache)
                sub = self.query_cache.docs_for(cq).select(
                    "doc_id", F.lit(0.0).alias("score"))
            else:
                sub = self._search_inner(cq, k=None, prune=False)
            cx_parts.append(sub.select(
                F.lit(tag).alias("term"), "doc_id",
                F.col("score").cast("double").alias("score")))
            if occ in (Occur.MUST, Occur.FILTER):
                cx_required_tags.append(tag)
            if occ in (Occur.MUST, Occur.SHOULD):
                cx_scoring_tags.append(tag)
            if occ == Occur.SHOULD:
                cx_should_tags.append(tag)
            if occ == Occur.MUST_NOT:
                cx_mnot_tags.append(tag)

        if not scoring and not filters and not filter_groups \
                and not cx_scoring_tags and not cx_required_tags:
            return empty

        # per-term weight; duplicate scoring terms sum their weights
        # (BM25 is linear in the weight, so w1+w2 == scoring twice)
        weights: dict[str, float] = {}
        for t in scoring:
            fdc, _ = self._field_params(t.term)  # per-field docCount idf
            w = self._idf_weight(t.boost, stats[t.term][0], fdc,
                                 ttf=stats[t.term][1])
            weights[t.term] = weights.get(t.term, 0.0) + w
        filter_only_terms = [t for t in filters if t.term not in weights] + \
            [t for g in filter_groups for t in g if t.term not in weights]
        all_terms = sorted({t.term for t in scoring + mnot + filter_only_terms})
        blocks = self._blocks_for(all_terms) if all_terms else None

        # Conjunction block pruning — the BlockMaxConjunction analog
        # (``search/BlockMaxConjunctionBulkScorer.java``, chosen at
        # ``BooleanScorerSupplier.java:340``): the rarest REQUIRED term
        # drives; other terms' blocks whose docID range cannot overlap
        # any of the driver's block ranges are never decoded (the
        # relational skip-list hop).  Exact-safe: every hit must contain
        # the driver term, and a surviving hit's blocks all overlap the
        # interval that contains it, so its score stays complete.
        required_single = must + filters
        if prune and required_single and blocks is not None \
                and len(all_terms) > 1:
            driver = min(required_single, key=lambda t: stats[t.term][0]).term
            blocks = self._prune_by_driver_ranges(blocks, driver)

        # Block-max pruning (WAND/MaxScore analog) — only where the bound
        # is sound: pure disjunctions (no complex sub-plans, whose scores
        # block metadata cannot bound) with no pagination cursor.
        # non-BM25 scores (classic TF-IDF, LM Dirichlet, boolean) are
        # not bounded by the BM25 block-max ub formula, so WAND pruning
        # stays off under those similarities
        use_prune = (prune and k is not None and not must and not mnot
                     and not filters and not must_groups and not filter_groups
                     and not cx_parts and self.score_kind == "bm25"
                     and not any(FIELD_SEP in t for t in weights)
                     and msm == 0 and after is None and len(should) >= 1)
        decoded = None
        sv_mode = False
        if use_prune:
            meta = self._block_meta(list(weights))
            theta = self._estimate_theta(blocks, weights, k, meta=meta)
            if theta is not None:
                ub = self._ub_col(weights)
                if len(weights) == 1:
                    # single term: survivors' scores are already complete
                    blocks = blocks.filter(ub >= float(theta))
                else:
                    # multi-term: a doc whose EVERY block fails
                    # ub + slack(term) < theta is provably below theta
                    # (its total <= that bound), so docs with >=1
                    # surviving block form a sound CANDIDATE set.  ONE
                    # decode pass tags each block with its survivor flag
                    # (sv); candidates = max(sv) == 1 per doc — scores
                    # stay complete because every block of a candidate
                    # doc is decoded (vs the old shape: a second decode
                    # of the surviving blocks + distinct + semi-join).
                    other = self._other_max_ubs(blocks, weights, meta=meta)
                    slack = F.create_map(*[x for t, v in other.items()
                                           for x in (F.lit(t), F.lit(float(v)))])
                    surv_pred = (ub + slack[F.col("term")] >= float(theta))
                    if meta is not None and len(meta):
                        # driver-side metadata: skip decoding blocks whose
                        # doc range cannot contain a candidate (no overlap
                        # with any surviving block's range) — the
                        # BlockMaxConjunction-style skip-list hop applied
                        # to the WAND candidate set
                        ub_np = self._ub_np(meta, weights)
                        slack_np = meta["term"].map(other).to_numpy(
                            dtype=np.float64)
                        keep = ub_np + slack_np >= float(theta)
                        if not keep.any():
                            scored = spark.createDataFrame(
                                [], f"doc_id long, score "
                                f"{'double' if self.double_mode else 'float'}")
                            return scored
                        if not keep.all():
                            blocks = blocks.filter(_overlap_cond(
                                sorted(zip(
                                    meta["first_doc"].to_numpy()[keep]
                                    .astype(int).tolist(),
                                    meta["last_doc"].to_numpy()[keep]
                                    .astype(int).tolist())),
                                self.MAX_RANGE_INTERVALS))
                    blocks = blocks.withColumn("sv", surv_pred.cast("int"))
                    decoded = blocks.select(*DECODE_COLS, "sv").mapInPandas(
                        self._decode_kernel(weights, want_scores=True,
                                            surv=True), DECODED_SV_SCHEMA)
                    sv_mode = True

        if decoded is None and blocks is not None:
            decoded = blocks.select(*DECODE_COLS).mapInPandas(
                self._decode_kernel(weights, want_scores=True), DECODED_SCHEMA)
        score_type0 = "double" if self.double_mode else "float"
        if sv_mode:
            # pure disjunction (use_prune preconditions): candidates are
            # docs with >=1 surviving block; their sums are complete
            per_doc = decoded.groupBy("doc_id").agg(
                F.sum("score").alias("score_d"),
                F.max("sv").alias("_sv"))
            scored = (per_doc.filter(F.col("_sv") == 1)
                      .select("doc_id", F.col("score_d").cast(score_type0)
                              .alias("score")))
            return _collect(scored, k)

        # union the complex sub-plan pseudo-term rows into the same
        # (term, doc_id, score) relation the aggregation consumes
        for p in cx_parts:
            decoded = p if decoded is None else decoded.unionByName(p)

        # single scoring term, nothing to combine or exclude: each doc
        # appears EXACTLY ONCE in the decoded stream (docIDs are
        # globally unique across segments and a term's postings hold a
        # doc once), so the per-doc aggregation — and its exchange — is
        # an identity; skip it (TermScorer's straight-through path)
        if (not cx_parts and not mnot and not filters
                and not must_groups and not filter_groups and msm == 0
                and not filter_only_terms and len(weights) == 1
                and decoded is not None):
            scored = decoded.select(
                "doc_id", F.col("score").cast(score_type0).alias("score"))
            return _collect(scored, k, after)

        required_terms = sorted({t.term for t in must}
                                | {t.term for t in filters}) \
            + cx_required_tags
        scoring_terms = sorted({t.term for t in scoring}) + cx_scoring_tags
        if scoring_terms:
            agg = [F.sum(F.when(F.col("term").isin(scoring_terms),
                                F.col("score")).otherwise(0.0)).alias("score_d")]
        else:  # filter-only query: matches, but every hit scores 0
            agg = [F.min(F.lit(0.0)).alias("score_d")]
        if required_terms:
            agg.append(F.sum(F.when(F.col("term").isin(required_terms), 1)
                             .otherwise(0)).alias("n_req"))
        groups_all = must_groups + filter_groups
        for gi, g in enumerate(groups_all):
            gt = sorted({t.term for t in g})
            agg.append(F.max(F.when(F.col("term").isin(gt), 1).otherwise(0))
                       .alias(f"grp_{gi}"))
        if msm > 0:
            should_terms = [t.term for t in should] + cx_should_tags
            agg.append(F.sum(F.when(F.col("term").isin(should_terms), 1)
                             .otherwise(0)).alias("n_should"))
        hits = decoded
        mnot_terms = [t.term for t in mnot] + cx_mnot_tags
        if mnot_terms:
            excluded = decoded.filter(F.col("term").isin(mnot_terms)) \
                .select("doc_id").distinct()
            hits = hits.filter(~F.col("term").isin(mnot_terms)) \
                .join(excluded, "doc_id", "left_anti")
        per_doc = hits.groupBy("doc_id").agg(*agg)
        if required_terms:
            per_doc = per_doc.filter(F.col("n_req") >= len(required_terms))
        for gi in range(len(groups_all)):
            per_doc = per_doc.filter(F.col(f"grp_{gi}") == 1)
        if msm > 0:
            per_doc = per_doc.filter(F.col("n_should") >= msm)
        score_type = "double" if self.double_mode else "float"
        scored = per_doc.select(
            "doc_id", F.col("score_d").cast(score_type).alias("score"))
        return _collect(scored, k, after)

    DRIVER_RANGE_CAP = 4096     # skip pruning if the driver term has more blocks
    MAX_RANGE_INTERVALS = 64    # cap the OR-predicate size
    DRIVER_META_CAP = 1 << 20   # max block-metadata rows read driver-side

    def _block_meta(self, terms: list[str], cap: int | None = None):
        """Driver-side block metadata of ``terms`` (pandas), or None
        when the stats-derived block estimate exceeds ``cap`` (default
        DRIVER_META_CAP — a hot term at 100 TB stays on the distributed
        path) or the pyarrow seek fails.  The estimate adds one partial
        tail block per OTHER segment per term (per-segment runs don't
        pack full), so an uncompacted many-segment index cannot blow
        far past the cap.  The stats are already memoized by the
        query-prep path, so the cap check itself costs nothing."""
        if cap is None:
            cap = self.DRIVER_META_CAP
        try:
            if self._estimate_blocks(terms) > cap:
                return None
            return self.reader.block_meta_arrow(sorted(terms))
        except Exception:
            return None

    def _estimate_blocks(self, terms) -> int:
        """Posting blocks of ``terms`` estimated from the memoized term
        statistics, plus one partial tail block per segment per term."""
        n_seg = max(int(self.reader.manifest.get("n_segments", 1)), 1)
        stats = self.reader.term_statistics(list(terms))
        return sum(stats.get(t, (0, 0))[0] // codecs.BLOCK_SIZE + n_seg
                   for t in terms)

    def _ub_np(self, meta, weights: dict[str, float]) -> np.ndarray:
        """The _ub_col formula over driver-side metadata rows — same
        double arithmetic, vectorized in numpy."""
        w = meta["term"].map(weights).to_numpy(dtype=np.float64)
        inv = 1.0 / (float(self.k1) * (
            (1.0 - float(self.b))
            + float(self.b) * meta["min_norm_len"].to_numpy(dtype=np.float64)
            / float(self.avgdl)))
        mf = meta["max_freq"].to_numpy(dtype=np.float64)
        return (w - w / (1.0 + mf * inv)) * PRUNE_SAFETY

    def _prune_by_driver_ranges(self, blocks: DataFrame,
                                driver_term: str) -> DataFrame:
        """Keep only blocks whose [first_doc, last_doc] overlaps one of
        the driver term's (merged) block ranges.  Metadata-only driver
        read: partition-pruned to the driver's bucket, column-pruned to
        the two range columns — via the pyarrow seek when the block
        count allows (no Spark job), else a capped Spark collect."""
        # cap the metadata read at the RANGE cap (not the larger meta
        # cap): a driver term with more blocks than DRIVER_RANGE_CAP
        # skips pruning anyway, so reading its metadata would pull rows
        # only to discard them
        meta = self._block_meta([driver_term], cap=self.DRIVER_RANGE_CAP)
        if meta is not None:
            if not len(meta) or len(meta) > self.DRIVER_RANGE_CAP:
                return blocks
            ranges = sorted(zip(meta["first_doc"].astype(int).tolist(),
                                meta["last_doc"].astype(int).tolist()))
        else:
            # limit BEFORE collect: a hot driver term at 100 TB may have
            # millions of blocks — cap the transfer at CAP+1 rows so the
            # driver sees "too many" without materializing them all.
            rows = (blocks.filter(F.col("term") == driver_term)
                    .select("first_doc", "last_doc")
                    .limit(self.DRIVER_RANGE_CAP + 1).collect())
            if not rows or len(rows) > self.DRIVER_RANGE_CAP:
                return blocks
            ranges = sorted((int(r["first_doc"]), int(r["last_doc"]))
                            for r in rows)
        return blocks.filter((F.col("term") == driver_term)
                             | _overlap_cond(ranges, self.MAX_RANGE_INTERVALS))

    def _other_max_ubs(self, blocks: DataFrame, weights: dict[str, float],
                       meta=None) -> dict[str, float]:
        """{term: sum of OTHER terms' global max block ub} (MaxScore).
        Computed from driver-side metadata when available (no Spark
        job), else a distributed metadata aggregation."""
        if meta is not None and len(meta):
            ub = self._ub_np(meta, weights)
            mx = (pd.Series(ub, index=meta["term"].to_numpy())
                  .groupby(level=0).max().to_dict())
            mx = {t: float(v) for t, v in mx.items()}
        else:
            ubc = self._ub_col(weights)
            rows = blocks.groupBy("term").agg(F.max(ubc).alias("mx")) \
                .collect()
            mx = {r["term"]: float(r["mx"]) for r in rows}
        total = sum(mx.values())
        return {t: total - v for t, v in mx.items()}

    def _estimate_theta(self, blocks: DataFrame, weights: dict[str, float],
                        k: int, meta=None) -> float | None:
        """True lower bound on the kth score: fully score the docs of the
        highest-upper-bound blocks (a doc's partial disjunction score is
        a lower bound on its total).  With driver-side metadata the
        probe blocks are chosen in numpy and their payloads fetched with
        one pyarrow read — zero Spark jobs; any subset of blocks yields
        a sound bound, so the two paths are interchangeable."""
        n_probe = max(4, 2 * ((k // codecs.BLOCK_SIZE) + 1))
        probe_pd = None
        if meta is not None and len(meta):
            try:
                ub_np = self._ub_np(meta, weights)
                top = np.argsort(-ub_np, kind="stable")[:n_probe]
                pairs = list(zip(meta["term"].to_numpy()[top].tolist(),
                                 meta["first_doc"].to_numpy()[top]
                                 .astype(int).tolist()))
                probe_pd = self.reader.block_payload_arrow(pairs)
            except Exception:
                probe_pd = None
        if probe_pd is None:
            ub = self._ub_col(weights)
            probe = (blocks.withColumn("_ub", ub)
                     .orderBy(F.desc("_ub"))
                     .limit(n_probe))
            probe_pd = probe.select(*DECODE_COLS).toPandas()
        if probe_pd.empty:
            return None
        parts = []
        classic_fn = bm25.make_classic_scorer(self.sweet_params) \
            if self.classic else None
        for row in probe_pd.itertuples(index=False):
            n = int(row.num_docs)
            dids = codecs.decode_doc_ids(bytes(row.doc_gaps), int(row.first_doc), n)
            freqs = codecs.decode_freqs(bytes(row.freqs), n)
            if self.double_mode:
                lens = np.frombuffer(bytes(row.norms), dtype="<u4")
                if self.classic:
                    s = classic_fn(freqs, lens, weights[row.term])
                else:
                    s = bm25.score_term_double(freqs, lens,
                                               weights[row.term],
                                               float(self.avgdl),
                                               float(self.k1), float(self.b))
            else:
                norms = np.frombuffer(bytes(row.norms), dtype=np.uint8)
                w = np.float32(weights[row.term])
                s = bm25.score_term(freqs, norms, w, self.cache).astype(np.float64)
            parts.append(pd.DataFrame({"doc_id": dids, "s": s}))
        per_doc = pd.concat(parts).groupby("doc_id")["s"].sum()
        if len(per_doc) < k:
            return None
        kth = np.sort(per_doc.to_numpy())[-k]
        if not self.double_mode:
            kth = np.float32(kth)
        return float(kth)

    # ------------------------------------------------------------------
    def _decode_positions_kernel(self, with_term: bool = False):
        """Blocks -> (doc_id, norm_val, positions) per doc (see
        :func:`_block_positions`).  ``with_term=True`` additionally
        carries the block's term so a multi-term decode can be pivoted
        per slot downstream."""
        double_mode = self.double_mode

        def decode(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in it:
                outs = []
                for row in pdf.itertuples(index=False):
                    dids, norms, freqs, pos = _block_positions(row,
                                                               double_mode)
                    out = {"doc_id": dids, "norm_val": norms,
                           "positions": np.split(pos, np.cumsum(freqs)[:-1])}
                    if with_term:
                        out = {"term": np.repeat(row.term, len(dids)), **out}
                    outs.append(pd.DataFrame(out))
                yield pd.concat(outs) if outs else pd.DataFrame(
                    ({"term": []} if with_term else {})
                    | {"doc_id": [], "norm_val": [], "positions": []})

        return decode

    def _phrase_search(self, q: PhraseQuery, k: int | None,
                       after: tuple[float, int] | None) -> DataFrame:
        """Phrase execution — delegates to :meth:`_phrase_exec` with one
        single-term slot per phrase position.  See PhraseQuery
        (``search/PhraseQuery.java:71-143``) for the slop semantics and
        documented deviations."""
        return self._phrase_exec(tuple((t,) for t in q.terms),
                                 int(q.slop), float(q.boost), None, k,
                                 after)

    def _multiphrase_search(self, q, k: int | None,
                            after: tuple[float, int] | None) -> DataFrame:
        """MultiPhraseQuery (``search/MultiPhraseQuery.java:53-120``):
        a phrase whose slots accept ANY of several terms (wildcard /
        synonym expansion inside a phrase).  Each slot's postings are
        the positional UNION of its members (UnionPostingsEnum,
        ``MultiPhraseQuery.java:350-420``); the ordinary exact/sloppy
        adjacency kernel then runs over the slot streams.  Weight =
        boost * sum of idf over every PRESENT member term
        (MultiPhraseWeight collects per-term TermStatistics; docFreq-0
        terms are skipped)."""
        return self._phrase_exec(q.slots, int(q.slop), float(q.boost),
                                 q.positions, k, after)

    def _phrase_exec(self, slots, slop: int, boost: float, offsets,
                     k: int | None,
                     after: tuple[float, int] | None) -> DataFrame:
        """Positional phrase kernel over term-union SLOTS, scale-shaped
        like the reference's positional leapfrog
        (``search/ExactPhraseMatcher.java:109-153``), as ONE exchange
        and ONE grouped kernel per doc range.  Blocks that cannot
        overlap the rarest slot's block ranges are dropped on driver
        metadata (skip-list hop); every other block is keyed by each
        doc range ``first_doc div w .. last_doc div w`` it overlaps
        (``w = ceil(next_doc_id / n_ranges)``; n_ranges is at least the
        shuffle partitions, more when the term statistics estimate more
        blocks).  Per range, :func:`_phrase_range_kernel` intersects the
        slots' doc sets (a multi-member slot takes the union of its
        members, UnionPostingsEnum), decodes positions only for blocks
        holding a candidate and counts matches with
        :func:`phrase_freq`; the (doc_id, norm_val, pf) rows are then
        scored by column arithmetic.

        slop>0 (two distinct slots): freq = sum over in-slop position
        pairs of 1/(1+|displacement|); slop>0 with n>=3 slots (or any
        repeated slot): each position of the FIRST slot anchors one
        candidate match — every other slot i must have some position
        within ``slop`` of (anchor + delta_i), and the match weighs
        1/(1 + sum of per-slot |displacement|s).  Slots with IDENTICAL
        member sets are assigned DISTINCT positions (Lucene's
        ``search/SloppyPhraseMatcher.java:52-90`` forbids two repeat
        slots matching the same position) via a leftmost-feasible
        greedy in slot order; the anchor position is consumed when slot
        0 itself repeats.  These are documented deviations from
        SloppyPhraseMatcher's greedy repositioning walk (same
        1/(1+matchLength) weighting idea), chosen because they are
        exactly reproducible in set-based SQL for the oracle.

        ``offsets``: optional explicit per-slot positions
        (``MultiPhraseQuery.Builder.add(Term[], int)`` — gaps between
        slots); default consecutive 0..n-1."""
        empty = empty_df(self.spark, "doc_id long, score float")
        if self.reader.cfg.get("positions") is not True:
            raise ValueError("index was built without positions "
                             "(IndexConfig.positions=True required)")
        slots = tuple(tuple(s) for s in slots)
        n_slots = len(slots)
        if n_slots == 0:
            return empty
        offs = (tuple(int(o) for o in offsets) if offsets is not None
                else tuple(range(n_slots)))
        if len(offs) != n_slots or list(offs) != sorted(offs):
            raise ValueError("slot positions must be one ascending "
                             "offset per slot")
        all_terms = [t for s in slots for t in s]
        stats = self.reader.term_statistics(sorted(set(all_terms)))
        # docFreq-0 members contribute neither postings nor idf
        # (MultiPhraseWeight skips them); a slot with NO present member
        # can never match
        slots = tuple(tuple(t for t in s if t in stats) for s in slots)
        if any(not s for s in slots):
            return empty
        present = sorted({t for s in slots for t in s})
        # per-field stats: a fielded phrase (composite terms) scores
        # with ITS field's docCount/avgdl and per-field norms
        anchor_term = slots[0][0]
        fdc, _ = self._field_params(anchor_term)
        ordered_terms = [t for s in slots for t in s]
        lm_probs: list = []
        g_sub = 0.0     # DFR basic-model-G summed subtractor
        if self.classic:
            weight = boost * sum(
                bm25.idf_classic(stats[t][0], fdc)
                for t in ordered_terms) ** 2
        elif self.score_kind in ("lmd", "lmjm", "ib", "boolean", "dfi",
                                 "indri", "ax3"):
            # LM/IB/DFI/Indri/F3 phrases: SimilarityBase builds one
            # BasicStats per member term and sums per-stat scores of
            # the SAME phrase freq (MultiSimScorer); boolean phrases
            # score the boost
            weight = float(boost)
            if self.score_kind in ("lmd", "lmjm", "dfi"):
                lm_probs = [self._collection_prob(t, ttf=stats[t][1])
                            for t in ordered_terms]
            elif self.score_kind == "indri":
                lm_probs = [self._collection_prob(t, ttf=stats[t][1],
                                                  indri=True)
                            for t in ordered_terms]
            elif self.score_kind == "ib":
                lm_probs = [bm25.ib_lambda(self.ib_params[1],
                                           stats[t][0], stats[t][1], fdc)
                            for t in ordered_terms]
                if self.ib_params[2] == "h3":
                    lm_probs = list(zip(lm_probs, [
                        self._collection_prob(t, ttf=stats[t][1])
                        for t in ordered_terms]))
            elif self.score_kind == "ax3":
                # per-member idf; gamma's boost factor is `boost`
                lm_probs = [
                    (bm25.axiomatic_f2exp_weight(stats[t][0], fdc,
                                                 self.ax_k)
                     if self.ax_variant == "exp"
                     else bm25.axiomatic_f2log_weight(stats[t][0], fdc))
                    for t in ordered_terms]
        elif self.score_kind == "dfr":
            # DFR factors doc-independently, so the MultiSimScorer sum
            # collapses into one summed weight (score = W*tfn/(1+tfn));
            # basic model G is affine in 1/(1+tfn) with a second summed
            # constant, and H3's tfn is term-dependent (per-member
            # pivots in lm_probs)
            bm_, ae, nrm_ = self.dfr_params
            if bm_ == "g":
                gw = [bm25.dfr_g_weight(ae, stats[t][0], stats[t][1], fdc)
                      for t in ordered_terms]
                weight = boost * sum(w for w, _ in gw)
                # summed subtractor: boost * sum(aeT*(B-A))
                g_sub = boost * sum(w * r for w, r in gw)
            else:
                weight = boost * sum(
                    bm25.dfr_weight(bm_, ae, stats[t][0], stats[t][1],
                                    fdc)
                    for t in ordered_terms)
            if nrm_ == "h3":
                lm_probs = [self._collection_prob(t, ttf=stats[t][1])
                            for t in ordered_terms]
        elif self.score_kind == "ax1":
            # F1's tf and length-norm factors are member-independent,
            # so the MultiSimScorer sum collapses into summed idf
            weight = boost * sum(
                (bm25.axiomatic_f2exp_weight(stats[t][0], fdc, self.ax_k)
                 if self.ax_variant == "exp"
                 else bm25.axiomatic_f2log_weight(stats[t][0], fdc))
                for t in ordered_terms)
        elif self.score_kind == "rawtf":
            # each member scores boost*phraseFreq
            weight = boost * len(ordered_terms)
        elif self.axiomatic:
            # F2EXP/F2LOG are doc-independent-factorable like DFR: the
            # MultiSimScorer sum collapses into one summed weight
            weight = boost * sum(
                (bm25.axiomatic_f2exp_weight(stats[t][0], fdc, self.ax_k)
                 if self.ax_variant == "exp"
                 else bm25.axiomatic_f2log_weight(stats[t][0], fdc))
                for t in ordered_terms)
        elif self.double_mode:
            weight = boost * sum(
                bm25.idf_double(stats[t][0], fdc) for t in ordered_terms)
        else:
            acc = 0.0
            for t in ordered_terms:
                acc += float(bm25.idf(stats[t][0], fdc))
            weight = float(np.float32(np.float32(boost) * np.float32(acc)))

        # skip-list hop: every match must hold >=1 member of the rarest
        # slot, so blocks whose doc range cannot overlap that slot's
        # (driver-side) block ranges are never shipped — sound for the
        # conjunction-of-slots semantics, and metadata-only
        blocks_all = self._blocks_for(present)
        if len(slots) > 1:
            rare_slot = min(slots,
                            key=lambda s: sum(stats[t][0] for t in s))
            rmeta = self._block_meta(list(rare_slot))
            if rmeta is not None and 0 < len(rmeta) <= self.DRIVER_RANGE_CAP:
                blocks_all = blocks_all.filter(
                    F.col("term").isin(list(rare_slot)) | _overlap_cond(
                        sorted(zip(rmeta["first_doc"].astype(int).tolist(),
                                   rmeta["last_doc"].astype(int).tolist())),
                        self.MAX_RANGE_INTERVALS))
        # one exchange: each block is keyed by every doc range its
        # [first_doc, last_doc] overlaps — at least one range per
        # shuffle partition, and ~BLOCK_SIZE estimated blocks per range
        n_ranges = max(
            int(self.spark.conf.get("spark.sql.shuffle.partitions")),
            -(-self._estimate_blocks(present) // codecs.BLOCK_SIZE))
        width = max(1, -(-next_doc_id(self.reader.manifest) // n_ranges))
        rng = F.explode(F.sequence(F.expr(f"first_doc div {width}"),
                                   F.expr(f"last_doc div {width}")))
        with_pf = (blocks_all.select("term", *POS_COLS, rng.alias("_r"))
                   .groupBy("_r")
                   .applyInPandas(
                       _phrase_range_kernel(
                           slots, slop, tuple(o - offs[0] for o in offs),
                           width, self.double_mode),
                       "doc_id long, norm_val long, pf double"))

        f_caches, f_avgdls = self._per_term_field_maps({anchor_term: 1.0})
        cache = f_caches.get(anchor_term, self.cache)
        k1, b = float(self.k1), float(self.b)
        avgdl = f_avgdls.get(anchor_term, float(self.avgdl))
        double_mode = self.double_mode
        from pyspark.sql.functions import pandas_udf

        if double_mode:
            ln = F.col("norm_val").cast("double")
            if self.classic and self.sweet_params is not None:
                # SweetSpot phrase: baselineTf(pf) * plateau-norm(len),
                # same codegen'd column shape as the classic branch
                lo, hi, sp, tb, tm = self.sweet_params
                tf_c = F.when(F.col("pf") <= F.lit(tm), F.lit(tb)) \
                    .otherwise(F.sqrt(F.greatest(
                        F.col("pf") + F.lit(tb * tb - tm), F.lit(0.0))))
                norm_c = F.lit(1.0) / F.sqrt(
                    F.lit(sp) * (F.abs(ln - F.lit(lo)) + F.abs(ln - F.lit(hi))
                                 - F.lit(hi - lo)) + F.lit(1.0))
                score_d = F.lit(weight) * tf_c * norm_c
            elif self.classic:
                score_d = (F.lit(weight) * F.sqrt(F.col("pf"))
                           / F.sqrt(F.greatest(ln, F.lit(1.0))))
            elif self.score_kind == "lmd":
                # per-member-term LMD of the phrase freq, summed
                # (MultiSimScorer), each component clamped at 0
                mu = self.mu
                comps = [F.greatest(F.lit(0.0), F.lit(weight) * (
                    F.log1p(F.col("pf") / F.lit(mu * p))
                    + F.log(F.lit(mu) / (ln + F.lit(mu)))))
                    for p in lm_probs]
                score_d = comps[0]
                for c in comps[1:]:
                    score_d = score_d + c
            elif self.score_kind == "lmjm":
                # per-member-term LMJM of the phrase freq, summed
                lam = self.lm_lambda
                comps = [F.lit(weight) * F.log1p(
                    F.lit(1.0 - lam) * F.col("pf")
                    / F.greatest(ln, F.lit(1.0)) / F.lit(lam * p))
                    for p in lm_probs]
                score_d = comps[0]
                for c in comps[1:]:
                    score_d = score_d + c
            elif self.score_kind == "dfi":
                # per-member-term DFI of the phrase freq, summed
                # (MultiSimScorer); freq <= expected contributes 0
                meas = self.dfi_measure
                comps = []
                for p in lm_probs:
                    e = F.greatest(F.lit(p) * ln, F.lit(1e-300))
                    if meas == "chi2":
                        m = (F.col("pf") - e) * (F.col("pf") - e) / e
                    elif meas == "sat":
                        m = (F.col("pf") - e) / e
                    else:
                        m = (F.col("pf") - e) / F.sqrt(e)
                    comps.append(F.when(
                        F.col("pf") > e,
                        F.lit(weight) * F.log2(m + F.lit(1.0)))
                        .otherwise(F.lit(0.0)))
                score_d = comps[0]
                for c in comps[1:]:
                    score_d = score_d + c
            elif self.score_kind in ("dfr", "ib"):
                # tfn normalization (H1/H2/H3/Z) as a column expr; H3's
                # pivot is per-member, so its tfn lives inside the comps
                nrm = (self.dfr_params[2] if self.score_kind == "dfr"
                       else self.ib_params[2])
                c_n = self.norm_z if nrm == "z" else self.norm_c
                n_mu = self.norm_mu
                safe_ln = F.greatest(ln, F.lit(1.0))

                def tfn_col(pivot: float = 0.0):
                    if nrm == "h1":
                        return (F.lit(c_n) * F.col("pf") * F.lit(avgdl)
                                / safe_ln)
                    if nrm == "h3":
                        return (F.lit(n_mu)
                                * (F.col("pf") + F.lit(n_mu * pivot))
                                / (safe_ln + F.lit(n_mu)))
                    if nrm == "z":
                        return F.col("pf") * F.pow(
                            F.lit(avgdl) / safe_ln, F.lit(c_n))
                    return F.col("pf") * F.log2(
                        F.lit(1.0) + F.lit(c_n * avgdl) / safe_ln)

                if self.score_kind == "dfr":
                    if self.dfr_params[0] == "g" and nrm == "h3":
                        # affine-in-1/(1+tfn) with per-member pivots:
                        # MultiSimScorer sum of aeT*(B - (B-A)/(1+tfn_p))
                        bm_, ae, _ = self.dfr_params
                        gw = [bm25.dfr_g_weight(ae, stats[t][0],
                                                stats[t][1], fdc)
                              for t in ordered_terms]
                        comps = [F.lit(boost * w)
                                 - F.lit(boost * w * r)
                                 / (F.lit(1.0) + tfn_col(p))
                                 for (w, r), p in zip(gw, lm_probs)]
                        score_d = comps[0]
                        for c in comps[1:]:
                            score_d = score_d + c
                    elif self.dfr_params[0] == "g":
                        tfn = tfn_col()
                        score_d = (F.lit(weight) - F.lit(g_sub)
                                   / (F.lit(1.0) + tfn))
                    elif nrm == "h3":
                        # linear basic models with per-member pivots:
                        # per-member weights, summed
                        bm_, ae, _ = self.dfr_params
                        ws = [boost * bm25.dfr_weight(
                            bm_, ae, stats[t][0], stats[t][1], fdc)
                            for t in ordered_terms]
                        comps = []
                        for w, p in zip(ws, lm_probs):
                            tfn = tfn_col(p)
                            comps.append(F.lit(w) * tfn
                                         / (F.lit(1.0) + tfn))
                        score_d = comps[0]
                        for c in comps[1:]:
                            score_d = score_d + c
                    else:
                        tfn = tfn_col()
                        # weight already sums the member Inf1-slopes
                        score_d = F.lit(weight) * tfn / (F.lit(1.0) + tfn)
                else:
                    # IB: lm_probs = lambda or (lambda, pivot) per member
                    comps = []
                    for p in lm_probs:
                        lam, piv = (p if isinstance(p, tuple)
                                    else (p, 0.0))
                        tfn = tfn_col(piv)
                        if self.ib_params[0] == "ll":
                            comps.append(F.lit(weight)
                                         * F.log1p(tfn / F.lit(lam)))
                        else:   # spl (cancellation-stable)
                            comps.append(F.lit(weight) * -F.log(
                                (F.expm1(tfn / (tfn + F.lit(1.0))
                                         * F.log1p(F.lit(-(1.0 - lam))))
                                 + F.lit(1.0 - lam)) / F.lit(1.0 - lam)))
                    score_d = comps[0]
                    for c in comps[1:]:
                        score_d = score_d + c
            elif self.score_kind == "indri":
                # per-member Indri-Dirichlet of the phrase freq, summed
                mu_i = self.mu
                comps = [F.lit(weight) * F.log(
                    (F.col("pf") + F.lit(mu_i * p)) / (ln + F.lit(mu_i)))
                    for p in lm_probs]
                score_d = comps[0]
                for c in comps[1:]:
                    score_d = score_d + c
            elif self.score_kind == "ax1":
                # summed-idf weight x shared tf x shared length norm
                s_ax = self.ax_s
                tf_c = F.lit(1.0) + F.log1p(
                    F.log(F.greatest(F.col("pf"), F.lit(1.0))))
                score_d = (F.lit(weight) * tf_c * F.lit(avgdl + s_ax)
                           / (F.lit(avgdl) + ln * F.lit(s_ax)))
            elif self.score_kind == "ax3":
                # per-member clamp(idf*tf - gamma), gamma shared
                s_ax, qlen = self.ax_s, self.ax_query_len
                tf_c = F.lit(1.0) + F.log1p(
                    F.log(F.greatest(F.col("pf"), F.lit(1.0))))
                gamma = ((ln - F.lit(float(qlen)))
                         * F.lit(s_ax * qlen / avgdl))
                comps = [F.greatest(
                    F.lit(0.0),
                    F.lit(boost) * (F.lit(idf_t) * tf_c - gamma))
                    for idf_t in lm_probs]
                score_d = comps[0]
                for c in comps[1:]:
                    score_d = score_d + c
            elif self.score_kind == "rawtf":
                score_d = F.lit(weight) * F.col("pf")
            elif self.score_kind == "boolean":
                score_d = F.lit(weight)
            else:
                score_d = (F.lit(weight) * F.col("pf")
                           / (F.col("pf") + k1 * ((1 - b) + b * ln / avgdl)))
            scored = with_pf.select(
                "doc_id", score_d.cast("double").alias("score"))
        else:
            @pandas_udf("double")
            def f32_score(pf: pd.Series, norm_val: pd.Series) -> pd.Series:
                inv = cache[norm_val.to_numpy(dtype=np.int64) & 0xFF]
                pf32 = pf.to_numpy(dtype=np.float32)
                w32 = np.float32(weight)
                s = w32 - w32 / (np.float32(1.0) + pf32 * inv)
                return pd.Series(s.astype(np.float64))

            scored = with_pf.select(
                "doc_id", f32_score("pf", "norm_val").cast("float")
                .alias("score"))
        return _collect(scored, k, after)

    # ------------------------------------------------------------------
    def _dismax_search(self, q: DisjunctionMaxQuery, k: int | None,
                       after: tuple[float, int] | None) -> DataFrame:
        """DisjunctionMaxQuery: every disjunct runs as its own scored
        sub-plan; one per-doc aggregation folds them with
        ``max + tie_breaker * (sum - max)``
        (``search/DisjunctionMaxScorer.java:51-64``).  The sub-plans
        union into a single (slot, doc_id, score) relation so the fold
        is one shuffle keyed by doc_id — no driver-side loop over
        results, and each disjunct keeps its own optimized plan
        (pruned term scan, phrase join, ...)."""
        parts = None
        for i, dq in enumerate(q.disjuncts):
            sub = self._search_inner(dq, k=None, prune=False).select(
                F.lit(i).alias("slot"), "doc_id",
                F.col("score").cast("double").alias("score"))
            parts = sub if parts is None else parts.unionByName(sub)
        if parts is None:
            return empty_df(self.spark, "doc_id long, score float")
        tb, boost = float(q.tie_breaker), float(q.boost)
        # a doc matching one disjunct through several union rows is
        # impossible (each sub-plan emits one row per doc), so max/sum
        # over the union are exactly the per-disjunct max/sum
        per = parts.groupBy("doc_id").agg(
            F.max("score").alias("mx"), F.sum("score").alias("sm"))
        score_type = "double" if self.double_mode else "float"
        scored = per.select(
            "doc_id",
            ((F.col("mx") + tb * (F.col("sm") - F.col("mx"))) * boost)
            .cast(score_type).alias("score"))
        return _collect(scored, k, after)

    def term_vector(self, doc_id: int, field: str = "content") -> DataFrame:
        """One document's (term, freq) pairs — ``TermVectors.get(doc)``
        (``index/TermVectors.java``, ``codecs/TermVectorsReader``),
        WITHOUT a stored per-doc vector: the postings blocks whose
        [first_doc, last_doc] range covers the doc are the only ones
        decoded (parquet min/max pruning on the block-range columns —
        the skip-list hop in reverse).  ``field`` selects the content
        field or an extra keyword/text field."""
        blocks = (self.reader.postings()
                  .filter((F.col("first_doc") <= int(doc_id))
                          & (F.col("last_doc") >= int(doc_id))))
        target = int(doc_id)
        want_field = field

        TV_SCHEMA = T.StructType([
            T.StructField("term", T.StringType()),
            T.StructField("freq", T.LongType()),
        ])

        def decode(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in it:
                terms, freqs = [], []
                for row in pdf.itertuples(index=False):
                    raw = row.term
                    if want_field == "content":
                        if FIELD_SEP in raw:
                            continue
                        t = raw
                    else:
                        if not raw.startswith(want_field + FIELD_SEP):
                            continue
                        t = raw.split(FIELD_SEP, 1)[1]
                    n = int(row.num_docs)
                    dids = codecs.decode_doc_ids(bytes(row.doc_gaps),
                                                 int(row.first_doc), n)
                    hit = np.searchsorted(dids, target)
                    if hit >= n or dids[hit] != target:
                        continue
                    fr = codecs.decode_freqs(bytes(row.freqs), n)
                    terms.append(t)
                    freqs.append(int(fr[hit]))
                yield pd.DataFrame({"term": terms,
                                    "freq": pd.array(freqs,
                                                     dtype="int64")})

        return blocks.select("term", "first_doc", "num_docs", "doc_gaps",
                             "freqs").mapInPandas(decode, TV_SCHEMA)

    def _join_search(self, q: JoinQuery, k: int | None,
                     after: tuple[float, int] | None) -> DataFrame:
        """JoinUtil.createJoinQuery execution: from-side matches join
        the docs table to read their join values, aggregate per value
        under the ScoreMode, then one equi-join back onto the docs
        table's to_field.  Both join keys are stored columns, so at
        scale this is the classic dim->fact semi-join Catalyst already
        optimizes (broadcast when the from side is small)."""
        docs = self.reader.docs()
        for f in (q.from_field, q.to_field):
            if f not in docs.columns:
                raise ValueError(f"join field '{f}' is not a stored "
                                 f"doc column")
        from_hits = self._search_inner(q.from_query, k=None, prune=False)
        if self.reader.has_deletes:
            # JoinUtil respects liveDocs on the from side: a deleted
            # from-doc must not project its join value into the
            # per-value score aggregation (ghost-doc matches)
            from_hits = from_hits.join(self.reader.tombstones(),
                                       "doc_id", "left_anti")
        vals = (from_hits
                .join(docs.select("doc_id",
                                  F.col(q.from_field).alias("_jv")),
                      "doc_id")
                .filter(F.col("_jv").isNotNull()))
        if q.score_mode == "none":
            agg = vals.select("_jv").distinct()                 .withColumn("_jscore", F.lit(float(q.boost)))
        elif q.score_mode == "max":
            agg = vals.groupBy("_jv").agg(
                (F.max("score") * q.boost).alias("_jscore"))
        elif q.score_mode == "total":
            agg = vals.groupBy("_jv").agg(
                (F.sum("score") * q.boost).alias("_jscore"))
        elif q.score_mode == "avg":
            agg = vals.groupBy("_jv").agg(
                (F.avg("score") * q.boost).alias("_jscore"))
        else:
            raise ValueError(f"unknown score_mode {q.score_mode!r}")
        score_type = "double" if self.double_mode else "float"
        scored = (docs.select("doc_id",
                              F.col(q.to_field).alias("_jv"))
                  .join(agg, "_jv")
                  .select("doc_id",
                          F.col("_jscore").cast(score_type)
                          .alias("score")))
        return _collect(scored, k, after)

    def _term_in_set_search(self, q: TermInSetQuery, k: int | None,
                            after: tuple[float, int] | None) -> DataFrame:
        """TermInSetQuery: one postings scan with the whole IN-set
        pushed into the bucket/term filters (``TermInSetQuery.java``'s
        seek-per-term TermsEnum loop, relationally).  Constant score;
        NOT clause-count-limited — a 100k-term set is still a single
        scan whose term filter prunes row groups."""
        terms = sorted(set(q.terms))
        score_type = "double" if self.double_mode else "float"
        matches = self.docs_for_terms(terms)
        scored = matches.select(
            "doc_id",
            F.lit(float(q.boost)).cast(score_type).alias("score"))
        if after is not None:
            s, d = after
            scored = scored.filter(
                (F.col("score") < float(s))
                | ((F.col("score") == float(s)) & (F.col("doc_id") > int(d))))
        if k is None:
            return scored
        return scored.orderBy(F.asc("doc_id")).limit(k)

    def _synonym_search(self, q: SynonymQuery, k: int | None,
                        after: tuple[float, int] | None) -> DataFrame:
        """Members merge into one pseudo-term: doc_freq = max over
        members, per-doc freq = sum over members, scored once
        (``SynonymQuery.java:212-228``)."""
        empty = empty_df(self.spark, "doc_id long, score float")
        stats = self.reader.term_statistics(sorted(set(q.terms)))
        present = [t for t in q.terms if t in stats]
        if not present:
            return empty
        merged_df = max(stats[t][0] for t in present)
        merged_ttf = sum(stats[t][1] for t in present)
        weight = self._idf_weight(q.boost, merged_df, self.doc_count,
                                  ttf=merged_ttf)
        # SynonymQuery merges term stats with totalTermFreq SUMMED
        # (``SynonymQuery.java:212-228``) — the LM collection prob /
        # IB lambda of the pseudo-term uses the merged stats
        if self.score_kind in ("lmd", "lmjm", "dfi"):
            syn_p = self._collection_prob(present[0], ttf=merged_ttf)
        elif self.score_kind == "indri":
            syn_p = self._collection_prob(present[0], ttf=merged_ttf,
                                          indri=True)
        elif self.score_kind == "ib":
            lam = bm25.ib_lambda(self.ib_params[1], merged_df,
                                 merged_ttf, self.doc_count)
            syn_p = ((lam, self._collection_prob(present[0],
                                                 ttf=merged_ttf))
                     if self.ib_params[2] == "h3" else lam)
        elif self.score_kind == "dfr" and (
                self.dfr_params[0] == "g" or self.dfr_params[2] == "h3"):
            basic, ae, norm = self.dfr_params
            ratio = bm25.dfr_g_weight(ae, merged_df, merged_ttf,
                                      self.doc_count)[1] \
                if basic == "g" else 0.0
            pivot = self._collection_prob(present[0], ttf=merged_ttf) \
                if norm == "h3" else 0.0
            syn_p = (ratio, pivot)
        elif self.score_kind == "ax3":
            syn_p = (bm25.axiomatic_f2exp_weight(merged_df,
                                                 self.doc_count, self.ax_k)
                     if self.ax_variant == "exp"
                     else bm25.axiomatic_f2log_weight(merged_df,
                                                      self.doc_count))
        else:
            syn_p = 0.0
        nscore = self._double_scorer()

        # decode raw (doc_id, freq, norm_val) for all member terms
        FREQ_SCHEMA = T.StructType([
            T.StructField("doc_id", T.LongType()),
            T.StructField("freq", T.LongType()),
            T.StructField("norm_val", T.LongType()),
        ])
        double_mode = self.double_mode

        def decode(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in it:
                outs = []
                for row in pdf.itertuples(index=False):
                    n = int(row.num_docs)
                    dids = codecs.decode_doc_ids(bytes(row.doc_gaps),
                                                 int(row.first_doc), n)
                    freqs = codecs.decode_freqs(bytes(row.freqs), n)
                    if double_mode:
                        norms = np.frombuffer(bytes(row.norms),
                                              dtype="<u4").astype(np.int64)
                    else:
                        norms = np.frombuffer(bytes(row.norms),
                                              dtype=np.uint8).astype(np.int64)
                    outs.append(pd.DataFrame(
                        {"doc_id": dids, "freq": freqs, "norm_val": norms}))
                yield pd.concat(outs) if outs else pd.DataFrame(
                    {"doc_id": [], "freq": [], "norm_val": []})

        decoded = self._blocks_for(present).select(*DECODE_COLS) \
            .mapInPandas(decode, FREQ_SCHEMA)
        merged = decoded.groupBy("doc_id").agg(
            F.sum("freq").alias("freq"), F.max("norm_val").alias("norm_val"))

        cache = self.cache
        k1, b, avgdl = float(self.k1), float(self.b), float(self.avgdl)
        from pyspark.sql.functions import pandas_udf

        classic = self.classic
        classic_fn = bm25.make_classic_scorer(self.sweet_params)
        kind, mu = self.score_kind, self.mu

        @pandas_udf("double")
        def syn_score(freq: pd.Series, norm_val: pd.Series) -> pd.Series:
            f = freq.to_numpy(dtype=np.float64)
            if double_mode:
                ln = norm_val.to_numpy(dtype=np.float64)
                if classic:
                    s = classic_fn(f, ln, weight)
                elif kind == "lmd":
                    s = bm25.score_term_lm_dirichlet(f, ln, weight,
                                                     syn_p, mu)
                elif kind == "boolean":
                    s = bm25.score_term_boolean(len(f), weight)
                elif nscore is not None:
                    s = nscore(f, ln, weight, syn_p)
                else:
                    s = weight * f / (f + k1 * ((1 - b) + b * ln / avgdl))
            else:
                s = bm25.score_term(
                    f, norm_val.to_numpy(dtype=np.uint8),
                    np.float32(weight), cache).astype(np.float64)
            return pd.Series(s)

        scored = merged.select(
            "doc_id", syn_score("freq", "norm_val")
            .cast("double" if double_mode else "float").alias("score"))
        return _collect(scored, k, after)

    def _combined_field_search(self, q: CombinedFieldQuery, k: int | None,
                               after: tuple[float, int] | None) -> DataFrame:
        """BM25F-simplified execution (``sandbox/search/
        CombinedFieldQuery.java:303-352`` + ``MultiNormsLeafSimScorer.
        java:140-153``): every (field, term) posting list feeds ONE
        pseudo-term — per-doc freq is the weighted tf sum, the norm is
        the weighted field-length sum, doc_freq is the max across all
        pairs and avgdl comes from weight-merged collection stats.
        Relationally: one IN-set postings scan -> weighted groupBy
        fold -> one join onto the docs table for lengths -> one BM25
        evaluation.  At scale the postings scan prunes to the term
        buckets and the docs join is keyed on doc_id (co-partitioned),
        so the plan is a semi-join + agg, no per-field re-scoring."""
        empty = self.spark.createDataFrame(
            [], f"doc_id long, score {'double' if self.double_mode else 'float'}")
        if self.score_kind != "bm25" or self.axiomatic:
            raise NotImplementedError(
                "CombinedFieldQuery is defined for the BM25 "
                "similarities (reference scores through BM25's "
                "(freq, norm) SimScorer)")
        fields = tuple(q.fields)
        for fld, _ in fields:
            if fld != "content" and fld not in self.text_fields:
                raise ValueError(
                    f"'{fld}' is not an analyzed text field "
                    f"(text_fields={sorted(self.text_fields)})")
        wmap: dict[str, float] = {}
        for fld, w in fields:
            for t in q.terms:
                key = t if fld == "content" else f"{fld}{FIELD_SEP}{t}"
                wmap[key] = float(w)
        stats = self.reader.term_statistics(sorted(wmap))
        present = [t for t in wmap if t in stats]
        if not present:
            return empty

        # merged term + collection statistics (max df / max docCount /
        # weighted sum_ttf with the reference's long-truncating fold)
        merged_df = max(stats[t][0] for t in present)
        doc_count, sum_ttf = 0, 0
        for fld, w in fields:
            if fld == "content":
                dc = self.doc_count
                sttf = self.reader.stats["sum_total_term_freq"]
            else:
                fs = (self.reader.manifest.get("field_stats") or {})[fld]
                dc, sttf = int(fs["doc_count"]), int(fs["sum_total_term_freq"])
            doc_count = max(doc_count, dc)
            sum_ttf = int(sum_ttf + float(w) * sttf)
        doc_count = max(doc_count, 1)
        double_mode = self.double_mode
        if double_mode:
            avgdl = sum_ttf / doc_count
            weight = q.boost * bm25.idf_double(merged_df, doc_count)
        else:
            avgdl = float(np.float32(np.float64(sum_ttf) / doc_count))
            weight = float(np.float32(
                np.float32(q.boost) * bm25.idf(merged_df, doc_count)))

        # one postings scan; each decoded (term, doc) row carries its
        # field weight into the freq fold
        WF_SCHEMA = T.StructType([
            T.StructField("doc_id", T.LongType()),
            T.StructField("wfreq", T.DoubleType()),
        ])
        wmap_bc = {t: wmap[t] for t in present}

        def decode(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in it:
                outs = []
                for row in pdf.itertuples(index=False):
                    w = wmap_bc.get(str(row.term))
                    if w is None:
                        continue
                    n = int(row.num_docs)
                    dids = codecs.decode_doc_ids(bytes(row.doc_gaps),
                                                 int(row.first_doc), n)
                    freqs = codecs.decode_freqs(bytes(row.freqs), n)
                    outs.append(pd.DataFrame(
                        {"doc_id": dids,
                         "wfreq": freqs.astype(np.float64) * w}))
                yield (pd.concat(outs) if outs
                       else pd.DataFrame({"doc_id": pd.array([], "int64"),
                                          "wfreq": pd.array([], "float64")}))

        decoded = self._blocks_for(present).select(*DECODE_COLS) \
            .mapInPandas(decode, WF_SCHEMA)
        merged = decoded.groupBy("doc_id").agg(F.sum("wfreq").alias("freq"))

        # combined norm = weighted sum of the doc's per-field lengths
        # (content length column + the field_lengths map), joined once
        docs = self.reader.docs()
        len_cols = []
        for fld, w in fields:
            src = (F.col("length") if fld == "content"
                   else F.coalesce(
                       F.element_at(F.col("field_lengths"), F.lit(fld)),
                       F.lit(0)))
            len_cols.append((float(w), src.cast("long")))
        if double_mode:
            ln_expr = sum((w * c for w, c in len_cols[1:]),
                          len_cols[0][0] * len_cols[0][1])
            lengths = docs.select("doc_id", ln_expr.alias("_cl"))
            scored = merged.join(lengths, "doc_id")
            k1, b = float(self.k1), float(self.b)
            scored = scored.select(
                "doc_id",
                (F.lit(weight) * F.col("freq")
                 / (F.col("freq") + k1 * ((1 - b) + b * F.col("_cl") / avgdl))
                 ).cast("double").alias("score"))
        else:
            # float32 path: per-field lengths go through the stored
            # byte4 norm (encode->decode), the weighted float32 sum is
            # rounded and re-encoded (MultiFieldNormValues.advanceExact)
            from lucene_1_spark.functions.smallfloat import (LENGTH_TABLE,
                                                             int_to_byte4)
            weights_arr = [w for w, _ in len_cols]
            raw_cols = [c.alias(f"_l{i}") for i, (_, c)
                        in enumerate(len_cols)]
            lengths = docs.select("doc_id", *raw_cols)
            scored = merged.join(lengths, "doc_id")
            cache = bm25.norm_inverse_cache(np.float32(avgdl),
                                            self.k1, self.b)
            n_fields = len(len_cols)
            from pyspark.sql.functions import pandas_udf

            @pandas_udf("float")
            def cf_score(*cols: pd.Series) -> pd.Series:
                f = cols[0].to_numpy(dtype=np.float64)
                norm = np.zeros(len(f), dtype=np.float32)
                for i in range(n_fields):
                    ln = cols[1 + i].to_numpy(dtype=np.int64)
                    dec = LENGTH_TABLE[int_to_byte4(ln)]
                    norm = (norm + np.float32(weights_arr[i]) * dec
                            ).astype(np.float32)
                # Math.round(float): floor(x + 0.5f) in float32
                nb = int_to_byte4(
                    np.floor((norm + np.float32(0.5)).astype(np.float32))
                    .astype(np.int64))
                s = bm25.score_term(f.astype(np.float32), nb,
                                    np.float32(weight), cache)
                return pd.Series(s.astype(np.float32))

            scored = scored.select(
                "doc_id",
                cf_score(F.col("freq"),
                         *[F.col(f"_l{i}") for i in range(n_fields)])
                .alias("score"))
        return _collect(scored, k, after)

    def _feature_search(self, q: FeatureQuery, k: int | None,
                        after: tuple[float, int] | None) -> DataFrame:
        """FeatureQuery execution (``FeatureQuery.java:42``): the
        feature is a stored numeric doc column (doc-values strategy —
        the reference's tf-encoded postings re-expressed); a doc
        matches iff its value is a positive finite number (values the
        reference could index at all), the value is quantized through
        the exact ``floatToIntBits >>> 15`` round-trip and scored by
        the chosen monotonic function.  One column scan + projection
        (no postings touched); composes as a SHOULD clause next to a
        text query through the any-Query-as-clause machinery."""
        from lucene_1_spark.functions import feature as feat

        src = self.reader.features()
        if src is None or q.feature not in src.columns:
            docs = self.reader.docs()
            if q.feature not in docs.columns:
                raise ValueError(
                    f"feature '{q.feature}' is neither an attached "
                    f"feature (maintenance.attach_features) nor a "
                    f"stored doc column")
            src = docs
        vals = (src.select("doc_id",
                           F.col(q.feature).cast("double").alias("_v"))
                .filter(F.col("_v").isNotNull() & (F.col("_v") > 0)
                        & ~F.isnan("_v")))
        pivot = q.pivot
        if q.function == "saturation" and pivot is None:
            # computePivotFeatureValue: decode(sum(tf)/df) over the
            # indexed (= positive) values — one tiny aggregate job
            from pyspark.sql.functions import pandas_udf

            @pandas_udf("long")
            def enc(v: pd.Series) -> pd.Series:
                return pd.Series(feat.encode_feature_value(
                    v.to_numpy(dtype=np.float64)))

            row = vals.select(enc("_v").alias("_t")) \
                .agg(F.sum("_t").alias("s"), F.count("_t").alias("n")) \
                .collect()[0]
            if not row["n"]:
                pivot = 1.0
            else:
                pivot = float(feat.decode_feature_value(
                    np.array([int(row["s"] // row["n"])]))[0])

        double_mode = self.double_mode
        w_eff = float(q.weight) * float(q.boost)
        fn, a, p = q.function, float(q.exp), pivot
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("double" if double_mode else "float")
        def fscore(v: pd.Series) -> pd.Series:
            s32 = feat.quantize(v.to_numpy(dtype=np.float64))
            if double_mode:
                s = s32.astype(np.float64)
                if fn == "linear":
                    out = w_eff * s
                elif fn == "log":
                    out = w_eff * np.log(a + s)
                elif fn == "saturation":
                    out = w_eff * (1.0 - p / (s + p))
                else:
                    pa = float(p) ** a
                    out = w_eff * (1.0 - pa / (np.power(s, a) + pa))
                return pd.Series(out)
            if fn == "linear":
                out = feat.score_linear(s32, w_eff)
            elif fn == "log":
                out = feat.score_log(s32, w_eff, a)
            elif fn == "saturation":
                out = feat.score_saturation(s32, w_eff, p)
            else:
                out = feat.score_sigmoid(s32, w_eff, p, a)
            return pd.Series(out)

        scored = vals.select("doc_id", fscore("_v").alias("score"))
        return _collect(scored, k, after)

    def _payload_search(self, q, k: int | None,
                        after: tuple[float, int] | None) -> DataFrame:
        """PayloadScoreQuery execution
        (``queries/payloads/PayloadScoreQuery.java`` +
        ``PayloadFunction.java``): decode the term's positions (block
        decode, same kernel as intervals), join the (doc_id, position,
        payload) side table, fold per doc with min/max/sum/first, and
        score payload-alone or payload x BM25 (includeSpanScore).
        Positions without payloads contribute nothing; a doc whose
        matched positions carry none scores 0 (PayloadFunction.docScore
        with zero payloads seen).  Needs a positions=True index."""
        if self.reader.cfg.get("positions") is not True:
            raise ValueError("PayloadScoreQuery needs a positions=True "
                             "index")
        pay = self.reader.payloads()
        if pay is None:
            raise ValueError("no payloads attached — see "
                             "maintenance.attach_payloads")
        dtype = "double" if self.double_mode else "float"
        empty = empty_df(self.spark, f"doc_id long, score {dtype}")
        term = q.term
        if q.field != "content":  # composite term key (_resolve_fields)
            if q.field not in self.keyword_fields \
                    and q.field not in self.text_fields:
                raise ValueError(f"field '{q.field}' is not indexed")
            term = f"{q.field}{FIELD_SEP}{q.term}"
        stats = self.reader.term_statistics([term])
        if term not in stats:
            return empty
        dec = self._blocks_for([term]).select(*POS_COLS).mapInPandas(
            self._decode_positions_kernel(), POSITIONS_SCHEMA)
        matched = dec.select(
            "doc_id", F.explode("positions").alias("position"))
        joined = matched.join(
            pay.select("doc_id", F.col("position").cast("int")
                       .alias("position"), "payload"),
            ["doc_id", "position"], "left")
        agg = {"min": F.min("payload"), "max": F.max("payload"),
               "sum": F.sum("payload"), "avg": F.avg("payload"),
               "first": F.min_by("payload", F.when(
                   F.col("payload").isNotNull(), F.col("position")))
               }[q.function]
        per_doc = joined.groupBy("doc_id").agg(
            F.coalesce(agg, F.lit(0.0)).alias("_p"))
        boost = float(q.boost)
        if q.include_span_score:
            base = self._search_inner(TermQuery(term), k=None,
                                       prune=False)
            scored = per_doc.join(base, "doc_id").select(
                "doc_id", (F.lit(boost) * F.col("_p") * F.col("score"))
                .cast(dtype).alias("score"))
        else:
            scored = per_doc.select(
                "doc_id",
                (F.lit(boost) * F.col("_p")).cast(dtype).alias("score"))
        return _collect(scored, k, after)

    # ------------------------------------------------------------------
    def _multi_term_predicate(self, q: MultiTermQuery) -> F.Column:
        """Term-dictionary predicate for a MultiTermQuery — the
        relational analog of the term-enum intersection
        (``search/MultiTermQuery.java:86-103``).  The dictionary scan
        reads only the tiny (term, doc_freq) table; term_stats files are
        written term-sorted so parquet row-group min/max stats prune
        non-matching ranges for prefix/range predicates."""
        col = F.col("term")
        if isinstance(q, PrefixQuery):
            return col.startswith(q.prefix)
        if isinstance(q, WildcardQuery):
            import re as _re2
            rx = "".join(".*" if ch == "*" else "." if ch == "?"
                         else _re2.escape(ch) for ch in q.pattern)
            return col.rlike(f"^(?:{rx})$")
        if isinstance(q, RegexpQuery):
            return col.rlike(f"^(?:{q.regex})$")
        if isinstance(q, FuzzyQuery):
            # sound prefilters BEFORE levenshtein so the dictionary scan
            # is not a full-dict edit-distance pass (the relational
            # stand-in for intersecting a Levenshtein automaton with the
            # term index, ``util/automaton/LevenshteinAutomata.java``):
            # |len(t) - len(q)| <= max_edits is necessary for any match
            # and is a cheap pushable predicate.
            n = len(q.term)
            pred = F.length(col).between(n - q.max_edits, n + q.max_edits) \
                & (F.levenshtein(col, F.lit(q.term)) <= q.max_edits)
            if q.prefix_length > 0:
                pred = col.startswith(q.term[:q.prefix_length]) & pred
            return pred
        if isinstance(q, TermRangeQuery):
            pred = F.lit(True)
            if q.lower is not None:
                pred = pred & (col >= q.lower if q.include_lower
                               else col > q.lower)
            if q.upper is not None:
                pred = pred & (col <= q.upper if q.include_upper
                               else col < q.upper)
            return pred
        raise NotImplementedError(f"multi-term query {type(q)}")

    def rewrite_multi_term(self, q: MultiTermQuery) -> Query:
        """Expand a MultiTermQuery against the term dictionary into an
        executable scored tree (see :class:`MultiTermQuery` docstring
        for the rewrite methods).

        Driver-materialization guards: ``top_terms_N`` selects its N
        survivors IN the scan (TakeOrderedAndProject — the
        TopTermsRewrite priority queue, ``search/TopTermsRewrite.java:
        56-103``); the unbounded rewrites collect at most
        MAX_CLAUSE_COUNT+1 rows (``.limit``), so an over-broad pattern
        fails fast instead of pulling the whole expansion to the
        driver first."""
        from lucene_1_spark.search import query as query_mod
        max_clauses = query_mod.MAX_CLAUSE_COUNT
        # content-field expansion only: composite keyword terms are
        # excluded from wildcard/prefix/fuzzy dictionaries
        scan = (self.reader.term_stats()
                .filter(~F.col("term").contains(FIELD_SEP))
                .filter(self._multi_term_predicate(q))
                .select("term", "doc_freq"))
        method = q.rewrite_method
        if method.startswith("top_terms_"):
            n = int(method.rsplit("_", 1)[1])
            # highest doc_freq first, term asc tie-break (TopTermsRewrite)
            rows = (scan.orderBy(F.desc("doc_freq"), F.asc("term"))
                    .limit(n).collect())
        else:
            rows = scan.limit(max_clauses + 1).collect()
        terms = sorted((r["term"], int(r["doc_freq"])) for r in rows)
        if len(terms) > max_clauses:
            raise ValueError(
                f"multi-term expansion too large: > {max_clauses} "
                f"matching terms (IndexSearcher.java:80)")
        if not terms:
            return MatchNoDocsQuery()

        def member_boost(term: str) -> float:
            if isinstance(q, FuzzyQuery) and q.boost_by_similarity:
                dist = _levenshtein(term, q.term)
                denom = min(len(term), len(q.term)) or 1
                return max(0.0, 1.0 - dist / denom)
            return 1.0

        if method == "constant_score":
            inner = BooleanQuery(tuple(
                Clause(TermQuery(t), Occur.SHOULD) for t, _ in terms))
            return ConstantScoreQuery(inner, q.boost)
        return BooleanQuery(tuple(
            Clause(TermQuery(t, q.boost * member_boost(t)), Occur.SHOULD)
            for t, _ in terms))

    def _expand_tree(self, q: Query) -> Query:
        """Replace every MultiTermQuery node with its dictionary
        expansion (one level of nesting inside BooleanQuery clauses is
        executable — see :meth:`_flatten`)."""
        if isinstance(q, MultiTermQuery):
            return self.rewrite_multi_term(q)
        if isinstance(q, CommonTermsQuery):
            return self._rewrite_common_terms(q)
        if isinstance(q, ComplexPhraseQuery):
            # ComplexPhraseQueryParser rewrite: expand each pattern
            # slot against the term dictionary; an empty expansion
            # empties the whole phrase (a required position with no
            # matching terms can never match)
            slots: list[tuple[str, ...]] = []
            for s in q.slots:
                if isinstance(s, TermQuery):
                    slots.append((s.term,))
                    continue
                terms = self.expand_terms(self._multi_term_predicate(s))
                if not terms:
                    return MatchNoDocsQuery()
                slots.append(tuple(terms))
            if len(slots) == 1:
                if len(slots[0]) == 1:
                    return TermQuery(slots[0][0], q.boost, q.field)
                return SynonymQuery(slots[0], q.boost)
            return MultiPhraseQuery(tuple(slots), q.boost, q.slop,
                                    q.field)
        if isinstance(q, BooleanQuery):
            new = tuple(Clause(self._expand_tree(c.query), c.occur)
                        for c in q.clauses)
            if all(a.query is b.query for a, b in zip(new, q.clauses)):
                return q
            return BooleanQuery(new, q.minimum_should_match)
        if isinstance(q, ConstantScoreQuery):
            inner = self._expand_tree(q.query)
            return q if inner is q.query else ConstantScoreQuery(inner, q.boost)
        if isinstance(q, DisjunctionMaxQuery):
            new = tuple(self._expand_tree(d) for d in q.disjuncts)
            if all(a is b for a, b in zip(new, q.disjuncts)):
                return q
            return DisjunctionMaxQuery(new, q.tie_breaker, q.boost)
        return q

    def _rewrite_common_terms(self, q: CommonTermsQuery) -> Query:
        """CommonTermsQuery rewrite — ``queries/CommonTermsQuery.java:
        146-206`` (buildQuery) + ``:116-138`` (msm encoding).  One term-
        stats seek classifies terms; the result is an ordinary boolean
        tree the relational executor already runs (nested groups become
        must_groups / complex sub-plans via :meth:`_flatten`).  The
        frequency cutoff uses the GLOBAL doc count, as the reference
        uses ``reader.maxDoc()``."""
        import math as _math
        stats = self.reader.term_statistics(sorted(set(q.terms)))
        max_doc = float(self.doc_count)
        frac_cut = _math.ceil(q.max_term_frequency * max_doc)
        low: list[str] = []
        high: list[str] = []
        for t in q.terms:
            df = int(stats.get(t, (0, 0))[0])
            if df <= 0:          # absent term: low-freq per reference
                low.append(t)    # (null TermStates branch, :151-153)
            elif ((q.max_term_frequency >= 1.0
                   and df > q.max_term_frequency)
                  or df > frac_cut):
                high.append(t)
            else:
                low.append(t)

        def _msm(value: float, n_opt: int) -> int:
            if value <= 0 or value >= 1:
                return int(value)
            return int(round(value * n_opt))

        low_occur, high_occur = q.low_freq_occur, q.high_freq_occur
        low_msm = _msm(q.low_freq_msm, len(low)) \
            if low_occur == Occur.SHOULD and low else 0
        high_msm = _msm(q.high_freq_msm, len(high)) \
            if high_occur == Occur.SHOULD and high else 0
        if not low:
            # all-stopword query: promote to conjunction (":178-183")
            if high_msm == 0 and high_occur != Occur.MUST:
                high_occur = Occur.MUST
        lb, hb = q.boost * q.low_freq_boost, q.boost * q.high_freq_boost
        low_bq = BooleanQuery(
            tuple(Clause(TermQuery(t, lb), low_occur) for t in low),
            minimum_should_match=low_msm) if low else None
        high_bq = BooleanQuery(
            tuple(Clause(TermQuery(t, hb), high_occur) for t in high),
            minimum_should_match=high_msm) if high else None
        if low_bq is None and high_bq is None:
            return MatchNoDocsQuery()
        if low_bq is None:
            return high_bq
        if high_bq is None:
            return low_bq
        return BooleanQuery((Clause(low_bq, Occur.MUST),
                             Clause(high_bq, Occur.SHOULD)))

    def expand_terms(self, predicate: F.Column) -> list[str]:
        """Multi-term query expansion — the MultiTermQuery rewrite
        (``search/MultiTermQuery.java:86-103``): scan the term
        dictionary with a predicate (startswith/like/rlike/levenshtein/
        between), return matching terms for a disjunction.  Guarded by
        the reference's 1024-clause limit."""
        from lucene_1_spark.search import query as query_mod
        max_clauses = query_mod.MAX_CLAUSE_COUNT
        rows = (self.reader.term_stats()
                .filter(~F.col("term").contains(FIELD_SEP))
                .filter(predicate)
                .select("term").limit(max_clauses + 1).collect())
        terms = sorted(r["term"] for r in rows)
        if len(terms) > max_clauses:
            raise ValueError(
                f"multi-term expansion too large: > {max_clauses}")
        return terms

    def docs_for_terms(self, terms: list[str]) -> DataFrame:
        """Distinct doc_ids containing any of the terms (constant-score
        multi-term execution: no freq decode, no scoring)."""
        if not terms:
            return empty_df(self.spark, "doc_id long")
        blocks = self._blocks_for(sorted(set(terms)))
        decoded = blocks.select(*DOCS_ONLY_COLS).mapInPandas(
            self._decode_kernel({}, want_scores=False), DECODED_SCHEMA)
        return decoded.select("doc_id").distinct()

    # ------------------------------------------------------------------
    def search(self, query: Query | str, k: int = 10, prune: bool = True,
               after: tuple[float, int] | None = None) -> list[dict]:
        """Top-k with stored fields: [{doc_id, score, repo, path, commit,
        doc_key}] — the stored-field retrieval join (SURVEY.md §2.1)."""
        top = self.search_df(query, k, prune=prune, after=after)
        docs = self.reader.docs()
        out = (F.broadcast(top).join(docs, "doc_id")
               .select("doc_id", "score", "repo", "path", "commit",
                       F.concat_ws("", F.col("repo"), F.lit("/"), F.col("path"),
                                   F.lit("@"), F.col("commit")).alias("doc_key"))
               .orderBy(F.desc("score"), F.asc("doc_id"))
               .collect())
        return [r.asDict() for r in out]

    # ------------------------------------------------------------------
    def _term_detail(self, term_key: str, doc_id: int,
                     weight: float) -> dict | None:
        """Per-term score breakdown for one doc: decode ONLY the block
        whose docID range holds the doc (partition-pruned, range-pruned
        metadata read), return freq/norm/weight/score — the
        ``Weight.explain`` leaf (``search/TermQuery.java:229-263``)."""
        rows = (self._blocks_for([term_key])
                .filter((F.col("first_doc") <= int(doc_id))
                        & (F.col("last_doc") >= int(doc_id)))
                .collect())
        for row in rows:
            n = int(row["num_docs"])
            dids = codecs.decode_doc_ids(bytes(row["doc_gaps"]),
                                         int(row["first_doc"]), n)
            hit = np.flatnonzero(dids == int(doc_id))
            if len(hit) == 0:
                continue
            i = int(hit[0])
            freq = int(codecs.decode_freqs(bytes(row["freqs"]), n)[i])
            if self.double_mode:
                lens = np.frombuffer(bytes(row["norms"]), dtype="<u4")
                norm_len = float(lens[i])
                _, avgdl_f = self._field_params(term_key)
                if self.classic:
                    s = float(bm25.make_classic_scorer(self.sweet_params)(
                        np.array([freq]), np.array([norm_len]), weight)[0])
                elif self.score_kind == "lmd":
                    s = float(bm25.score_term_lm_dirichlet(
                        np.array([freq]), np.array([norm_len]), weight,
                        self._collection_prob(term_key), self.mu)[0])
                elif self.score_kind == "boolean":
                    s = float(weight)
                elif self.score_kind in ("lmjm", "dfr", "ib", "dfi",
                                         "indri", "ax1", "ax3", "rawtf"):
                    aux = self._term_aux([term_key]).get(term_key, 0.0)
                    s = float(self._double_scorer()(
                        np.array([freq]), np.array([norm_len]),
                        weight, aux)[0])
                else:
                    s = float(bm25.score_term_double(
                        np.array([freq]), np.array([norm_len]), weight,
                        avgdl_f, float(self.k1), float(self.b))[0])
            else:
                norms = np.frombuffer(bytes(row["norms"]), dtype=np.uint8)
                caches, _ = self._per_term_field_maps({term_key: weight})
                from lucene_1_spark.functions.smallfloat import LENGTH_TABLE
                norm_len = float(LENGTH_TABLE[norms[i]])
                s = float(bm25.score_term(
                    np.array([freq]), norms[i:i + 1], np.float32(weight),
                    caches.get(term_key, self.cache))[0])
            return {"value": s, "freq": freq, "norm_len": norm_len,
                    "weight": float(weight),
                    "description": f"weight({term_key} in {doc_id}) "
                                   f"[freq={freq}, norm_len={norm_len:g}, "
                                   f"idf_weight={float(weight):g}]"}
        return None

    def _subplan_value(self, q: Query, doc_id: int) -> float | None:
        rows = (self._search_inner(q, k=None, prune=False)
                .filter(F.col("doc_id") == int(doc_id)).collect())
        return float(rows[0]["score"]) if rows else None

    def explain(self, query: Query | str, doc_id: int) -> dict:
        """Score explanation for one (query, doc) pair — the
        ``IndexSearcher.explain`` / ``Weight.explain`` tree
        (``search/IndexSearcher.java:919``): {match, value, description,
        details}.  ``value`` is arithmetically identical to the score
        ``search_df`` assigns the doc (float32 or double per the index
        similarity); non-matching docs explain as match=False, 0."""
        if isinstance(query, str):
            query = parse_query(query, self.reader.cfg["analyzer"],
                                self.keyword_fields, self.text_fields)
        query = rewrite_fixpoint(self._expand_tree(
            rewrite_fixpoint(self._resolve_fields(query))))

        if isinstance(query, (TermQuery, BooleanQuery)):
            fl = self._flatten(query)
            stats = self.reader.term_statistics(sorted(
                {t.term for t in fl.must + fl.should + fl.mnot + fl.filters}
                | {t.term for g in fl.must_groups + fl.filter_groups
                   for t in g}))
            details: list[dict] = []
            acc = 0.0
            matches = True

            def term_weight_of(t: TermQuery) -> float:
                fdc, _ = self._field_params(t.term)
                return self._idf_weight(t.boost, stats[t.term][0], fdc,
                                        ttf=stats[t.term][1])

            for occ, terms in (("MUST", fl.must), ("SHOULD", fl.should),
                               ("FILTER", fl.filters)):
                for t in terms:
                    d = (self._term_detail(t.term, doc_id,
                                           term_weight_of(t))
                         if t.term in stats else None)
                    if d is None:
                        if occ in ("MUST", "FILTER"):
                            matches = False
                        continue
                    d["occur"] = occ
                    if occ == "FILTER":
                        d["description"] += " (FILTER: not scored)"
                    else:
                        acc += d["value"]
                    details.append(d)
            for t in fl.mnot:
                if t.term in stats and \
                        self._term_detail(t.term, doc_id, 0.0) is not None:
                    matches = False
                    details.append({"value": 0.0, "occur": "MUST_NOT",
                                    "description":
                                        f"MUST_NOT({t.term}) matched"})
            for kind, groups in (("MUST", fl.must_groups),
                                 ("FILTER", fl.filter_groups)):
                for g in groups:
                    got = False
                    for t in g:
                        d = (self._term_detail(t.term, doc_id,
                                               term_weight_of(t))
                             if t.term in stats else None)
                        if d is not None:
                            got = True
                            d["occur"] = f"{kind}-group"
                            if kind == "MUST":
                                acc += d["value"]
                            details.append(d)
                    if not got:
                        matches = False
            for occ, cq in fl.complex:
                v = self._subplan_value(cq, doc_id)
                if v is None:
                    if occ in (Occur.MUST, Occur.FILTER):
                        matches = False
                    if occ == Occur.MUST_NOT:
                        continue
                    continue
                if occ == Occur.MUST_NOT:
                    matches = False
                    details.append({"value": 0.0, "occur": "MUST_NOT",
                                    "description": f"MUST_NOT({cq}) matched"})
                    continue
                if occ in (Occur.MUST, Occur.SHOULD):
                    acc += v
                details.append({"value": v, "occur": occ.value,
                                "description": f"sub-query {cq}"})
            if fl.msm > 0:
                should_hits = sum(
                    1 for d in details if d.get("occur") == "SHOULD")
                if should_hits < fl.msm:
                    matches = False
            if not details:
                matches = False
            if not matches:
                return {"match": False, "value": 0.0,
                        "description": "no match", "details": details}
            total = acc if self.double_mode else float(np.float32(acc))
            return {"match": True, "value": total,
                    "description": f"sum of ({type(query).__name__})",
                    "details": details}

        if isinstance(query, DisjunctionMaxQuery):
            # Lucene's "max plus <tie> times others of:" explanation
            # (DisjunctionMaxQuery.java disjunctExplanations)
            details = []
            vals = []
            for dq in query.disjuncts:
                v = self._subplan_value(dq, doc_id)
                if v is not None:
                    vals.append(v)
                    details.append({"value": v, "occur": "DISJUNCT",
                                    "description": f"disjunct {dq}"})
            if not vals:
                return {"match": False, "value": 0.0,
                        "description": "no match", "details": details}
            mx, sm = max(vals), sum(vals)
            total = (mx + query.tie_breaker * (sm - mx)) * query.boost
            if not self.double_mode:
                total = float(np.float32(total))
            return {"match": True, "value": total,
                    "description":
                        f"max plus {query.tie_breaker} times others of:",
                    "details": details}

        # phrase / synonym / constant-score / match-all leaves: value
        # from the node's own sub-plan (same arithmetic as search_df)
        v = self._subplan_value(query, doc_id)
        if v is None:
            return {"match": False, "value": 0.0,
                    "description": "no match", "details": []}
        return {"match": True, "value": v,
                "description": f"{type(query).__name__}", "details": []}

    def count(self, query: Query | str) -> int:
        """TotalHitCountCollector analog — exhaustive match set, no
        global sort (``search_df(k=None)`` is the unsorted collector).

        Short-circuits (``search/IndexSearcher.java:361-393`` count()):
        MatchAll -> live-doc count; a single TermQuery on a delete-free
        index -> the term's docFreq straight from the dictionary (no
        Spark job at all)."""
        if isinstance(query, str):
            query = parse_query(query, self.reader.cfg["analyzer"],
                                self.keyword_fields, self.text_fields)
        query = rewrite_fixpoint(self._resolve_fields(query))
        if isinstance(query, MatchNoDocsQuery):
            return 0
        if isinstance(query, MatchAllDocsQuery):
            return self.reader.n_live_docs()
        if isinstance(query, TermQuery) and not self.reader.has_deletes:
            stats = self.reader.term_statistics([query.term])
            return stats.get(query.term, (0, 0))[0]
        return self.search_df(query, k=None, prune=False).count()

    # ------------------------------------------------------------------
    def search_many(self, queries: dict[str, "Query | str"],
                    k: int = 10) -> DataFrame:
        """Execute MANY queries in ONE postings pass — the batch-query
        throughput design Spark makes natural (per-query collectors in
        the reference run serially; here every term's blocks are
        decoded once for ALL queries that use them).

        Plan: union of all queries' terms -> one partition-pruned block
        scan -> decode kernel emits (query_id, term, doc_id, score)
        with each query's own float32 weight (bit-identical arithmetic
        to the single-query path) -> one groupBy (query_id, doc_id)
        replays every query's boolean semantics via a broadcast clause
        table -> per-query top-k window.

        Flat term/boolean queries batch; phrase/synonym/constant-score/
        match-all/multi-term-group queries fall back to
        :meth:`search_df` and union in.  Returns (query_id, doc_id,
        score, rank), rank 1..k per query."""
        spark = self.spark
        flats: dict[str, _Flat] = {}
        fallback: dict[str, Query] = {}
        for qid, q in queries.items():
            if isinstance(q, str):
                q = parse_query(q, self.reader.cfg["analyzer"],
                                self.keyword_fields, self.text_fields)
            q = rewrite_fixpoint(self._expand_tree(
                rewrite_fixpoint(self._resolve_fields(q))))
            try:
                fl = self._flatten(q)
                if fl.must_groups or fl.filter_groups or fl.complex:
                    raise NotImplementedError
                flats[qid] = fl
            except NotImplementedError:
                fallback[qid] = q

        out_parts = []
        if flats:
            all_terms = sorted({t.term for fl in flats.values()
                                for t in fl.must + fl.should + fl.mnot
                                + fl.filters})
            stats = self.reader.term_statistics(all_terms)
            # roles per (query, term) + per-query requirements
            qweights: dict[str, list] = {}
            role_rows, meta_rows = [], []
            live_qids = []
            for qid, fl in flats.items():
                must = [t for t in fl.must if t.term in stats]
                if len(must) != len(fl.must):
                    continue  # a required term is absent: no hits
                filters = [t for t in fl.filters if t.term in stats]
                if len(filters) != len(fl.filters):
                    continue
                should = [t for t in fl.should if t.term in stats]
                mnot = [t for t in fl.mnot if t.term in stats]
                scoring = must + should
                if not scoring and not filters:
                    continue
                live_qids.append(qid)
                w_by_term: dict[str, float] = {}
                for t in scoring:
                    fdc, _ = self._field_params(t.term)
                    w = self._idf_weight(t.boost, stats[t.term][0], fdc,
                                         ttf=stats[t.term][1])
                    w_by_term[t.term] = w_by_term.get(t.term, 0.0) + w
                req = sorted({t.term for t in must}
                             | {t.term for t in filters})
                shd = sorted({t.term for t in should})
                mnt = sorted({t.term for t in mnot})
                for term in sorted(set(w_by_term) | set(req) | set(mnt)):
                    qweights.setdefault(term, []).append(
                        (qid, w_by_term.get(term, 0.0)))
                    role_rows.append((qid, term, term in req,
                                      term in shd, term in mnt))
                meta_rows.append((qid, len(req), fl.msm))

            if live_qids:
                blocks = self._blocks_for(sorted(qweights))
                decoded = blocks.select(*DECODE_COLS).mapInPandas(
                    self._batch_decode_kernel(qweights), BATCH_DECODED_SCHEMA)
                roles = F.broadcast(spark.createDataFrame(
                    role_rows, "query_id string, term string, "
                               "required boolean, is_should boolean, "
                               "is_mnot boolean"))
                meta = F.broadcast(spark.createDataFrame(
                    meta_rows, "query_id string, n_req long, msm long"))
                per_doc = (decoded.join(roles, ["query_id", "term"])
                           .groupBy("query_id", "doc_id")
                           .agg(F.sum(F.when(~F.col("is_mnot"),
                                             F.col("score")).otherwise(0.0))
                                .alias("score_d"),
                                F.sum(F.when(F.col("required"), 1)
                                      .otherwise(0)).alias("got_req"),
                                F.sum(F.when(F.col("is_should"), 1)
                                      .otherwise(0)).alias("got_should"),
                                F.max(F.when(F.col("is_mnot"), 1)
                                      .otherwise(0)).alias("mnot_hit"))
                           .join(meta, "query_id")
                           .filter((F.col("mnot_hit") == 0)
                                   & (F.col("got_req") >= F.col("n_req"))
                                   & (F.col("got_should") >= F.col("msm"))))
                score_type = "double" if self.double_mode else "float"
                scored = per_doc.select(
                    "query_id", "doc_id",
                    F.col("score_d").cast(score_type).alias("score"))
                if self.reader.has_deletes:
                    scored = scored.join(self.reader.tombstones(),
                                         "doc_id", "left_anti")
                out_parts.append(scored)

        for qid, q in fallback.items():
            out_parts.append(self.search_df(q, k=None)
                             .select(F.lit(qid).alias("query_id"),
                                     "doc_id", "score"))
        if not out_parts:
            return spark.createDataFrame(
                [], "query_id string, doc_id long, score float, rank long")
        allq = out_parts[0]
        for p in out_parts[1:]:
            allq = allq.unionByName(p)
        from pyspark.sql import Window as W
        w = W.partitionBy("query_id").orderBy(F.desc("score"),
                                              F.asc("doc_id"))
        return (allq.withColumn("rank", F.row_number().over(w).cast("long"))
                .filter(F.col("rank") <= k))

    def _batch_decode_kernel(self, qweights: dict[str, list]):
        """Like :meth:`_decode_kernel`, but each block is decoded ONCE
        and scored for EVERY (query, weight) attached to its term —
        float32 arithmetic identical to the single-query path."""
        cache = self.cache
        k1, b = float(self.k1), float(self.b)
        avgdl = float(self.avgdl)
        double_mode = self.double_mode
        classic = self.classic
        classic_fn = bm25.make_classic_scorer(self.sweet_params)
        kind, mu = self.score_kind, self.mu
        probs = self._term_aux(qweights)
        nscore = self._double_scorer()
        caches, avgdls = self._per_term_field_maps(qweights)

        def decode(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in it:
                qids_l, terms_l, dids_l, scores_l, counts = [], [], [], [], []
                for row in pdf.itertuples(index=False):
                    n = int(row.num_docs)
                    pairs = qweights.get(row.term, ())
                    if not pairs:
                        continue
                    dids = codecs.decode_doc_ids(bytes(row.doc_gaps),
                                                 int(row.first_doc), n)
                    freqs = norms = lens = None
                    for qid, wgt in pairs:
                        if wgt == 0.0:
                            s = np.zeros(n, dtype=np.float64)
                        else:
                            if freqs is None:
                                freqs = codecs.decode_freqs(bytes(row.freqs), n)
                                if double_mode:
                                    lens = np.frombuffer(bytes(row.norms),
                                                         dtype="<u4")
                                else:
                                    norms = np.frombuffer(bytes(row.norms),
                                                          dtype=np.uint8)
                            if double_mode:
                                if classic:
                                    s = classic_fn(freqs, lens, wgt)
                                elif kind == "lmd":
                                    s = bm25.score_term_lm_dirichlet(
                                        freqs, lens, wgt,
                                        probs[row.term], mu)
                                elif kind == "boolean":
                                    s = bm25.score_term_boolean(n, wgt)
                                elif nscore is not None:
                                    s = nscore(freqs, lens, wgt,
                                               probs.get(row.term, 0.0))
                                else:
                                    s = bm25.score_term_double(
                                        freqs, lens, wgt,
                                        avgdls.get(row.term, avgdl), k1, b)
                            else:
                                s = bm25.score_term(
                                    freqs, norms, np.float32(wgt),
                                    caches.get(row.term, cache)) \
                                    .astype(np.float64)
                        qids_l.append(qid)
                        terms_l.append(row.term)
                        dids_l.append(dids)
                        scores_l.append(s)
                        counts.append(n)
                if not dids_l:
                    yield pd.DataFrame({"query_id": [], "term": [],
                                        "doc_id": [], "score": []})
                    continue
                yield pd.DataFrame({
                    "query_id": np.repeat(np.asarray(qids_l, dtype=object),
                                          counts),
                    "term": np.repeat(np.asarray(terms_l, dtype=object),
                                      counts),
                    "doc_id": np.concatenate(dids_l),
                    "score": np.concatenate(scores_l),
                })

        return decode

    def knn_search(self, vectors: DataFrame, q, id_col: str = "doc_id",
                   vec_col: str = "embedding",
                   centroids=None, nprobe: int = 2,
                   assigned: DataFrame | None = None) -> DataFrame:
        """Execute a :class:`KnnVectorQuery` against a vectors table
        keyed by engine doc_id — pre-filtered kNN
        (``search/KnnFloatVectorQuery.java:46``): the filter sub-query
        runs through the normal boolean machinery, its doc set
        semi-joins the vector scan BEFORE any cosine arithmetic, then
        exact (or IVF partial-probe, when centroids are given) top-k
        runs among the survivors.  Returns (id_col, cosine)."""
        from lucene_1_spark.pipeline.similarity import knn_filtered_topk
        allowed = None
        if q.filter is not None:
            allowed = self.search_df(q.filter, k=None).select("doc_id")
        return knn_filtered_topk(
            vectors, list(q.query_vec), q.k, allowed=allowed,
            id_col=id_col, vec_col=vec_col, centroids=centroids,
            nprobe=nprobe, assigned=assigned)

    def _function_score_search(self, q: FunctionScoreQuery,
                               k: int | None) -> DataFrame:
        """FunctionScoreQuery execution
        (``queries/function/FunctionScoreQuery.java:40-120``): run the
        wrapped query exhaustively, bind ``score`` / referenced doc
        columns / ``boosted`` (boost-query membership as 0.0/1.0 via a
        left join against its match set), then evaluate ``source`` as
        the hit's new score.  Top-k compiles to TakeOrderedAndProject;
        the expression itself runs inside whole-stage codegen."""
        matches = self._search_inner(q.query, k=None)
        doc_cols = [c for c in self.reader.docs().columns
                    if c != "doc_id"]
        import re as _re
        idents = set(_re.findall(r"[A-Za-z_][A-Za-z0-9_]*", q.source))
        fields = [c for c in doc_cols if c in idents]
        out = matches
        if fields:
            out = out.join(self.reader.docs().select("doc_id", *fields),
                           "doc_id", "left")
        if q.boost_query is not None:
            bm = (self._search_inner(q.boost_query, k=None)
                  .select("doc_id", F.lit(1.0).alias("boosted")))
            out = (out.join(bm, "doc_id", "left")
                   .withColumn("boosted",
                               F.coalesce("boosted", F.lit(0.0))))
        out = out.withColumn(
            "score", F.expr(q.source)
            .cast("double" if self.double_mode else "float"))
        out = out.select("doc_id", "score")
        return _collect(out, k)

    def search_sorted(self, query: Query | str,
                      by: list[tuple[str, str]],
                      k: int | None = 10) -> DataFrame:
        """TopFieldCollector analog (``search/TopFieldCollector.java``,
        ``search/SortField.java:60-126``): hits ordered by stored
        fields instead of score, docID as the final tie-break
        (``SortField.FIELD_DOC``).  ``by`` = [(field, 'asc'|'desc')].
        Returns (doc_id, score, *fields); top-k compiles to
        TakeOrderedAndProject like the score path."""
        matches = self.search_df(query, k=None)
        fields = [f for f, _ in by]
        docs = self.reader.docs().select("doc_id", *fields)
        joined = matches.join(docs, "doc_id")
        order = [F.asc(f) if d.lower().startswith("a") else F.desc(f)
                 for f, d in by]
        order.append(F.asc("doc_id"))
        out = joined.orderBy(*order)
        return out.limit(k) if k is not None else out

    def search_sorted_expr(self, query: Query | str, expr: str,
                           k: int | None = 10, descending: bool = True,
                           fields: list[str] | None = None) -> DataFrame:
        """Expressions-module sort (``lucene/expressions/.../
        ExpressionRescorer.java``, ``SimpleBindings``): order hits by
        an ARBITRARY SQL expression over ``score`` and document fields
        — e.g. ``"0.3*score + 0.7*log(1 + priority)"``.  The reference
        JIT-compiles a JavaScript-ish expression to bytecode with
        bindings for score and doc values; here ``F.expr`` hands the
        string to Catalyst, which compiles it INTO whole-stage codegen
        — same contract, the optimizer is the expression compiler.
        Doc-values-updated fields are bound at their LATEST generation
        (``reader.docs()`` folds the dv_updates delta).  ``fields``
        overrides the referenced-column autodetect.  Returns
        (doc_id, score, sort_key, *fields) top-k via
        TakeOrderedAndProject."""
        matches = self.search_df(query, k=None)
        doc_cols = [c for c in self.reader.docs().columns
                    if c != "doc_id"]
        if fields is None:
            import re as _re
            idents = set(_re.findall(r"[A-Za-z_][A-Za-z0-9_]*", expr))
            fields = [c for c in doc_cols if c in idents]
        out = matches
        if fields:
            docs = self.reader.docs().select("doc_id", *fields)
            out = matches.join(docs, "doc_id")
        out = out.withColumn("sort_key", F.expr(expr).cast("double"))
        order = [F.desc("sort_key") if descending else F.asc("sort_key"),
                 F.asc("doc_id")]
        out = out.orderBy(*order)
        return out.limit(k) if k is not None else out
