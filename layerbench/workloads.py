"""The benchmark's workloads, each a single closed-loop client.

Every workload follows the same plan:

1. generate its inputs from the seed (no clock running);
2. set up: start the Spark session (the Python worker pool is warmed by
   ``get_spark``), build the workload's base index or graph once, open
   it, and run a few warm-up operations whose timings are discarded;
3. run the closed loop for the requested seconds, and on past them
   until it holds the samples its medians are taken over: each call
   waits for its result before the next one is sent;
4. check the answers (the correctness gates), outside the clock.

Set-up costs are paid once per process by a real user (JVM start,
worker spawn, first-job code generation, the first reader's memo
fill), so they are charged to ``setup_s`` and kept out of the loop
latencies.  ``setup_s`` is the session start plus the one, cold, base
build plus the warm-up.
"""

from __future__ import annotations

import os
import re
import shutil
import sys
import time
import traceback

import numpy as np

import gen
import stats
from spans import Tracer

NPROC = len(os.sched_getaffinity(0))   # what `nproc` prints
K = 10
BATCH_SIZE = 30
# One pass of the query loop holds exactly the samples below, the
# phrase queries, HNSW searches and batches spread over it; the loop
# starts another pass only while the window is open.  At the latencies
# of a 4-core host (boolean ~0.4-0.9 s, phrase ~2 s, HNSW ~0.45 s, warm
# batch ~1.6-2 s) a pass takes 9-18 s.
QUERY_CYCLE = ("bool", "batch", "bool", "knn", "bool", "phrase", "bool",
               "knn", "bool", "bool", "knn", "bool", "batch", "bool",
               "phrase", "bool", "knn", "bool")
RECALL_SAMPLE = 4   # HNSW answers checked against exact cosine top-k
# Samples every window must hold; the loop runs on past ``--seconds``
# until it has them, up to LOOP_CAP times the window, and a shortfall
# counts as a failed check.  The medians are taken over exactly these
# first samples, so their composition does not depend on the host's
# speed: for booleans the first ten of ``gen.QUERY_CLASSES`` after the
# warm-up's (3 term, 3 OR, 2 AND, 1 mixed, 1 partial miss), for phrases
# one exact and one sloppy.
BOOL_SAMPLES = 10
PHRASE_SAMPLES = 2
KNN_SAMPLES = 4
BATCH_SAMPLES = 2
LOOP_CAP = 5.0
# ingest: the merge policy's segments-per-tier budget, kept below the
# segment count an append leaves so that every iteration merges; the
# batches appended in warm-up; the batches generated (more than a window
# can reach); fresh-reader queries after each iteration's commits; the
# iterations the ingest medians are taken over (the first two: the
# first merge of a run is smaller than the second, so a fixed count
# keeps the mix the same in every run)
SEGS_PER_TIER = 2
WARM_BATCHES = 1
MAX_BATCHES = 16
QUERIES_PER_COMMIT = 4
INGEST_ITERATIONS = 2

# Sizes.  A sizing run on a 4-core host (one session, positions index,
# warm JVM) gave:
#
#   docs   build  boolean p50  plan  collect  blocks/query  decode est.
#    3000  5.1 s     355 ms    84 ms  303 ms        30        0.6 ms
#   10000  3.8 s     312 ms    75 ms  280 ms        90        2.1 ms
#   20000  5.4 s     304 ms    66 ms  273 ms       177        4.3 ms
#
# Query latency is set by Spark job scheduling, not corpus size, over
# this range, and the estimated decode share of a query stays under
# 1.5 % at any of these sizes (the traced run reports it as
# ``search.executor.decode_share_est``).  What the size does move is
# the run's wall time: the cold build (9.5 s at 3000 documents, 12 s at
# 10000 on a loaded host) and the brute-force oracle the gates use
# (~1 s and 63 ms a query at 3000 documents, 1.8 s and the same per
# query at 10000).  Every run, set-up and gates included, has to stay
# well under ~70 s, so the query corpus is the smallest of the three.
# The ingest base is small so that one iteration (append, merge,
# delete, fresh reader) takes 5-12 s; a batch is a tenth of it.  The
# vectors give an HNSW graph that builds in 1-2 s and a search that,
# like a text query, is bound by Spark job scheduling (0.3-0.5 s).
SIZES = {
    "query_docs": 3000,
    "ingest_base_docs": 1000,
    "ingest_batch_docs": 100,
    "ingest_marked_docs": 3,
    "knn_vectors": 2000,
    "knn_dim": 32,
    "knn_clusters": 24,
}


def now() -> float:
    return time.perf_counter()


def first_p50(values: list[float], first: int | None = None) -> float:
    """Median of the first ``first`` values (all by default); 0 when
    there are none, which only a run with failed operations reports."""
    values = values[:first]
    return stats.median(values) if values else 0.0


class Run:
    """State of one benchmark run: session, tracer, samples, gates."""

    def __init__(self, seed: int, seconds: float, traced: bool, work: str):
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.work = work
        self.tracer = Tracer(traced)
        self.spark = None
        self.session_s = 0.0
        self.attempted = 0
        self.failed = 0
        self.samples: dict[str, list[float]] = {}
        self.layer: dict[str, float] = {}
        self.info: dict[str, object] = {}
        self.window = (0.0, 0.0)
        self.window_overhead = 0.0
        self.phases: dict[str, float] = {}   # phase name -> end time

    # -- session ----------------------------------------------------------
    def start_session(self) -> None:
        from lucene_1_spark import get_spark
        t0 = now()
        self.phases["inputs"] = t0
        with self.tracer.span("session.start"):
            self.spark = get_spark("layerbench", cores=NPROC,
                                   shuffle_partitions=NPROC)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_s = now() - t0
        self.tracer.sc = self.spark.sparkContext
        self.layer["session.start_s"] = self.session_s
        self.phases["session"] = now()

    # -- operations and gates -----------------------------------------------
    def op(self, kind: str, fn, *args):
        """Run one operation of the closed loop: a top-level span, its
        latency recorded under ``kind`` when it succeeds.  A raised
        error counts as a failed operation and the loop goes on."""
        self.tracer.new_op()
        self.attempted += 1
        t0 = now()
        try:
            with self.tracer.span("op." + kind):
                out = fn(*args)
        except Exception:
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            return None
        self.samples.setdefault(kind, []).append((now() - t0) * 1000.0)
        return out

    def gate(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"GATE FAILED {name}: {detail}", file=sys.stderr)

    def loop(self, step, enough) -> None:
        """Call ``step(i)`` until the window closes and ``enough()``
        holds, or until LOOP_CAP times the window has passed."""
        o0 = self.tracer.overhead
        start = now()
        self.phases["setup"] = start
        end, cap = start + self.seconds, start + LOOP_CAP * self.seconds
        i = 0
        while now() < end or (not enough() and now() < cap):
            step(i)
            i += 1
        self.window = (start, now())
        self.phases["window"] = self.window[1]
        self.window_overhead = self.tracer.overhead - o0
        self.info["loop_steps"] = i
        self.gate("window holds its samples", enough(),
                  f"too few samples after {i} steps")

    def p50(self, kind: str, first: int | None = None) -> float:
        return first_p50(self.samples.get(kind, []), first)

    # -- traced-run summaries -------------------------------------------------
    def spans(self, name: str, in_window: bool = True) -> list:
        """Spans of ``name``; by default only those of the timed loop."""
        start, end = self.window
        return [s for s in self.tracer.named(name)
                if not in_window or (s.start >= start and s.end <= end)]

    def span_p50_ms(self, name: str, self_only: bool = False,
                    in_window: bool = True) -> float:
        sps = self.spans(name, in_window)
        if not sps:
            return 0.0
        vals = [(self.tracer.self_seconds(s) if self_only
                 else s.end - s.start) * 1000.0 for s in sps]
        return stats.median(vals)

    def per_op_total(self, name: str, attr: str) -> float:
        sps = self.spans(name)
        if not sps:
            return 0.0
        return sum(self.tracer.total(s, attr) for s in sps) / len(sps)


# ---------------------------------------------------------------------------
# shared layer calls
# ---------------------------------------------------------------------------

def write_parquet(pdf, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pdf.to_parquet(path, index=False)
    return path


def index_config(positions: bool):
    from lucene_1_spark.index.builder import IndexConfig
    return IndexConfig(n_buckets=NPROC, n_doc_partitions=NPROC,
                       positions=positions)


def timed(fn) -> float:
    t0 = now()
    fn()
    return now() - t0


def build(run: Run, src: str, index_dir: str, cfg) -> None:
    """One bulk build from parquet.  The traced run wraps IndexBuilder's
    two public stages on the instance."""
    from lucene_1_spark.index import IndexBuilder
    b = IndexBuilder(run.spark, index_dir, cfg)
    tr = run.tracer
    if tr.enabled:
        for stage in ("build_fused", "build_stats"):
            orig = getattr(b, stage)

            def wrapped(*a, _orig=orig, _name=stage, **kw):
                with tr.span("index.builder." + _name):
                    return _orig(*a, **kw)
            setattr(b, stage, wrapped)
    with tr.span("index.builder.build"):
        b.build(run.spark.read.parquet(src))
    if tr.enabled:
        inodes = stats.inode_map(index_dir)
        run.layer["index.builder.files_written"] = len(inodes)
        run.layer["index.builder.index_bytes"] = sum(inodes.values())


def builder_layers(run: Run) -> None:
    tr = run.tracer
    for stage in ("build_fused", "build_stats"):
        run.layer[f"index.builder.{stage}_s"] = run.span_p50_ms(
            f"index.builder.{stage}", in_window=False) / 1000.0
    builds = tr.named("index.builder.build")
    run.layer["index.builder.jobs"] = stats.median(
        [tr.total(s, "jobs") for s in builds])
    run.layer["index.builder.stages"] = stats.median(
        [tr.total(s, "stages") for s in builds])


class ReaderProbe:
    """Wraps a reader's term-dictionary and block-metadata seeks on the
    instance, counting lookups the reader's per-snapshot memo answered."""

    def __init__(self):
        self.lookups = 0
        self.hits = 0

    def attach(self, reader, tracer: Tracer) -> None:
        if not tracer.enabled:
            return
        for meth, memo in (("term_statistics", "_ts_cache"),
                           ("block_meta_arrow", "_bm_cache")):
            orig = getattr(reader, meth)

            def wrapped(terms, *a, _orig=orig, _memo=memo, _meth=meth, **kw):
                cache = reader.__dict__.get(_memo, {})
                self.lookups += len(terms)
                self.hits += sum(1 for t in terms if t in cache)
                with tracer.span("index.reader." + _meth):
                    return _orig(terms, *a, **kw)
            setattr(reader, meth, wrapped)


def open_searcher(run: Run, index_dir: str, probe: ReaderProbe):
    from lucene_1_spark.index import IndexReader
    from lucene_1_spark.search import IndexSearcher
    with run.tracer.span("index.reader.open"):
        reader = IndexReader(run.spark, index_dir)
        probe.attach(reader, run.tracer)
        return IndexSearcher(reader)


def run_query(run: Run, searcher, text: str) -> list[tuple[int, float]]:
    """parse + rewrite, plan (``search_df``), collect — one span each."""
    from lucene_1_spark.search.query import parse_query, rewrite_fixpoint
    tr = run.tracer
    with tr.span("search.query.parse"):
        q = rewrite_fixpoint(parse_query(text,
                                         searcher.reader.cfg["analyzer"]))
    with tr.span("search.executor.plan"):
        df = searcher.search_df(q, k=K)
    with tr.span("search.executor.collect"):
        rows = df.collect()
    return [(int(r["doc_id"]), float(np.float32(r["score"]))) for r in rows]


def run_batch(run: Run, searcher, texts: list[str]) \
        -> list[tuple[str, list[tuple[int, float]]]]:
    """(query, answer) per query; a query may occur twice in a batch."""
    with run.tracer.span("search.executor.batch"):
        rows = searcher.search_many({str(i): t for i, t in enumerate(texts)},
                                    k=K).collect()
    out: list[list] = [[] for _ in texts]
    for r in sorted(rows, key=lambda r: (int(r["query_id"]), int(r["rank"]))):
        out[int(r["query_id"])].append(
            (int(r["doc_id"]), float(np.float32(r["score"]))))
    return list(zip(texts, out))


def reader_layers(run: Run, probe: ReaderProbe, n_queries: int,
                  opened_in_loop: bool) -> None:
    run.layer["index.reader.open_ms"] = run.span_p50_ms(
        "index.reader.open", in_window=opened_in_loop)
    for meth, key in (("term_statistics", "term_statistics_ms"),
                      ("block_meta_arrow", "block_meta_ms")):
        total = sum(s.end - s.start for s in run.spans("index.reader." + meth))
        run.layer["index.reader." + key] = \
            total * 1000.0 / n_queries if n_queries else 0.0
    run.layer["index.reader.memo_hit_share"] = \
        probe.hits / probe.lookups if probe.lookups else 0.0


def check_gate(run: Run, index_dir: str) -> None:
    """CheckIndex must pass on the index as the run leaves it."""
    from lucene_1_spark.index import IndexReader
    from lucene_1_spark.index.check import check_index
    report = check_index(IndexReader(run.spark, index_dir))
    bad = {k: v for k, v in report.items() if not v[0]}
    run.gate("check_index", not bad, str(bad))


def query_terms(text: str) -> list[str]:
    from lucene_1_spark.analysis import get_analyzer
    return get_analyzer("standard").tokens(re.sub(r'[+"]|~\d+', " ", text))


def postings_dir(run: Run, index_dir: str) -> str:
    from lucene_1_spark.index import IndexReader
    return IndexReader(run.spark, index_dir).table_path("postings")


def blocks_per_query(postings: str, texts: list[str]) -> float:
    """Posting-block rows of the queries' terms, per query, read from
    the postings table's term column (each block is one row)."""
    import pyarrow.dataset as ds
    terms = sorted({t for x in texts for t in query_terms(x)})
    if not texts or not terms:
        return 0.0
    tbl = ds.dataset(postings, format="parquet", partitioning="hive") \
        .to_table(columns=["term"], filter=ds.field("term").isin(terms))
    vals, counts = np.unique(np.asarray(tbl.column("term").to_pylist(),
                                        dtype=object), return_counts=True)
    rows = dict(zip(vals, counts))
    return sum(int(rows.get(t, 0)) for x in texts
               for t in query_terms(x)) / len(texts)


def codec_layers(run: Run, postings: str) -> None:
    """Encode, decode and score throughput on the workload's own blocks;
    the decode must give back what was encoded."""
    import pyarrow.dataset as ds
    from lucene_1_spark.functions import bm25, codecs
    tbl = ds.dataset(postings, format="parquet", partitioning="hive").head(
        4000, columns=["first_doc", "num_docs", "doc_gaps", "freqs", "norms"])
    blocks = list(zip(tbl.column("first_doc").to_pylist(),
                      tbl.column("num_docs").to_pylist(),
                      tbl.column("doc_gaps").to_pylist(),
                      tbl.column("freqs").to_pylist(),
                      tbl.column("norms").to_pylist()))
    t0 = now()
    decoded = [(codecs.decode_doc_ids(g, fd, n), codecs.decode_freqs(f, n))
               for fd, n, g, f, _ in blocks]
    t_dec = now() - t0
    t0 = now()
    encoded = [(codecs.encode_doc_gaps(d), codecs.encode_freqs(f))
               for d, f in decoded]
    t_enc = now() - t0
    same = all(np.array_equal(codecs.decode_doc_ids(g, fd, n), d)
               and np.array_equal(codecs.decode_freqs(f, n), fq)
               for (fd, n, *_), (g, f), (d, fq)
               in zip(blocks, encoded, decoded))
    run.gate("codecs.roundtrip", same, "re-encoded blocks decode differently")
    # the BM25 curve costs the same whatever the collection statistics,
    # so any average length and weight will do
    cache = bm25.norm_inverse_cache(np.float32(100.0), np.float32(1.2),
                                    np.float32(0.75))
    norms = [np.frombuffer(nb, dtype=np.uint8) for *_, nb in blocks]
    w = np.float32(1.5)
    t0 = now()
    for (_, fq), nb in zip(decoded, norms):
        bm25.score_term(fq, nb, w, cache)
    t_score = now() - t0
    n_post = sum(n for _, n, *_ in blocks)
    run.layer["functions.codecs.decode_blocks_per_s"] = len(blocks) / t_dec
    run.layer["functions.codecs.encode_blocks_per_s"] = len(blocks) / t_enc
    run.layer["functions.bm25.score_postings_per_s"] = n_post / t_score


def analysis_layer(run: Run, pdf) -> None:
    from lucene_1_spark.analysis import get_analyzer
    an = get_analyzer("standard")
    texts = pdf["content"].tolist()[:400]
    t0 = now()
    n = sum(len(an.tokens(t)) for t in texts)
    run.layer["analysis.tokens_per_s"] = n / (now() - t0)


def search_layers(run: Run, op_names: list[str]) -> None:
    run.layer["search.query.parse_ms"] = run.span_p50_ms("search.query.parse")
    run.layer["search.executor.plan_ms"] = \
        run.span_p50_ms("search.executor.plan")
    run.layer["search.executor.plan_self_ms"] = \
        run.span_p50_ms("search.executor.plan", self_only=True)
    run.layer["search.executor.collect_p50_ms"] = \
        run.span_p50_ms("search.executor.collect")
    ops = [s for name in op_names for s in run.spans(name)]
    for attr in ("jobs", "stages", "tasks"):
        run.layer[f"search.executor.{attr}_per_query"] = \
            sum(run.tracer.total(s, attr) for s in ops) / len(ops) \
            if ops else 0.0


# ---------------------------------------------------------------------------
# query: a warm read-only session over a text index and an HNSW graph
# ---------------------------------------------------------------------------

def build_graph(run: Run, vec_path: str, graph_dir: str) -> None:
    from lucene_1_spark.pipeline.hnsw import hnsw_build
    with run.tracer.span("pipeline.hnsw.build"):
        hnsw_build(run.spark.read.parquet(vec_path), m=8, ef_construction=64,
                   n_partitions=NPROC).write.parquet(graph_dir)


def hnsw_ids(run: Run, graph, vec) -> list[int]:
    from lucene_1_spark.pipeline.hnsw import hnsw_search
    with run.tracer.span("pipeline.hnsw.search"):
        rows = hnsw_search(graph, vec.tolist(), k=K, ef=64).collect()
    return [int(r["vec_id"]) for r in rows]


def exact_ids(run: Run, emb, vec) -> list[int]:
    from lucene_1_spark.pipeline.similarity import cosine_topk
    with run.tracer.span("pipeline.similarity.cosine_topk"):
        rows = cosine_topk(emb, vec.tolist(), k=K).collect()
    return [int(r["vec_id"]) for r in rows]


def exact_topk(base: np.ndarray, vec: np.ndarray) -> list[int]:
    """Exact cosine top-k over the generated vectors, in the order
    ``cosine_topk`` gives: cosine rounded to six places, descending,
    ties by id.  Computed here, not by a Spark job, so that the recall
    check costs a run no time."""
    cos = base @ vec / (np.linalg.norm(base, axis=1) * np.linalg.norm(vec))
    order = np.lexsort((np.arange(len(base)), -np.round(cos, 6)))
    return [int(i) for i in order[:K]]


def query(run: Run) -> dict:
    import pandas as pd
    from lucene_1_spark import oracle
    n_docs, n_vec = SIZES["query_docs"], SIZES["knn_vectors"]
    pdf = gen.corpus(run.seed, n_docs)
    src = write_parquet(pdf, os.path.join(run.work, "src", "corpus.parquet"))
    bools = gen.boolean_queries(run.seed, 4000)
    phrases = gen.phrase_queries(run.seed, 1000, n_docs)
    base, vqs = gen.clustered_vectors(run.seed, n_vec, SIZES["knn_dim"],
                                      SIZES["knn_clusters"], 1000)
    vec_path = write_parquet(
        pd.DataFrame({"vec_id": np.arange(n_vec, dtype=np.int64),
                      "embedding": list(base)}),
        os.path.join(run.work, "src", "vectors.parquet"))

    # the batch every search_many call sends: the first 30 boolean
    # queries of the timed stream, which the single-query stream sends
    # first, so that batch rows and single answers meet
    batch = [t for _, t in bools[1:1 + BATCH_SIZE]]
    sloppy = {t for c, t in phrases if c == "sloppy_phrase"}

    run.start_session()
    cfg = index_config(positions=True)
    idx = os.path.join(run.work, "index")
    build_s = timed(lambda: build(run, src, idx, cfg))
    graph_dir = os.path.join(run.work, "graph")
    graph_s = timed(lambda: build_graph(run, vec_path, graph_dir))
    run.info["build_s"] = {"index": round(build_s, 3),
                           "graph": round(graph_s, 3)}
    t0 = now()
    probe = ReaderProbe()
    searcher = open_searcher(run, idx, probe)
    graph = run.spark.read.parquet(graph_dir)
    answers: dict[str, list] = {}
    # first-call costs of each path; the batch runs once so that every
    # timed batch meets the same warm reader memo
    for _cls, text in (bools[0], phrases[0]):
        answers[text] = run_query(run, searcher, text)
    run_batch(run, searcher, batch)
    hnsw_ids(run, graph, vqs[0])
    run.info["warmup_s"] = round(now() - t0, 3)
    setup_s = run.session_s + build_s + graph_s + (now() - t0)
    probe.lookups = probe.hits = 0    # count the timed loop only
    nxt = {"bool": 1, "phrase": 1, "vec": 1}
    batch_answers: list[list] = []
    knn_answers: dict[int, list[int]] = {}
    in_order: dict[str, list[float]] = {"bool": [], "phrase": []}

    def step(i: int) -> None:
        kind = QUERY_CYCLE[i % len(QUERY_CYCLE)]
        if kind == "batch":
            t0 = now()
            got = run.op("batch", run_batch, run, searcher, batch)
            if got is not None:
                run.samples.setdefault("batch_qps", []).append(
                    len(batch) / (now() - t0))
                batch_answers.append(got)
        elif kind == "knn":
            qi = nxt["vec"] % len(vqs)
            nxt["vec"] += 1
            got = run.op("knn", hnsw_ids, run, graph, vqs[qi])
            if got is not None:
                knn_answers[qi] = got
        else:
            stream = bools if kind == "bool" else phrases
            cls, text = stream[nxt[kind] % len(stream)]
            nxt[kind] += 1
            res = run.op(cls, run_query, run, searcher, text)
            if res is not None:
                answers[text] = res
                in_order[kind].append(run.samples[cls][-1])

    def enough() -> bool:
        return (len(in_order["bool"]) >= BOOL_SAMPLES
                and len(in_order["phrase"]) >= PHRASE_SAMPLES
                and len(run.samples.get("knn", [])) >= KNN_SAMPLES
                and len(run.samples.get("batch_qps", [])) >= BATCH_SAMPLES)

    run.loop(step, enough)

    # The gates, outside the clock.  Single answers must be bit-identical
    # (doc_id, float32 score) to the brute-force oracle: every boolean
    # query and exact phrase the run answered (the warm-up's and the
    # window's).  Every row of every batch must equal the oracle, and the
    # single answer where the run gave one (the first ten batch queries).
    # The built index is not put through check_index here: ingest does
    # that to a bulk-built base after appends, merges and deletes, and
    # it would add ~3 s to every query run.
    oidx = oracle.build_oracle_index(pdf)
    want = {}
    for text in {*answers, *batch}:
        if text not in sloppy:
            want[text] = [(d, s) for d, _key, s
                          in oracle.search_oracle(oidx, text, K)]
    for text, got in answers.items():
        if text in want:
            run.gate("oracle " + text, got == want[text],
                     f"engine {got[:3]} oracle {want[text][:3]}")
    for got in batch_answers:
        bad = [t for t, a in got
               if a != want[t] or (t in answers and a != answers[t])]
        run.gate("search_many == search_df == oracle", not bad,
                 f"{len(bad)} of {len(got)} differ, e.g. {bad[:1]}")
    run.phases["gate.oracle"] = now()
    # knn: recall@10 of the first HNSW answers of the loop against exact
    # cosine top-k (reported; approximate search has no exact answer)
    picked = sorted(knn_answers)[:RECALL_SAMPLE]
    recalls = [len(set(knn_answers[qi]) & set(exact_topk(base, vqs[qi])))
               / K for qi in picked]
    run.gate("knn recall measured", bool(recalls), "no HNSW search ran")
    run.phases["gate.recall"] = now()
    recall = float(np.mean(recalls)) if recalls else 0.0
    run.info["knn_recall_at_10"] = recall

    if run.traced:
        run.tracer.resolve_jobs()
        builder_layers(run)
        classes = ("term", "or", "and", "mixed", "miss", "phrase",
                   "sloppy_phrase")
        n_single = sum(len(run.samples.get(c, [])) for c in classes)
        reader_layers(run, probe, n_single, opened_in_loop=False)
        search_layers(run, [f"op.{c}" for c in classes])
        for c in classes:
            run.layer[f"search.executor.{c}_p50_ms"] = run.p50(c)
        run.layer["search.executor.batch_ms"] = \
            run.span_p50_ms("search.executor.batch")
        run.layer["search.executor.batch_jobs"] = \
            run.per_op_total("op.batch", "jobs")
        timed_texts = [t for _, t in bools[1:nxt["bool"]]
                       + phrases[1:nxt["phrase"]]]
        post = postings_dir(run, idx)
        run.layer["search.executor.blocks_listed_per_query"] = \
            blocks_per_query(post, timed_texts)
        codec_layers(run, post)
        # where a single query's time goes: planning, collecting (the
        # Spark job that decodes, scores and keeps the top k), and an
        # upper estimate of the decode within it, the query's posting
        # blocks at the measured one-core decode rate
        single_s = sum(s.end - s.start for c in classes
                       for s in run.spans(f"op.{c}"))
        for part in ("plan", "collect"):
            run.layer[f"search.executor.{part}_share"] = sum(
                s.end - s.start for s in run.spans(f"search.executor.{part}")
            ) / single_s if single_s else 0.0
        run.layer["search.executor.decode_share_est"] = (
            run.layer["search.executor.blocks_listed_per_query"]
            / run.layer["functions.codecs.decode_blocks_per_s"]
            / (single_s / n_single)) if n_single else 0.0
        analysis_layer(run, pdf)
        run.layer["pipeline.hnsw.build_s"] = graph_s
        run.layer["pipeline.hnsw.search_ms"] = \
            run.span_p50_ms("pipeline.hnsw.search")
        run.layer["pipeline.hnsw.jobs_per_search"] = \
            run.per_op_total("op.knn", "jobs")
        run.layer["pipeline.hnsw.recall_at_10"] = recall
        exact_ids(run, run.spark.read.parquet(vec_path), vqs[0])
        run.layer["pipeline.similarity.exact_ms"] = run.span_p50_ms(
            "pipeline.similarity.cosine_topk", in_window=False)

    return {
        "setup_s": setup_s,
        "op_p50_ms": first_p50(in_order["bool"], BOOL_SAMPLES),
        "op2_p50_ms": first_p50(in_order["phrase"], PHRASE_SAMPLES),
        "op3_p50_ms": run.p50("knn", KNN_SAMPLES),
        "work_per_s": run.p50("batch_qps", BATCH_SAMPLES),
        "index_bytes_per_input_byte":
            stats.live_bytes(idx) / int(pdf["content"].str.len().sum()),
    }


# ---------------------------------------------------------------------------
# ingest: writes beside reads, a fresh reader after every commit
# ---------------------------------------------------------------------------

def ingest(run: Run) -> dict:
    from lucene_1_spark.streaming.incremental import IncrementalIndexWriter
    base_pdf = gen.corpus(run.seed, SIZES["ingest_base_docs"])
    src = write_parquet(base_pdf,
                        os.path.join(run.work, "src", "base.parquet"))
    n_batch, n_mark = SIZES["ingest_batch_docs"], SIZES["ingest_marked_docs"]
    batches = []
    for b in range(MAX_BATCHES):
        pdf = gen.ingest_batch(run.seed, b, n_batch, n_mark)
        batches.append((write_parquet(
            pdf, os.path.join(run.work, "src", f"batch{b}.parquet")),
            int(pdf["content"].str.len().sum())))
    queries = [t for c, t in gen.boolean_queries(run.seed, 400)
               if c != "miss"]

    run.start_session()
    cfg = index_config(positions=False)
    idx = os.path.join(run.work, "index")
    build_s = timed(lambda: build(run, src, idx, cfg))
    run.info["build_s"] = {"index": round(build_s, 3)}
    t0 = now()
    writer = IncrementalIndexWriter(run.spark, idx, cfg)
    probe = ReaderProbe()
    state = {"q": 1, "merges": 0, "merge_written": 0, "appended_bytes": 0,
             "iterations": 0}
    write_s: list[float] = []   # append + merge + delete, per iteration
    deleted_ok = []

    def append(b):
        with run.tracer.span("streaming.incremental.append"):
            writer.append(run.spark.read.parquet(batches[b][0]), batch_id=b)
        return True

    def merge():
        with run.tracer.span("index.maintenance.merge"):
            return {"merged": writer.maybe_merge(segs_per_tier=SEGS_PER_TIER)}

    def delete(b):
        with run.tracer.span("streaming.incremental.delete"):
            n = writer.delete_by_term(gen.delete_marker(run.seed, b))
        deleted_ok.append(n == n_mark)
        return n

    # Warm-up, which also holds the live-reader snapshot probe: a reader
    # opened before a commit answers a query it has not run yet, and
    # snapshot isolation says the answer equals the one given before the
    # commit.  The probe is reported, not counted in ``failed``: see
    # CHANGES.md.  Its append leaves two segments, so every timed
    # iteration's append makes three and its merge brings them back to
    # two.  The first timed merge and delete pay their first-call costs
    # in every run alike.
    text = queries[0]
    before = run_query(run, open_searcher(run, idx, probe), text)
    live = open_searcher(run, idx, probe)
    append(0)
    mismatch = int(run_query(run, live, text) != before)
    run.info["snapshot_probe"] = "equal" if not mismatch else \
        "DIFFERS: a reader opened before a commit saw the commit"
    setup_s = run.session_s + build_s + (now() - t0)
    probe.lookups = probe.hits = 0    # count the timed loop only

    def timed_write(kind, fn, *args):
        before = stats.inode_map(idx) if run.traced and kind == "merge" \
            else None
        t0 = now()
        out = run.op(kind, fn, *args)
        write_s[-1] += now() - t0
        if before is not None:
            state["merge_written"] += stats.new_bytes(before,
                                                      stats.inode_map(idx))
        return out

    def step(i: int) -> None:
        b = i + WARM_BATCHES
        if b >= MAX_BATCHES:
            raise RuntimeError("ingest window outran its generated batches")
        write_s.append(0.0)
        if timed_write("append", append, b):
            state["appended_bytes"] += batches[b][1]
        res = timed_write("merge", merge)
        if res and res["merged"] is not None:
            state["merges"] += 1
        timed_write("delete", delete, b)
        # a fresh reader after the commits; its memo starts empty
        s = run.op("open", open_searcher, run, idx, probe)
        for _ in range(QUERIES_PER_COMMIT):
            text = queries[state["q"] % len(queries)]
            state["q"] += 1
            if s is not None:
                run.op("query", run_query, run, s, text)
        state["iterations"] += 1
        if state["iterations"] == INGEST_ITERATIONS:
            # the size after a fixed number of iterations, however many
            # more the window holds (not timed: a walk of ~100 files)
            state["bytes_at_k"] = stats.live_bytes(idx)
            state["input_at_k"] = state["appended_bytes"]

    run.loop(step, lambda: state["iterations"] >= INGEST_ITERATIONS)

    run.gate("delete_by_term counts", all(deleted_ok),
             f"{deleted_ok.count(False)} deletes removed an unexpected count")
    check_gate(run, idx)

    if run.traced:
        from lucene_1_spark.index.maintenance import segment_sizes
        run.tracer.resolve_jobs()
        builder_layers(run)
        n_q = len(run.samples.get("query", []))
        reader_layers(run, probe, n_q, opened_in_loop=True)
        search_layers(run, ["op.query"])
        run.layer["streaming.incremental.append_ms"] = \
            run.span_p50_ms("streaming.incremental.append")
        run.layer["streaming.incremental.delete_ms"] = \
            run.span_p50_ms("streaming.incremental.delete")
        run.layer["streaming.incremental.jobs_per_append"] = \
            run.per_op_total("streaming.incremental.append", "jobs")
        run.layer["streaming.incremental.snapshot_mismatches"] = mismatch
        run.layer["index.maintenance.merge_ms"] = \
            run.span_p50_ms("index.maintenance.merge")
        run.layer["index.maintenance.merges"] = state["merges"]
        run.layer["index.maintenance.segments_final"] = len(segment_sizes(idx))
        run.layer["index.maintenance.bytes_written_per_input_byte"] = \
            state["merge_written"] / max(1, state["appended_bytes"])
        codec_layers(run, postings_dir(run, idx))
        analysis_layer(run, base_pdf)

    total_input = int(base_pdf["content"].str.len().sum()) \
        + sum(nbytes for _, nbytes in batches[:WARM_BATCHES]) \
        + state.get("input_at_k", 0)
    k = INGEST_ITERATIONS
    return {
        "setup_s": setup_s,
        "op_p50_ms": run.p50("query", k * QUERIES_PER_COMMIT),
        "op2_p50_ms": run.p50("append", k),
        "op3_p50_ms": run.p50("delete", k),
        "work_per_s": k * n_batch / sum(write_s[:k]),
        "index_bytes_per_input_byte":
            state.get("bytes_at_k", 0) / total_input,
    }


WORKLOADS = {"query": query, "ingest": ingest}
