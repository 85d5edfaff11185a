"""Seeded input generators for the layered benchmark.

Every generator takes the workload seed and nothing else that varies,
so the same seed gives the same inputs.  Generation runs before the
benchmark starts any clock: it is charged neither to ``setup_s`` nor to
the timed window.

The corpus follows the FIXTURES.md section 1 shape: columns
``(repo, path, commit, lang, content)``, seven repos, identifiers drawn
Zipf(alpha=1.2) from a 500-word vocabulary plus ~30 keywords, lines of
4-12 tokens and documents of 5-400 tokens.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

ZIPF_ALPHA = 1.2
VOCAB = [f"tok{k}" for k in range(500)] + [
    "def", "class", "return", "import", "public", "static", "void", "fn",
    "let", "mut", "const", "if", "else", "for", "while", "match", "struct",
    "impl", "trait", "interface", "extends", "private", "final", "new",
    "self", "this", "true", "false", "none", "null",
]
EXTS = ("py", "java", "rs", "md")
LANGS = {"py": "python", "java": "java", "rs": "rust", "md": "markdown"}
DIRS = ("core", "util", "io", "net", "test")

# Doc-frequency bands by Zipf rank: under alpha=1.2 the first ten words
# occur in nearly every document, ranks 10-99 in a few percent to a
# third of them, and the tail in well under one percent.
HOT = range(0, 10)
MID = range(10, 100)
RARE = range(100, len(VOCAB))

# The query classes of the FIXTURES.md section 2 reference set in its
# shares (10 term, 10 OR, 6 AND, 2 mixed, 2 partial-miss out of 30), in
# one fixed order, every class within the first eight: every seed sends
# the same class sequence, so a run's latency median does not depend on
# which classes the seed happened to draw.
QUERY_CLASSES = ("term", "or", "and", "miss", "term", "or", "mixed", "term",
                 "or", "and", "term", "or", "term", "or", "and")


def _zipf_cdf() -> np.ndarray:
    p = np.arange(1, len(VOCAB) + 1, dtype=np.float64) ** (-ZIPF_ALPHA)
    return np.cumsum(p / p.sum())


def _rng(seed: int, stream: str) -> np.random.Generator:
    """One independent generator per input stream, so adding draws to
    one stream never shifts another."""
    return np.random.default_rng([int(seed), *stream.encode()])


def corpus_tokens(seed: int, n_docs: int, stream: str = "corpus") \
        -> tuple[np.ndarray, np.ndarray]:
    """(token ids of every document, concatenated; offsets)."""
    rng = _rng(seed, stream)
    lens = rng.integers(5, 401, size=n_docs)
    ids = np.searchsorted(_zipf_cdf(), rng.random(int(lens.sum())),
                          side="right")
    ids = np.minimum(ids, len(VOCAB) - 1)
    return ids, np.concatenate([[0], np.cumsum(lens)])


def corpus(seed: int, n_docs: int, stream: str = "corpus",
           extra: dict[int, str] | None = None) -> pd.DataFrame:
    """A seeded Zipf source-code corpus.  ``stream`` keeps paths of
    different batches apart; ``extra`` appends a token to the content
    of the given document numbers (ingest delete markers)."""
    ids, offs = corpus_tokens(seed, n_docs, stream)
    rng = _rng(seed, stream + "/meta")
    ext_i = rng.integers(0, len(EXTS), size=n_docs)
    dir_i = rng.integers(0, len(DIRS), size=n_docs)
    per_line = rng.integers(4, 13, size=n_docs)
    words = np.asarray(VOCAB, dtype=object)
    rows = []
    for i in range(n_docs):
        repo = f"repo-{i % 7}"
        ext = EXTS[ext_i[i]]
        path = f"src/{DIRS[dir_i[i]]}/{stream}_{i:06d}.{ext}"
        commit = hashlib.sha1(f"{repo}/{path}".encode()).hexdigest()[:12]
        toks = words[ids[offs[i]:offs[i + 1]]]
        lb = int(per_line[i])
        text = "\n".join(" ".join(toks[j:j + lb])
                         for j in range(0, len(toks), lb))
        if extra and i in extra:
            text += "\n" + extra[i]
        rows.append((repo, path, commit, LANGS[ext], text))
    return pd.DataFrame(rows, columns=["repo", "path", "commit", "lang",
                                       "content"])


def _pick(rng: np.random.Generator, band: range, n: int) -> list[str]:
    return [VOCAB[int(x)] for x in rng.choice(np.asarray(band), size=n,
                                              replace=False)]


def _distinct(rng: np.random.Generator, bands: list[range]) -> list[str]:
    """One term from each band, no term twice."""
    out: list[str] = []
    for band in bands:
        t = _pick(rng, band, 1)[0]
        while t in out:
            t = _pick(rng, band, 1)[0]
        out.append(t)
    return out


def boolean_queries(seed: int, n: int) -> list[tuple[str, str]]:
    """``n`` (class, query text) pairs in the reference-set class
    shares; terms come from the hot, mid and rare bands."""
    rng = _rng(seed, "queries")
    bands = (HOT, MID, RARE)
    out = []
    seen: dict[str, int] = {}   # queries of each class so far
    for j in range(n):
        cls = QUERY_CLASSES[j % len(QUERY_CLASSES)]
        m = seen.get(cls, 0)
        seen[cls] = m + 1
        # the shape of the m-th query of a class (term count, bands) is
        # the same for every seed; only the terms drawn differ
        if cls == "term":   # hot, mid and rare in turn
            q = _pick(rng, bands[m % 3], 1)[0]
        elif cls == "or":   # 2, 3 or 4 terms, bands in turn
            q = " ".join(_distinct(rng, [bands[(m + i) % 3]
                                         for i in range(2 + m % 3)]))
        elif cls == "and":  # 2 or 3 required terms, hot and mid
            q = " ".join("+" + t for t in
                         _distinct(rng, [(HOT, MID)[i % 2]
                                         for i in range(2 + m % 2)]))
        elif cls == "mixed":
            must = _pick(rng, HOT, 1)[0]
            should = _pick(rng, MID, 2)
            q = f"+{must} " + " ".join(should)
        else:  # partial miss: one term absent from every document
            q = f"{_pick(rng, MID, 1)[0]} zzabsent{int(rng.integers(1000))}"
        out.append((cls, q))
    return out


def phrase_queries(seed: int, n: int, n_docs: int) -> list[tuple[str, str]]:
    """``n`` (class, query) pairs alternating exact and sloppy phrases
    built from word pairs that occur in the corpus, one word hot and one
    mid-frequency, so every phrase has matches and costs about the same
    whatever the seed."""
    ids, offs = corpus_tokens(seed, n_docs)
    rng = _rng(seed, "phrases")
    band = np.zeros(len(VOCAB), dtype=np.int8)   # 1 hot, 2 mid, 0 other
    band[np.asarray(HOT)] = 1
    band[np.asarray(MID)] = 2
    out = []
    while len(out) < n:
        d = int(rng.integers(n_docs))
        toks = ids[offs[d]:offs[d + 1]]
        if len(toks) < 4:
            continue
        sloppy = len(out) % 2 == 1
        gap = 2 if sloppy else 1
        p = int(rng.integers(len(toks) - gap))
        a, b = int(toks[p]), int(toks[p + gap])
        if band[a] * band[b] != 2:
            continue
        if sloppy:
            out.append(("sloppy_phrase", f'"{VOCAB[a]} {VOCAB[b]}"~2'))
        else:
            out.append(("phrase", f'"{VOCAB[a]} {VOCAB[b]}"'))
    return out


def delete_marker(seed: int, batch: int) -> str:
    return f"zzdel{seed % 10007}x{batch}"


def ingest_batch(seed: int, batch: int, n_docs: int,
                 marked: int) -> pd.DataFrame:
    """Append batch ``batch``: ``n_docs`` new documents, the first
    ``marked`` of them carrying the batch's delete-marker term."""
    mark = delete_marker(seed, batch)
    return corpus(seed, n_docs, stream=f"b{batch:04d}",
                  extra={i: mark for i in range(marked)})


def clustered_vectors(seed: int, n: int, dim: int, clusters: int,
                      n_queries: int) -> tuple[np.ndarray, np.ndarray]:
    """(``n`` base vectors, ``n_queries`` query vectors), both drawn
    around the same ``clusters`` random unit centroids."""
    rng = _rng(seed, "vectors")
    cent = rng.normal(size=(clusters, dim))
    cent /= np.linalg.norm(cent, axis=1, keepdims=True)
    base = cent[rng.integers(clusters, size=n)] \
        + 0.35 * rng.normal(size=(n, dim)) / np.sqrt(dim)
    qs = cent[rng.integers(clusters, size=n_queries)] \
        + 0.35 * rng.normal(size=(n_queries, dim)) / np.sqrt(dim)
    return base, qs
