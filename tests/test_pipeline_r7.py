"""Round-7 pipeline operators: PII scrubbing, deterministic stratified
sampling, sequence packing, semantic dedup (SemDeDup keep-first)."""

import hashlib

import pytest
from pyspark.sql import Row, functions as F

from lucene_1_spark.pipeline.sampling import (pack_sequences, pack_summary,
                                              stratified_sample)
from lucene_1_spark.pipeline.scrub import pii_scrub, pii_summary
from lucene_1_spark.pipeline.similarity import semdedup


# ---------------------------------------------------------------- scrub

def test_pii_scrub_counts_and_redaction(spark):
    rows = [
        (0, "mail me at bob@example.com or alice@test.org thanks"),
        (1, "server 10.0.0.1 and 192.168.1.255 up"),
        (2, "call +1 555 123 4567 now"),
        (3, "clean text with nothing to hide"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in pii_scrub(df).collect()}
    assert out[0]["email_n"] == 2 and out[0]["ipv4_n"] == 0
    assert "<email>" in out[0]["text_scrubbed"]
    assert "bob@example.com" not in out[0]["text_scrubbed"]
    assert out[1]["ipv4_n"] == 2
    assert out[1]["text_scrubbed"].count("<ipv4>") == 2
    assert out[2]["phone_n"] == 1
    assert "<phone>" in out[2]["text_scrubbed"]
    assert out[3]["email_n"] == out[3]["ipv4_n"] == out[3]["phone_n"] == 0
    assert out[3]["text_scrubbed"] == rows[3][1]
    assert out[4]["text_scrubbed"] is None and out[4]["email_n"] == 0

    s = pii_summary(df).collect()[0]
    assert s["email_total"] == 2 and s["ipv4_total"] == 2
    assert s["phone_total"] == 1 and s["docs_touched"] == 3


def test_pii_scrub_order_no_double_count(spark):
    # an email's digit run must not ALSO count as a phone
    df = spark.createDataFrame(
        [(0, "reach 12345678901@example.com ok")],
        "doc_id long, text string")
    r = pii_scrub(df).collect()[0]
    assert r["email_n"] == 1
    assert "<email>" in r["text_scrubbed"]
    assert "<phone>" not in r["text_scrubbed"]


# -------------------------------------------------------------- sampling

def _hash_unit_py(doc_id: int, salt: str = "l1s") -> float:
    h = int(hashlib.md5(f"{salt}{doc_id}".encode()).hexdigest()[:12], 16)
    return (h % 1_000_000) / 1_000_000.0


def test_stratified_sample_exact_and_deterministic(spark):
    rows = [(i, ["en", "fr", "zh"][i % 3]) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    rates = {"en": 0.5, "fr": 0.25}
    got = sorted(r["doc_id"] for r in
                 stratified_sample(df, "lang", rates,
                                   default_rate=1.0).collect())
    exp = sorted(i for i, lang in rows
                 if _hash_unit_py(i) < rates.get(lang, 1.0))
    assert got == exp                      # bit-exact, not approximate
    again = sorted(r["doc_id"] for r in
                   stratified_sample(df.repartition(7), "lang", rates,
                                     default_rate=1.0).collect())
    assert again == got                    # stable under repartition
    # zh kept fully, en ~half, fr ~quarter
    n = {lang: sum(1 for i in got if rows[i][1] == lang)
         for lang in ("en", "fr", "zh")}
    assert n["zh"] == 100
    assert 30 <= n["en"] <= 70 and 10 <= n["fr"] <= 40


# ---------------------------------------------------------------- packing

def test_pack_sequences_boundaries(spark):
    # token counts: 4, 3, 5, 2, 6  / capacity 8
    texts = ["a b c d", "e f g", "h i j k l", "m n", "o p q r s t"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    got = {r["doc_id"]: r for r in pack_sequences(df, capacity=8).collect()}
    # cum starts: 0, 4, 7, 12, 14 -> seq 0,0,0,1,1
    assert [got[i]["tok_start"] for i in range(5)] == [0, 4, 7, 12, 14]
    assert [got[i]["seq_id"] for i in range(5)] == [0, 0, 0, 1, 1]
    summ = {r["seq_id"]: r for r in pack_summary(df, capacity=8).collect()}
    assert summ[0]["n_docs"] == 3 and summ[0]["n_tokens"] == 12
    assert summ[1]["n_docs"] == 2 and summ[1]["n_tokens"] == 8
    # null + whitespace-only texts count zero tokens
    df2 = spark.createDataFrame([(0, None), (1, "  "), (2, "x y")],
                                "doc_id long, text string")
    got2 = {r["doc_id"]: r["n_tokens"]
            for r in pack_sequences(df2, capacity=4).collect()}
    assert got2 == {0: 0, 1: 0, 2: 2}


def test_pack_sequences_per_shard(spark):
    df = spark.createDataFrame(
        [(0, "s0", "a b"), (1, "s0", "c d e"), (2, "s1", "f g h i"),
         (3, "s1", "j")],
        "doc_id long, shard string, text string")
    got = {r["doc_id"]: r for r in
           pack_sequences(df, capacity=4, shard_col="shard").collect()}
    # each shard packs its own stream from offset 0
    assert got[0]["tok_start"] == 0 and got[2]["tok_start"] == 0
    assert got[1]["seq_id"] == 0          # starts at tok 2 < 4
    assert got[3]["seq_id"] == 1          # starts at tok 4


def test_pack_sequences_string_ids(spark):
    """A string id column has no numeric id groups: every row is still
    packed, in id (string) order, by the single global window."""
    texts = {"d10": "a b c", "d02": "d e", "d1": "f g h i", "x": "j"}
    df = spark.createDataFrame(list(texts.items()),
                               "doc_id string, text string")
    got = {r["doc_id"]: r for r in pack_sequences(df, capacity=4).collect()}
    assert set(got) == set(texts)
    # string order: d02, d1, d10, x -> starts 0, 2, 6, 9
    assert {k: got[k]["tok_start"] for k in texts} == \
        {"d02": 0, "d1": 2, "d10": 6, "x": 9}
    assert {k: got[k]["seq_id"] for k in texts} == \
        {"d02": 0, "d1": 0, "d10": 1, "x": 2}


# ---------------------------------------------------------------- semdedup

def test_semdedup_keep_first_rule(spark):
    # a~b and b~c but NOT a~c: one-pass rule drops BOTH b and c
    a = [1.0, 0.0]
    b = [0.96, 0.28]      # cos(a,b) ~ .96
    c = [0.85, 0.53]      # cos(b,c) ~ .965, cos(a,c) ~ .85
    d = [0.0, 1.0]        # far from everything
    df = spark.createDataFrame(
        [Row(vec_id=i, embedding=v) for i, v in enumerate([a, b, c, d])])
    kept = sorted(r["vec_id"] for r in
                  semdedup(df, threshold=0.95, exact=True).collect())
    assert kept == [0, 3]
    # survivors keep their full row
    out = semdedup(df, threshold=0.95, exact=True)
    assert set(out.columns) == {"vec_id", "embedding"}


def test_semdedup_lsh_matches_exact_on_duplicates(spark):
    import numpy as np
    rng = np.random.RandomState(3)
    base = rng.randn(60, 16).astype(float)
    rows = [Row(vec_id=i, embedding=[float(x) for x in base[i]])
            for i in range(60)]
    rows += [Row(vec_id=1000 + i, embedding=[float(x) for x in base[i]])
             for i in range(10)]         # exact duplicates of 0..9
    df = spark.createDataFrame(rows)
    exact = sorted(r["vec_id"] for r in
                   semdedup(df, threshold=0.999, exact=True).collect())
    lsh = sorted(r["vec_id"] for r in
                 semdedup(df, threshold=0.999, dim=16).collect())
    assert exact == lsh
    assert all(v < 1000 for v in exact) and len(exact) == 60
