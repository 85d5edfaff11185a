"""Deterministic sampling and sequence packing for training pipelines.

Two operators a pretraining data pipeline runs right after filtering:

- :func:`stratified_sample` — domain/language mixture control: keep a
  per-stratum fraction of documents, decided by a salted content hash
  of the document id (NOT ``rand()``) so the sample is reproducible
  run-to-run, resumable, and identical on any cluster size.  This is
  the mechanism behind "epochs/weights per domain" data-mixing tables
  (Pile/Dolma-style): rate = weight for one pass.

- :func:`pack_sequences` — GPT-style streaming concatenation packing:
  documents in id order are concatenated into one token stream that is
  cut every ``capacity`` tokens (docs may span a cut; each doc is
  ASSIGNED to the sequence where it starts).  The assignment is a pure
  prefix-sum (one window), so packing parallelizes per shard: pass
  ``shard_col`` and each shard packs its own independent stream —
  exactly how a 100-TB corpus is packed in practice (a single global
  ordering would serialize the cumsum; per-shard streams keep every
  executor busy and each shard's layout deterministic).

Both are pure JVM column expressions — no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F, types as T

_MOD = 1_000_000


def _hash_unit(id_col: str, salt: str) -> F.Column:
    """Portable uniform hash in [0, 1): md5-prefix of (salt || id),
    the same construction the dedup oracles use, so an external SQL
    engine reproduces the exact sample."""
    h = F.conv(F.substring(
        F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string"))),
        1, 12), 16, 10).cast("long")
    return (h % _MOD) / float(_MOD)


def stratified_sample(df: DataFrame, strata_col: str,
                      rates: dict[str, float],
                      id_col: str = "doc_id",
                      default_rate: float = 0.0,
                      salt: str = "l1s") -> DataFrame:
    """Keep each row with its stratum's probability, deterministically.

    ``rates`` maps stratum value -> keep fraction in [0, 1]; strata
    absent from the map use ``default_rate``.  The decision is
    ``hash(salt, id) < rate`` — a filter pushed into the scan, zero
    shuffle, and stable under repartitioning/retries (what ``rand()``
    sampling is not).
    """
    rate = F.lit(float(default_rate))
    for value, r in sorted(rates.items()):
        rate = F.when(F.col(strata_col) == value,
                      F.lit(float(r))).otherwise(rate)
    return df.filter(_hash_unit(id_col, salt) < rate)


def token_count_col(text_col: str) -> F.Column:
    """Whitespace token count, null-safe (the pipeline's accounting
    unit; BPE-ish recount is a constant factor away)."""
    return F.when(F.col(text_col).isNull(), F.lit(0)).otherwise(
        F.size(F.filter(F.split(F.col(text_col), r"\s+"),
                        lambda x: x != ""))).cast("long")


def pack_sequences(docs: DataFrame, text_col: str = "text",
                   capacity: int = 2048, id_col: str = "doc_id",
                   shard_col: str | None = None) -> DataFrame:
    """Assign each doc to its training sequence (see module doc).

    Returns the input plus ``n_tokens`` (per doc), ``tok_start`` (its
    offset in the shard's concatenated stream) and ``seq_id`` (=
    ``floor(tok_start / capacity)``, per shard when ``shard_col`` is
    given).  Aggregate by ``seq_id`` downstream for per-sequence
    stats or the writer's bucketing.

    Scale shape (``shard_col=None``): the global prefix sum is NOT one
    ``ORDER BY`` window over every row (a single-partition funnel at
    scale) — it decomposes exactly into (sum of token counts of all
    id-groups before this row's group) + (running sum within the
    row's group), with groups = ``floor(id / 4096)``, monotone in id.
    The only unpartitioned window runs over the per-group sums — a
    relation ~4096x smaller than the rows (assuming reasonably dense
    ids; engine doc_ids are dense by construction).  Results are
    bit-identical to the naive global window.  A non-numeric id column
    has no id groups and takes that single global window.
    """
    out = docs.withColumn("n_tokens", token_count_col(text_col))
    if shard_col is not None or not isinstance(
            docs.select(id_col).schema[0].dataType, T.NumericType):
        spec = W.partitionBy(shard_col) if shard_col is not None else W
        w = spec.orderBy(F.asc(id_col)) \
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        out = out.withColumn(
            "tok_start",
            (F.sum("n_tokens").over(w) - F.col("n_tokens")).cast("long"))
    else:
        grp = 4096
        gc = "_l1s_pack_g"    # private name: never clobber a user column
        out = out.withColumn(
            gc, F.floor(F.col(id_col) / F.lit(grp)).cast("long"))
        gsum = out.groupBy(gc).agg(F.sum("n_tokens").alias("_l1s_gs"))
        w_off = W.orderBy(F.asc(gc)) \
            .rowsBetween(W.unboundedPreceding, -1)
        offs = gsum.select(
            gc,
            F.coalesce(F.sum("_l1s_gs").over(w_off), F.lit(0))
            .alias("_l1s_goff"))
        w_in = W.partitionBy(gc).orderBy(F.asc(id_col)) \
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        # join + drop (not a re-select) so the column set and order
        # match the shard branch exactly, including a pre-existing
        # n_tokens column being REPLACED in place rather than
        # duplicated
        out = (out.join(offs, gc)
               .withColumn(
                   "tok_start",
                   (F.col("_l1s_goff") + F.sum("n_tokens").over(w_in)
                    - F.col("n_tokens")).cast("long"))
               .drop(gc, "_l1s_goff"))
    return out.withColumn(
        "seq_id", F.floor(F.col("tok_start") / F.lit(int(capacity)))
        .cast("long"))


def pack_summary(docs: DataFrame, text_col: str = "text",
                 capacity: int = 2048, id_col: str = "doc_id",
                 shard_col: str | None = None) -> DataFrame:
    """Per-sequence rollup: (seq_id, n_docs, n_tokens) — the packing
    audit (how full are the context windows, how many boundary
    overflows)."""
    packed = pack_sequences(docs, text_col, capacity, id_col, shard_col)
    keys = ([shard_col] if shard_col is not None else []) + ["seq_id"]
    return (packed.groupBy(*keys)
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_tokens").alias("n_tokens")))
