"""Deterministic sampling / split-assignment operators for training-data
pipelines.

A training corpus needs reproducible train/val/test membership that is
(a) stable as the corpus grows (a doc's split never changes when new
docs arrive), (b) shuffle-free (pure map-side — at 10^12 docs a split
column must not cost an exchange), and (c) engine-portable so the
assignment can be restated by any SQL engine auditing the pipeline.
Random() fails all three; a seeded content/id hash mapped to [0, 1)
satisfies them — the same scheme as the MinHash/SimHash seeded-md5
hashes (operators/dedup.py), so DuckDB states the identical value.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: top 15 hex chars of md5 as a 60-bit integer — the same word-hash
#: scheme as dedup.simhash60; division by 2^60 gives an IEEE-exact uniform
#: fraction (both engines compute bigint/2^60 in double).
_HASH60_DEN = float(1 << 60)


def _hash60(key_col: str, seed: str) -> Column:
    return F.expr(
        f"cast(conv(substr(md5(concat('{seed}|', cast({key_col} as string"
        f"))), 1, 15), 16, 10) as bigint)"
    )


def hash_split(
    df: DataFrame,
    key_col: str = "doc_id",
    seed: str = "split",
    train: float = 0.9,
    val: float = 0.05,
) -> DataFrame:
    """Deterministic train/val/test assignment: u < train → 'train',
    u < train + val → 'val', else 'test'. A doc's assignment depends
    only on (seed, key) — stable under corpus growth and identical on
    every engine. The split column is a pure projection: no shuffle,
    no sampling pass, no state.

    The val boundary is rounded to 12 decimals so it equals the
    decimal literal an auditing engine would state (Python's
    0.9 + 0.05 is 0.9500000000000001 — a boundary one ulp off the
    DuckDB oracle's 0.95 would misassign the ~dozen representable
    u-values in between)."""
    hi = round(train + val, 12)
    u = _hash60(key_col, seed) / F.lit(_HASH60_DEN)
    return df.withColumn(
        "split",
        F.when(u < train, F.lit("train"))
        .when(u < hi, F.lit("val"))
        .otherwise(F.lit("test")),
    )


def stratified_sample(
    df: DataFrame,
    fractions: dict[str, float],
    group_col: str = "source",
    key_col: str = "doc_id",
    seed: str = "strat",
    default: float = 0.0,
) -> DataFrame:
    """Deterministic per-group sampling — the engine-portable
    ``sampleBy``: keep a doc iff its seeded hash fraction is below its
    group's configured rate (groups absent from ``fractions`` get
    ``default``). Used for source re-weighting / up-down-sampling in
    corpus mixing.

    Properties inherited from the hash-fraction scheme: membership is
    reproducible, stable under corpus growth, and restatable by any SQL
    engine. Scale shape: pure map-side projection + codegen'd literal
    map lookup — no shuffle, no sampling pass, no broadcast (the
    fractions dict is baked into the plan as a literal; swap to a
    broadcast-joined dim table if group cardinality outgrows a plan
    literal)."""
    mapping = F.create_map(
        *[F.lit(x) for kv in fractions.items() for x in kv]
    )
    u = _hash60(key_col, seed) / F.lit(_HASH60_DEN)
    frac = F.coalesce(
        mapping[F.col(group_col)], F.lit(float(default))
    )
    return df.where(u < frac)


def pack_token_shards(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    budget_tokens: int = 2048,
    n_buckets: int = 64,
    seed: str = "shard",
) -> DataFrame:
    """Greedy token-budget shard packing: assign each doc to a training
    shard such that a shard's token total only exceeds ``budget_tokens``
    by at most one document — the standard pre-tokenization packing
    pass for sequence-packed training.

    Scale shape: a GLOBAL greedy pack is a total order — a full-corpus
    range sort at 10^12 docs. Instead docs are hash-assigned to
    ``n_buckets`` independent packing streams (uniform key, one
    exchange) and packed within each bucket by a window cumsum ordered
    by ``key_col`` — the window runs inside uniform bounded partitions,
    never a global sort, and shard ids are (bucket, shard) pairs. The
    bucket uses the seeded md5-60 hash (not xxhash64) so the whole
    assignment — bucket, order, cumsum, shard — is restatable
    engine-for-engine (the d13/w3 oracle states it digit-by-digit).
    Tokens are the single-space split (the t5/dedup convention).

    Output: (key, n_tokens, bucket, shard) where ``shard`` is the
    0-based shard index within the bucket: a doc lands in the shard its
    PRECEDING cumulative total falls in — floor((cum − n) / budget) —
    so every shard except possibly a bucket's last holds ≥ budget
    tokens once closed, and overflow per shard is bounded by one doc."""
    from pgweasel_spark.operators.dedup import words as _w
    from pyspark.sql import Window

    n_tokens = F.size(_w(F.col(text_col))).cast("long")
    bucket = F.pmod(_hash60(key_col, seed), F.lit(n_buckets)).cast("int")
    base = df.select(
        key_col, n_tokens.alias("n_tokens"), bucket.alias("bucket")
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy(key_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    return base.select(
        key_col,
        "n_tokens",
        "bucket",
        F.floor(
            (cum - F.col("n_tokens")) / F.lit(float(budget_tokens))
        )
        .cast("long")
        .alias("shard"),
    )


def duck_hash_fraction_sql(key_expr: str, seed: str = "split") -> str:
    """DuckDB restatement of the [0, 1) fraction — per-character shifts
    (integer-exact; pow() would lose precision above 2^53), divided by
    2^60 in double, same rounding."""
    md5 = f"md5(concat('{seed}|', CAST({key_expr} AS VARCHAR)))"
    h = (
        "("
        + " + ".join(
            f"((strpos('0123456789abcdef', substr({md5}, {i}, 1)) - 1)"
            f"::BIGINT << {4 * (15 - i)})"
            for i in range(1, 16)
        )
        + ")"
    )
    return f"({h} / {_HASH60_DEN:.1f})"
