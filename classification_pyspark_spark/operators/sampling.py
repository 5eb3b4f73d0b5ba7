"""Sampling & train/test splitting (SURVEY.md §2.7 R1-R4).

Parity with ``src/ta_lib/pyspark/dp.py:845-994``: random sample,
rule-based balanced sample (cap responders, match non-responders),
random split, stratified split. All are narrow ops (no shuffle) except
the unions, which are metadata-only. Sampling-dependent results cannot
hash-match a DuckDB oracle (different RNG streams), so tests assert
invariants: sizes, class ratios, determinism under a fixed seed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import AtomicType


def random_sample(df: DataFrame, fraction: float, seed: int = 42) -> DataFrame:
    """Parity: ``dp.py:885-887`` (Bernoulli sample, no replacement)."""
    return df.sample(withReplacement=False, fraction=fraction, seed=seed)


def balanced_sample(
    df: DataFrame,
    target_col: str,
    positive_value=1,
    max_sample_size: int = 150_000,
    seed: int = 42,
) -> DataFrame:
    """Rule-based balanced sample (parity: ``dp.py:889-910``): cap the
    positive class at ``max_sample_size`` rows, sample an equal expected
    number of negatives, union.

    The class counts come from one aggregate; the sampling itself is
    fraction-based (no exact limit), preserving distributed scans.
    """
    counts = {
        r[target_col]: r["n"]
        for r in df.groupBy(target_col).agg(F.count(F.lit(1)).alias("n")).collect()
    }
    n_pos = counts.get(positive_value, 0)
    n_neg = sum(v for k, v in counts.items() if k != positive_value)
    take_pos = min(n_pos, max_sample_size)
    pos = df.filter(F.col(target_col) == positive_value)
    if n_pos > max_sample_size:
        pos = pos.sample(fraction=max_sample_size / n_pos, seed=seed)
    neg = df.filter(F.col(target_col) != positive_value)
    if n_neg > take_pos:
        neg = neg.sample(fraction=take_pos / n_neg, seed=seed)
    return pos.unionByName(neg)


def train_test_split(
    df: DataFrame, test_ratio: float = 0.3, seed: int = 42
) -> tuple[DataFrame, DataFrame]:
    """Parity: ``dp.py:974-978``."""
    train, test = df.randomSplit([1.0 - test_ratio, test_ratio], seed=seed)
    return train, test


def stratified_split(
    df: DataFrame, target_col: str, test_ratio: float = 0.3, seed: int = 42
) -> tuple[DataFrame, DataFrame]:
    """Seeded hash split, one pass (parity: ``dp.py:980-994``).

    Each row's uniform draw is a seeded xxhash64 of its atomic-typed
    columns (vector and other complex columns are left out), so the
    split is a pure function of the row values: the same rows land on
    the same sides whatever their order or partitioning, and identical
    rows always land on the same side. Class ratios (any number of
    classes; the reference hard-codes {0,1}) are preserved in
    expectation only — no per-class quota, no per-class jobs.
    """
    atomic = [F.col(f.name) for f in df.schema.fields if isinstance(f.dataType, AtomicType)]
    h = F.xxhash64(F.lit(seed), *atomic)
    # top 53 bits of the hash -> a double uniform in [0, 1)
    tagged = df.withColumn("__u", F.shiftrightunsigned(h, 11).cast("double") / float(1 << 53))
    train = tagged.filter(F.col("__u") >= test_ratio).drop("__u")
    test = tagged.filter(F.col("__u") < test_ratio).drop("__u")
    return train, test


def stratified_sample(
    df: DataFrame, strata_col: str, fractions: dict, seed: int = 42
) -> DataFrame:
    """Per-stratum fractions (``sampleBy``), the scalable form of R2/R4."""
    return df.sampleBy(strata_col, fractions=fractions, seed=seed)


def md5_prefix_long_expr(col: Column | str, offset: int = 1, hex_digits: int = 4) -> Column:
    """LONG from md5 hex chars [offset, offset+hex_digits) of the
    value's string rendering — THE portable hash idiom of this engine
    (engine-agnostic, unlike murmur3 ``hash()``). DuckDB twin:
    ``('0x' || substr(md5(CAST(x AS VARCHAR)), offset, hex_digits))::BIGINT``.
    Shared by hash splits/fractions here, reconciliation checksums
    (operators/reconcile.py) and the feature hasher (operators/encode.py).
    Keep hex_digits <= 8 when the values will be SUMmed (32-bit addends
    leave ~2^31 rows of BIGINT headroom; see reconcile)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c.cast("string")), offset, hex_digits), 16, 10).cast("long")


def hash_split_expr(id_col: str, train_pct: int = 80) -> Column:
    """Deterministic hash-based train/test split label.

    Bucket = first 16 bits of md5(id-as-string) mod 100 — a pure
    function of the ID, so the split is reproducible across runs,
    engines, repartitioning, and retries (unlike seeded RNG splits,
    whose assignment depends on partition layout). The scale-correct
    way to hold out data: rows never move, no sampling state.
    """
    bucket = (md5_prefix_long_expr(id_col).cast("int") % 100)
    return F.when(bucket < train_pct, F.lit("train")).otherwise(F.lit("test"))


def md5_fraction_expr(id_col: str, hex_digits: int = 6) -> Column:
    """Deterministic uniform fraction in [0, 1) from the first
    ``hex_digits`` hex chars of md5(id-as-string) — the shared basis
    for hash-based Bernoulli sampling (``corpus_mix_sample``) and
    hash-ranked pools (``negative_sampling_pairs``). DuckDB twin:
    ``('0x' || substr(md5(CAST(x AS VARCHAR)), 1, 6))::BIGINT
    / 16777216.0``."""
    return md5_prefix_long_expr(id_col, 1, hex_digits) / float(16 ** hex_digits)
