"""View operators: project / remove / subset / head / top / sample.

Reference surface: core ViewHandler pinned by
``flink/src/test/scala/io/ddf/flink/content/ViewHandlerSpec.scala:12-48`` and
the Flink override ``content/ViewHandler.scala`` (sampling at ``:17-41``).

Everything here is a thin declarative mapping onto DataFrame ops so Catalyst
prunes columns / pushes filters into the scan. ``subset`` also accepts the
regex match the reference explicitly rejects (``ViewHandler.scala:43-50``
throws on grep/grep_ic) — Spark supports it natively via ``rlike``.
"""

from __future__ import annotations

import math
import random
import sys

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "project",
    "remove_columns",
    "subset",
    "head",
    "top",
    "sample_fraction",
    "sample_exact",
]


def project(df: DataFrame, columns: list[str]) -> DataFrame:
    """Column-subset projection (VIEWS.project, ViewHandlerSpec.scala:12-25)."""
    return df.select(*columns)


def remove_columns(df: DataFrame, columns: list[str]) -> DataFrame:
    """Drop columns (VIEWS.removeColumn(s), ViewHandlerSpec.scala:19-24)."""
    return df.drop(*columns)


def subset(df: DataFrame, condition: str) -> DataFrame:
    """Filter by SQL expression (VIEWS.subset; reference Operator/Column AST
    with lt/gt/eq collapses to a Spark SQL expression string)."""
    return df.filter(condition)


def grep(df: DataFrame, column: str, pattern: str, ignore_case: bool = False) -> DataFrame:
    """Regex row filter — the reference refuses grep/grep_ic
    (``content/ViewHandler.scala:43-50``); Spark supports it natively."""
    pat = f"(?i){pattern}" if ignore_case else pattern
    return df.filter(F.col(column).rlike(pat))


def head(df: DataFrame, n: int) -> list:
    """First n rows to the client (VIEWS.head, ViewHandlerSpec.scala:40-48)."""
    return df.limit(n).collect()


def top(df: DataFrame, n: int, column: str, ascending: bool = False) -> DataFrame:
    """Top-k by column (VIEWS.top(n, col, asc), docs/demo.md:50).

    ``orderBy().limit()`` compiles to ``TakeOrderedAndProject`` — a
    distributed per-partition top-k + driver merge, no global sort. This is
    the scale-safe replacement for the reference's parallelism=1 sort
    (``utils/package.scala:369-395``).
    """
    order = F.col(column).asc() if ascending else F.col(column).desc()
    return df.orderBy(order).limit(n)


def sample_fraction(
    df: DataFrame, fraction: float, with_replacement: bool = False, seed: int | None = None
) -> DataFrame:
    """Fraction sample returning a new frame (``ViewHandler.scala:24-41``)."""
    return df.sample(withReplacement=with_replacement, fraction=fraction, seed=seed)


def _sample_fraction_bound(n: int, total: int, with_replacement: bool) -> float:
    """The sampling rate ``RDD.takeSample`` uses: a fraction q > n/total
    whose sample has >= n rows 99.99% of the time. With replacement each
    row is drawn Pois(q) times (q = p + 5·sqrt(p/total), 9 standard
    deviations below n = 12); without, each row is kept with probability
    q (Binomial tail bound, delta = 5e-5), capped at 1."""
    p = n / total
    if with_replacement:
        return p + (9 if n < 12 else 5) * math.sqrt(p / total)
    gamma = -math.log(0.00005) / total
    return min(1.0, p + gamma + math.sqrt(gamma * gamma + 2 * gamma * p))


def sample_exact(
    df: DataFrame, n: int, with_replacement: bool = False, seed: int | None = 42
) -> list:
    """Exact-size random sample collected to the client
    (``ViewHandler.scala:17-22``).

    The reference hand-rolls Poisson/Binomial-bounded per-partition
    sampling (``utils/package.scala:444-548``). This is ``RDD.takeSample``'s
    algorithm run on the DataFrame, so rows stay in the JVM's Bernoulli
    (without replacement) / Poisson (with replacement) samplers instead of
    being pickled through a Python worker: one count, one
    ``df.sample(fraction)`` collect at takeSample's fraction bound
    (short by chance about once in 10^4 draws, then redrawn with a fresh
    seed), then a seeded shuffle truncated to n. Without replacement and
    n >= count the bound is 1, so every row comes back once, shuffled.
    ``seed`` seeds both the JVM sampler and the shuffle: the same seed on
    the same frame (same partitioning) returns the same rows in the same
    order; ``None`` draws a fresh sample each call.
    """
    if n < 0:
        raise ValueError("Sample size cannot be negative.")
    if n == 0:
        return []
    total = df.count()
    if total == 0:
        return []
    want = n if with_replacement else min(n, total)
    fraction = _sample_fraction_bound(n, total, with_replacement)
    rand = random.Random(seed)
    rows = df.sample(with_replacement, fraction, seed).collect()
    while len(rows) < want:
        rows = df.sample(with_replacement, fraction, rand.randint(0, sys.maxsize)).collect()
    rand.shuffle(rows)
    return rows[:want]


def sample_fraction_deterministic(
    df: DataFrame, fraction: float, id_col: str, seed: int = 0
) -> DataFrame:
    """Fraction sampling with the RNG replaced by an md5-keyed uniform:
    keep a row iff ``md5_long(seed:id) / 2^60 < fraction``. Selection is a
    property of the DATA (same rows chosen by any engine, any run, any
    partitioning) — the reproducible variant of :func:`sample_fraction`,
    which inherits Spark's per-partition RNG. Pure column expression: no
    shuffle, pushes through the scan like any filter."""
    from ..functions.dedup import md5_long

    u = md5_long(F.col(id_col).cast("string"), salt=seed).cast("double") / F.lit(
        float(2**60)
    )
    return df.filter(u < fraction)


def sample_exact_deterministic(
    df: DataFrame, n: int, id_col: str, seed: int = 0
) -> DataFrame:
    """Exact-n sampling without an RNG: the n rows with the smallest
    ``md5_long(seed:id)`` — a uniform without-replacement draw (hash-min
    sketch selection), identical across engines/runs/partitionings.
    Distributed as TakeOrderedAndProject (per-partition heap + driver
    merge of n candidates) — never a global sort. The reproducible
    variant of :func:`sample_exact` (which keeps Spark's takeSample
    bounds and RNG as the engine-native path)."""
    from ..functions.dedup import md5_long

    key = md5_long(F.col(id_col).cast("string"), salt=seed)
    # Secondary sort on the id column: if two rows ever hash-tie at the
    # LIMIT-n boundary the selected SET would otherwise be
    # nondeterministic (and oracle SQL ordering by (hash, id) would
    # disagree with an engine that broke the tie the other way).
    return (
        df.withColumn("__skey", key)
        .orderBy("__skey", id_col)
        .limit(n)
        .drop("__skey")
    )
