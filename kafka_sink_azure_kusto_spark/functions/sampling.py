"""Deterministic sampling for training-data curation (north-star op).

``df.sample()`` is seed-dependent on partitioning and row order, which
makes pipelines non-reproducible across replays and cluster sizes. The
curation-grade alternative: hash each row's stable key into a uniform
[0, 1) coordinate and keep rows below the target fraction. Properties a
100 TB pipeline needs:

- **Reproducible**: same key ⇒ same verdict, on any cluster layout, in
  any engine (md5 + integer arithmetic only — the DuckDB oracle runs the
  literally-same computation).
- **Consistent across tables**: sampling two tables by the same key
  keeps them join-compatible (both keep the same key subset).
- **Incremental**: new data gets the same treatment as old — no global
  shuffle, no state; the filter is embarrassingly parallel and pushes
  down to the scan.
- **Stratified**: per-group fractions (e.g. downsample boilerplate-heavy
  web text, keep all books) as one codegen'd CASE expression.

Salting (``salt``) decorrelates independent samples over the same keys.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# 16^8 — the first 8 md5 hex digits as an integer's value range.
_HEX8_SPAN = 16**8


def md5_hex8_long(key: Column, salt: str = "") -> Column:
    """Value of the first 8 md5 hex digits of ``key || salt`` as a long
    (uniform over [0, 2^32)) — the shared integer primitive under the
    unit-interval sampler and the sketch bucket hashes."""
    h = F.md5(F.concat(key.cast("string"), F.lit(salt)))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("long")


def md5_hex15_long(key: Column, salt: str = "") -> Column:
    """Value of the first 15 md5 hex digits of ``key || salt`` as a
    long (uniform over [0, 2^60) — the widest prefix that fits a
    signed 64-bit integer). The wide sibling of ``md5_hex8_long`` for
    sketches whose accuracy ceiling depends on hash width (HLL rank
    fields, band hashes): 2^32 saturates near ~4e9 distinct values,
    2^60 does not at any realistic corpus size. SQL mirror:
    ``md5_hex_prefix_long_sql(key_expr, 15, salt)``."""
    h = F.md5(F.concat(key.cast("string"), F.lit(salt)))
    return F.conv(F.substring(h, 1, 15), 16, 10).cast("long")


def md5_hex8_long_sql(key_expr: str, salt: str = "") -> str:
    """ANSI-SQL mirror of ``md5_hex8_long`` (DuckDB-runnable) —
    generated per-digit since DuckDB lacks ``conv``; bit-identical on
    every input."""
    return md5_hex_prefix_long_sql(key_expr, 8, salt)


def md5_hex_prefix_long_sql(key_expr: str, digits: int, salt: str = "") -> str:
    """Value of the first ``digits`` md5 hex digits as a BIGINT
    (DuckDB-runnable, per-digit ascii arithmetic). ``digits`` ≤ 15 so
    the value (< 16^15 = 2^60) fits a signed 64-bit integer in every
    engine — the compact band-hash representation uses 15."""
    if not 1 <= digits <= 15:
        raise ValueError("digits must be in 1..15 (2^60 signed-long bound)")
    h = f"md5(CAST({key_expr} AS VARCHAR) || '{salt}')"
    acc = "CAST(0 AS BIGINT)"  # INT32 overflows at 16^8 in DuckDB
    for i in range(digits):
        d = f"ascii(substr({h}, {i + 1}, 1))"
        val = f"(CASE WHEN {d} >= 97 THEN {d} - 87 ELSE {d} - 48 END)"
        acc = f"({acc} * 16 + {val})"
    return acc


def md5_unit_interval(key: Column, salt: str = "") -> Column:
    """Uniform [0, 1) coordinate from a stable key: value of the first 8
    md5 hex digits / 16^8.

    Spark side uses one ``conv(hex, 16, 10)`` (exact integer parse of 8
    hex digits, max 2^32-1 — no long overflow); the SQL oracle mirrors
    the VALUE with portable per-digit ascii arithmetic
    (``md5_unit_interval_sql``) since DuckDB lacks ``conv`` — the two
    are bit-identical on every input."""
    return md5_hex8_long(key, salt) / F.lit(float(_HEX8_SPAN))


def md5_unit_interval_sql(key_expr: str, salt: str = "") -> str:
    """The ANSI-SQL mirror of ``md5_unit_interval`` (DuckDB-runnable) —
    generated, not hand-kept, so the two can't drift."""
    return f"({md5_hex8_long_sql(key_expr, salt)} / {float(_HEX8_SPAN)})"


def hash_sample(
    df: DataFrame, key_col: str, fraction: float, salt: str = ""
) -> DataFrame:
    """Keep ~``fraction`` of rows, decided per-key (deterministic)."""
    return df.filter(md5_unit_interval(F.col(key_col), salt) < fraction)


def stratified_sample(
    df: DataFrame,
    key_col: str,
    stratum_col: str,
    fractions: dict[str, float],
    default_fraction: float = 0.0,
    salt: str = "",
) -> DataFrame:
    """Per-stratum deterministic sampling: one CASE expression resolves
    each row's target fraction, one hash decides. Strata missing from
    ``fractions`` fall back to ``default_fraction`` (0 ⇒ drop)."""
    frac: Column = F.lit(default_fraction)
    for value, f in sorted(fractions.items()):
        frac = F.when(F.col(stratum_col) == value, F.lit(f)).otherwise(frac)
    return df.filter(md5_unit_interval(F.col(key_col), salt) < frac)


def percentile_gate(
    df: DataFrame,
    score_col: str,
    group_col: str,
    keep_frac: float = 0.3,
    tiebreak_col: str = "doc_id",
) -> DataFrame:
    """Keep the top ``keep_frac`` of each group by ``score_col`` —
    appends ``pct_rank`` (percent_rank within group, 0 = best) and
    ``kept`` (0/1). The DCLM/FineWeb-style move: a quality classifier
    scores every document, then each SOURCE keeps its own top slice so
    one high-scoring domain can't crowd out the rest of the mixture.

    Ranking orders by (score DESC, tiebreak ASC) — the tiebreak makes
    every position unique, so percent_rank is a pure function of the
    data (ties broken identically on any engine/partitioning) and the
    kept set is reproducible. One shuffle on the group key; the window
    sort is per-group.

    ``keep_frac`` is a boundary on percent_rank ∈ [0, 1] (rank−1)/(n−1):
    a group of n rows keeps floor(keep_frac·(n−1))+1 rows.
    """
    w = Window.partitionBy(group_col).orderBy(
        F.col(score_col).desc(), F.col(tiebreak_col).asc()
    )
    pr = F.percent_rank().over(w)
    return df.select(
        "*",
        F.round(pr, 6).alias("pct_rank"),
        (pr <= keep_frac).cast("int").alias("kept"),
    )
