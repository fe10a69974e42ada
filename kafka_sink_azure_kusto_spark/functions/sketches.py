"""Deterministic frequency / cardinality sketches (north-star ops).

At 100 TB you cannot afford an exact ``groupBy(key)`` for every
"roughly how often does X occur?" question — the sketch family answers
them in one pass over bounded state:

- **Count-min** (`countmin_estimates`): ``depth`` md5-salted hash rows
  of ``width`` buckets each; a key's frequency estimate is the MIN of
  its bucket sums across rows (never under-counts, over-counts only on
  collisions). The aggregated sketch is ``depth × width`` longs —
  mergeable across partitions/days by plain addition, which is why the
  pattern survives at scale: the shuffle carries the sketch, never the
  keys.
- **KMV / k-minimum-values** (`kmv_distinct`): the classic theta-sketch
  estimator. Hash every key to a uniform [0, 1) coordinate; keep the k
  smallest per group; the k-th smallest value ``u_k`` estimates the
  distinct count as ``(k-1)/u_k``. Per-group state is k doubles, and
  two sketches merge by keeping the k smallest of the union.

Everything is md5 + integer arithmetic so the DuckDB oracle can run the
LITERALLY same computation (no engine-specific hash functions) — the
estimates are deterministic, not merely statistically similar.

No reference citation: the reference connector has no analytic surface;
these are the north-star additions (SURVEY §7.5, BASELINE.json).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from kafka_sink_azure_kusto_spark.functions.sampling import (
    md5_hex8_long,
    md5_hex8_long_sql,
    md5_hex15_long,
    md5_hex_prefix_long_sql,
    md5_unit_interval,
    md5_unit_interval_sql,
)
from kafka_sink_azure_kusto_spark.functions.similarity import topk_rows


def cm_bucket(key: Column, row: int, width: int) -> Column:
    """Count-min bucket of ``key`` in hash row ``row`` (md5-salted)."""
    return (md5_hex8_long(key, salt=f"cm{row}:") % F.lit(int(width))).cast("int")


def cm_bucket_sql(key_expr: str, row: int, width: int) -> str:
    """ANSI-SQL mirror of ``cm_bucket`` — generated from the same salt
    layout so the two cannot drift."""
    return f"CAST(({md5_hex8_long_sql(key_expr, salt=f'cm{row}:')} % {int(width)}) AS INT)"


def countmin_estimates(
    df: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 64,
) -> DataFrame:
    """Count-min frequency estimate for every distinct value of
    ``key_col`` → ``(key_col, est)`` with ``est >= true count``.

    Plan shape (the part that matters at 100 TB): ONE pass builds the
    sketch — explode each row into its ``depth`` (row, bucket) cells and
    aggregate counts, so the shuffle moves at most ``depth × width``
    grouped cells per map task (map-side partial aggregation collapses
    the input long before the exchange). The distinct-key probe then
    joins against the BROADCAST sketch (``depth × width`` rows by
    construction — bounded, independent of data size). Querying a known
    key list instead of all distinct keys makes the whole thing
    collect-free and sub-linear.
    """
    if depth < 1 or width < 1:
        raise ValueError("countmin_estimates needs depth >= 1 and width >= 1")
    key = F.col(key_col)
    # one row per (hash row, bucket) cell hit — posexplode over the
    # depth bucket expressions stays narrow (no shuffle until the agg)
    cells = df.select(
        F.posexplode(F.array(*[cm_bucket(key, r, width) for r in range(depth)])).alias(
            "cm_row", "cm_bucket"
        )
    )
    sketch = cells.groupBy("cm_row", "cm_bucket").agg(
        F.count(F.lit(1)).alias("cm_count")
    )
    probes = df.select(key.alias(key_col)).distinct()
    probe_cells = probes.select(
        key,
        F.posexplode(F.array(*[cm_bucket(key, r, width) for r in range(depth)])).alias(
            "cm_row", "cm_bucket"
        ),
    )
    joined = probe_cells.join(F.broadcast(sketch), ["cm_row", "cm_bucket"], "left")
    return joined.groupBy(key_col).agg(
        F.min(F.coalesce(F.col("cm_count"), F.lit(0))).alias("est")
    )


def countmin_estimates_sql(
    table: str, key_expr: str, key_alias: str, depth: int = 4, width: int = 64
) -> str:
    """DuckDB oracle for ``countmin_estimates`` — generated from the
    same (row, salt, width) layout."""
    cell_rows = " UNION ALL ".join(
        f"SELECT {r} AS cm_row, {cm_bucket_sql(key_expr, r, width)} AS cm_bucket FROM {table}"
        for r in range(depth)
    )
    probe_rows = " UNION ALL ".join(
        f"SELECT {key_alias}, {r} AS cm_row, "
        f"{cm_bucket_sql(key_alias, r, width)} AS cm_bucket FROM probes"
        for r in range(depth)
    )
    return f"""
    WITH cells AS ({cell_rows}),
    sketch AS (SELECT cm_row, cm_bucket, COUNT(*) AS cm_count
               FROM cells GROUP BY cm_row, cm_bucket),
    probes AS (SELECT DISTINCT {key_expr} AS {key_alias} FROM {table}),
    probe_cells AS ({probe_rows})
    SELECT p.{key_alias}, MIN(COALESCE(s.cm_count, 0)) AS est
    FROM probe_cells p LEFT JOIN sketch s
      ON p.cm_row = s.cm_row AND p.cm_bucket = s.cm_bucket
    GROUP BY p.{key_alias}
    """


def kmv_distinct(
    df: DataFrame,
    group_cols: list[str],
    key_col: str,
    k: int = 16,
) -> DataFrame:
    """KMV distinct-count estimate of ``key_col`` per group →
    ``(group_cols..., est_distinct, n_hashes)``.

    ``est_distinct`` = (k-1)/u_k where u_k is the k-th smallest md5
    unit-interval hash of the distinct keys; groups with fewer than k
    distinct keys report the EXACT count (the sketch holds every hash,
    so no estimation error — mirrors production theta sketches).

    Scale: distinct-reduce on (group, key) → per-group rank on the hash
    — two exchanges on the group key, per-group state bounded at k.

    NULL keys are dropped BEFORE hashing (standard sketch semantics —
    COUNT(DISTINCT) ignores NULL); for the null order of ranks see
    ``similarity.topk_rows``.
    """
    if k < 2:
        raise ValueError("kmv_distinct needs k >= 2")
    u = md5_unit_interval(F.col(key_col), salt="kmv:")
    pairs = (
        df.filter(F.col(key_col).isNotNull())
        .select(*group_cols, F.col(key_col))
        .distinct()
        .withColumn("kmv_u", u)
    )
    w = Window.partitionBy(*group_cols).orderBy("kmv_u", key_col)
    ranked = pairs.withColumn("kmv_rank", F.row_number().over(w))
    per_group = ranked.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_distinct_seen"),
        F.max(F.when(F.col("kmv_rank") == k, F.col("kmv_u"))).alias("u_k"),
    )
    est = F.when(
        F.col("n_distinct_seen") < k, F.col("n_distinct_seen").cast("double")
    ).otherwise(F.lit(float(k - 1)) / F.col("u_k"))
    return per_group.select(
        *group_cols,
        F.round(est, 6).alias("est_distinct"),
        F.least(F.col("n_distinct_seen"), F.lit(k)).alias("n_hashes"),
    )


def kmv_distinct_sql(
    table: str, group_expr: str, group_alias: str, key_expr: str, k: int = 16
) -> str:
    """DuckDB oracle for ``kmv_distinct`` (same hash, same estimator,
    same NULL-key drop before hashing)."""
    u_sql = md5_unit_interval_sql("kmv_key", salt="kmv:")
    return f"""
    WITH pairs AS (SELECT DISTINCT {group_expr} AS {group_alias},
                          {key_expr} AS kmv_key FROM {table}
                   WHERE {key_expr} IS NOT NULL),
    hashed AS (SELECT {group_alias}, kmv_key, {u_sql} AS kmv_u FROM pairs),
    ranked AS (SELECT {group_alias}, kmv_u,
                      ROW_NUMBER() OVER (PARTITION BY {group_alias}
                                         ORDER BY kmv_u, kmv_key) AS kmv_rank
               FROM hashed),
    per_group AS (SELECT {group_alias}, COUNT(*) AS n_distinct_seen,
                         MAX(CASE WHEN kmv_rank = {k} THEN kmv_u END) AS u_k
                  FROM ranked GROUP BY {group_alias})
    SELECT {group_alias},
           ROUND(CASE WHEN n_distinct_seen < {k}
                      THEN CAST(n_distinct_seen AS DOUBLE)
                      ELSE {float(k - 1)} / u_k END, 6) AS est_distinct,
           LEAST(n_distinct_seen, {k}) AS n_hashes
    FROM per_group
    """


# ------------------------------------------------------------ HyperLogLog

#: HLL geometry: 256 registers (top 8 bits of the 60-bit md5-prefix
#: value), rank over the low 52 bits (rho ∈ 1..53; 53 = the 52-bit
#: field is 0). A 52-bit rank field keeps the estimator unbiased far
#: past the ~4·10^9 ceiling a 32-bit hash imposes (standard HLL uses a
#: 64-bit hash; 60 is the widest md5 prefix that fits a signed long in
#: BOTH engines) — the "billions of distinct keys per group at 100 TB"
#: claim needs this width.
HLL_M = 256
HLL_REST_BITS = 52
#: bias constant alpha_m = 0.7213 / (1 + 1.079/m) — the published HLL
#: constant for m ≥ 128; written as the formula (not a rounded float)
#: so both engines constant-fold the identical double.
# CASTs are load-bearing: Spark parses bare decimal-point literals as
# DECIMAL and evaluates the divide in decimal arithmetic, which drifts
# from DuckDB's double math at the 8th significant digit — caught by
# the r11 sf0.1 sweep (est 1535.733773 vs 1535.733706 post-round-6).
HLL_ALPHA_EXPR = (
    f"(CAST(0.7213 AS DOUBLE) / "
    f"(CAST(1.0 AS DOUBLE) + CAST(1.079 AS DOUBLE) / {HLL_M}))"
)


def _hll_rho(rest: Column) -> Column:
    """rho = leading zeros of the 24-bit field + 1 (1..25), as a pure
    integer comparison chain — no float log2, so the value is exact in
    any engine. Generated from the same loop as ``_hll_rho_sql``."""
    chain = F.when(rest >= (1 << (HLL_REST_BITS - 1)), 1)
    for r in range(2, HLL_REST_BITS + 1):
        chain = chain.when(rest >= (1 << (HLL_REST_BITS - r)), r)
    return chain.otherwise(HLL_REST_BITS + 1)


def _hll_rho_sql(rest_expr: str) -> str:
    parts = [
        f"WHEN {rest_expr} >= {1 << (HLL_REST_BITS - r)} THEN {r}"
        for r in range(1, HLL_REST_BITS + 1)
    ]
    return "CASE " + " ".join(parts) + f" ELSE {HLL_REST_BITS + 1} END"


def hll_distinct(
    df: DataFrame,
    group_cols: list[str],
    key_col: str,
) -> DataFrame:
    """HyperLogLog distinct-count estimate of ``key_col`` per group →
    ``(group_cols..., est_distinct, registers_used)`` — the
    fixed-state sibling of ``kmv_distinct`` (KMV state grows with k;
    HLL state is exactly m=256 six-bit registers per group, mergeable
    by element-wise MAX — the production shape for billions of groups
    at 100 TB).

    Determinism is total, not statistical-only: the register harmonic
    sum Σ_j 2^(−M_j) is computed as the EXACT integer
    Σ_j 2^(53 − M_j) (each term ≤ 2^52, total ≤ 2^60 — exact in a
    signed long in both engines), so summation order cannot drift;
    the int64→double conversion before the final divide is the same
    IEEE round-to-nearest in both engines, so the only floats are the
    final α·m²·2^53 / S divide and the small-range linear-counting
    branch m·ln(m/V) (identical formulas both sides). The hash is the
    60-bit md5 prefix (8-bit register index + 52-bit rank field), so
    there is no ~4e9 saturation ceiling. NULL keys drop before
    hashing (COUNT DISTINCT semantics, same as KMV)."""
    v = md5_hex15_long(F.col(key_col), salt="hll:")
    idx = F.shiftrightunsigned(v, HLL_REST_BITS)
    rest = v.bitwiseAND(F.lit((1 << HLL_REST_BITS) - 1))
    regs = (
        df.filter(F.col(key_col).isNotNull())
        .select(*group_cols, idx.alias("hll_idx"), _hll_rho(rest).alias("rho"))
        .groupBy(*group_cols, "hll_idx")
        .agg(F.max("rho").alias("r"))
    )
    per_group = regs.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("used"),
        F.sum(
            F.expr(f"shiftleft(CAST(1 AS BIGINT), {HLL_REST_BITS + 1} - r)")
        ).alias("s_seen"),
    )
    m = HLL_M
    zeros = F.lit(m) - F.col("used")
    s_total = F.col("s_seen") + zeros * F.lit(1 << (HLL_REST_BITS + 1))
    alpha = F.expr(HLL_ALPHA_EXPR)
    raw = alpha * m * m * float(1 << (HLL_REST_BITS + 1)) / s_total
    est = F.when(
        (raw <= 2.5 * m) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros),
    ).otherwise(raw)
    return per_group.select(
        *group_cols,
        F.round(est, 6).alias("est_distinct"),
        F.col("used").cast("long").alias("registers_used"),
    )


def hll_distinct_sql(
    table: str, group_expr: str, group_alias: str, key_expr: str
) -> str:
    """DuckDB oracle for ``hll_distinct`` — generated from the same
    geometry constants so the engines cannot drift."""
    m = HLL_M
    rb = HLL_REST_BITS
    v = md5_hex_prefix_long_sql(key_expr, 15, salt="hll:")
    return f"""
    WITH hv AS (SELECT {group_expr} AS {group_alias},
                       ({v}) // {1 << rb} AS hll_idx,
                       ({v}) % {1 << rb} AS rest
                FROM {table} WHERE {key_expr} IS NOT NULL),
    regs AS (SELECT {group_alias}, hll_idx,
                    MAX({_hll_rho_sql("rest")}) AS r
             FROM hv GROUP BY {group_alias}, hll_idx),
    pg AS (SELECT {group_alias},
                  COUNT(*) AS used,
                  SUM(CAST(1 AS BIGINT) << ({rb + 1} - r)) AS s_seen
           FROM regs GROUP BY {group_alias}),
    est AS (SELECT {group_alias}, used,
                   {HLL_ALPHA_EXPR} * {m} * {m} * {float(1 << (rb + 1))}
                     / (s_seen + ({m} - used) * {1 << (rb + 1)}) AS raw
            FROM pg)
    SELECT {group_alias},
           round(CASE WHEN raw <= {2.5 * m} AND used < {m}
                      THEN {float(m)} * ln({float(m)} / ({m} - used))
                      ELSE raw END, 6) AS est_distinct,
           CAST(used AS BIGINT) AS registers_used
    FROM est
    """


def hll_registers(
    df: DataFrame, group_cols: list[str], key_col: str
) -> DataFrame:
    """The PERSISTABLE HLL state: (group_cols..., hll_idx, r) register
    rows — what a daily job writes. Sketches merge by element-wise MAX
    over (group, register): ``hll_merge_estimate`` of N days equals
    the single-shot ``hll_distinct`` of the union, exactly (MAX is
    associative/commutative/idempotent — re-ingest is harmless)."""
    v = md5_hex15_long(F.col(key_col), salt="hll:")
    idx = F.shiftrightunsigned(v, HLL_REST_BITS)
    rest = v.bitwiseAND(F.lit((1 << HLL_REST_BITS) - 1))
    return (
        df.filter(F.col(key_col).isNotNull())
        .select(*group_cols, idx.alias("hll_idx"), _hll_rho(rest).alias("rho"))
        .groupBy(*group_cols, "hll_idx")
        .agg(F.max("rho").alias("r"))
    )


def hll_merge_estimate(
    registers: DataFrame, group_cols: list[str]
) -> DataFrame:
    """Merge persisted register frames (pre-unioned) and estimate —
    identical math to ``hll_distinct`` from the merged registers."""
    regs = registers.groupBy(*group_cols, "hll_idx").agg(
        F.max("r").alias("r")
    )
    per_group = regs.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("used"),
        F.sum(
            F.expr(f"shiftleft(CAST(1 AS BIGINT), {HLL_REST_BITS + 1} - r)")
        ).alias("s_seen"),
    )
    m = HLL_M
    zeros = F.lit(m) - F.col("used")
    s_total = F.col("s_seen") + zeros * F.lit(1 << (HLL_REST_BITS + 1))
    alpha = F.expr(HLL_ALPHA_EXPR)
    raw = alpha * m * m * float(1 << (HLL_REST_BITS + 1)) / s_total
    est = F.when(
        (raw <= 2.5 * m) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros),
    ).otherwise(raw)
    return per_group.select(
        *group_cols,
        F.round(est, 6).alias("est_distinct"),
        F.col("used").cast("long").alias("registers_used"),
    )


# ---------------------------------------------------------------------------
# Mergeable quantile histogram (fixed-grid) — the quantile member of the
# sketch family (HLL = distinct, count-min = frequency, KMV = theta,
# this = quantiles). State per group is at most ``nbins`` exact integer
# counts; frames from different days/partitions merge by plain SUM over
# (group, bin) — associative and commutative, so merged-of-parts equals
# computed-once EXACTLY, which is what the lifecycle gate pins. At
# 100 TB the raw values never leave their scan stage: the shuffle
# carries ≤ nbins longs per group, and a global quantile needs no sort.
# Estimates interpolate rank-within-bin from the integer cumulative
# counts; the only floats are the final closed-form ``lo + width*(bin +
# frac)`` evaluated with the same operand order in both engines.
# ---------------------------------------------------------------------------


def quantile_histogram_registers(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    lo: float,
    hi: float,
    nbins: int,
) -> DataFrame:
    """The PERSISTABLE quantile-sketch state: (group_cols..., qh_bin,
    cnt) — what a daily job writes to parquet. Values clamp into the
    fixed grid (out-of-range values land in the edge bins, so the
    sketch never drops rows); NULLs drop (aggregate semantics)."""
    width = (hi - lo) / nbins
    bin_c = F.least(
        F.lit(nbins - 1),
        F.greatest(F.lit(0), F.floor((F.col(value_col) - F.lit(lo)) / F.lit(width)).cast("int")),
    )
    return (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(*group_cols, bin_c.alias("qh_bin"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )


# (label, numerator, denominator) — ranks are computed as the exact
# integer ceil(q*n) = (n*num + den - 1) div den, never a float multiply.
QUANTILE_QS: list[tuple[str, int, int]] = [
    ("p50", 1, 2),
    ("p90", 9, 10),
    ("p99", 99, 100),
]


def quantile_merge_estimate(
    registers: DataFrame,
    group_cols: list[str],
    lo: float,
    hi: float,
    nbins: int,
    qs: list[tuple[str, int, int]] = QUANTILE_QS,
) -> DataFrame:
    """Merge persisted register frames (pre-unioned) by SUM over
    (group, bin) and estimate each quantile in ``qs`` →
    (group_cols..., q, est_value, n_values). The target rank r =
    ceil(q·n) is exact integer arithmetic; the picked bin is the unique
    one with cum_before < r ≤ cum; the estimate interpolates the rank
    inside the bin."""
    width = (hi - lo) / nbins
    merged = registers.groupBy(*group_cols, "qh_bin").agg(
        F.sum("cnt").alias("cnt")
    )
    wcum = Window.partitionBy(*group_cols).orderBy("qh_bin")
    wall = Window.partitionBy(*group_cols)
    c = merged.select(
        *group_cols,
        "qh_bin",
        "cnt",
        F.sum("cnt").over(wcum).alias("cum"),
        F.sum("cnt").over(wall).alias("total"),
    )
    parts = []
    for label, num, den in qs:
        r = F.expr(f"CAST((total * {num} + {den - 1}) DIV {den} AS BIGINT)")
        picked = c.withColumn("qh_r", r).filter(
            (F.col("cum") >= F.col("qh_r"))
            & ((F.col("cum") - F.col("cnt")) < F.col("qh_r"))
        )
        est = F.lit(lo) + F.lit(width) * (
            F.col("qh_bin")
            + (F.col("qh_r") - (F.col("cum") - F.col("cnt"))) / F.col("cnt")
        )
        parts.append(
            picked.select(
                *group_cols,
                F.lit(label).alias("q"),
                F.round(est, 6).alias("est_value"),
                F.col("total").alias("n_values"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def quantile_estimate_sql(
    table: str,
    group_expr: str,
    group_alias: str,
    value_expr: str,
    lo: float,
    hi: float,
    nbins: int,
    qs: list[tuple[str, int, int]] = QUANTILE_QS,
) -> str:
    """DuckDB oracle for the single-shot quantile-histogram estimate —
    generated from the same grid constants and rank arithmetic so the
    engines cannot drift. Also emits the TRUE rank-r value (the exact
    percentile_disc the sketch approximates) from a per-group sort —
    affordable in the oracle, the very thing the sketch avoids at
    scale."""
    width = (hi - lo) / nbins
    q_rows = ", ".join(f"('{l}', {n}, {d})" for l, n, d in qs)
    return f"""
    WITH vals AS (SELECT {group_expr} AS {group_alias}, {value_expr} AS v
                  FROM {table} WHERE {value_expr} IS NOT NULL),
    hist AS (SELECT {group_alias},
                    CAST(LEAST({nbins - 1}, GREATEST(0,
                         FLOOR((v - {lo}) / {width}))) AS INT) AS qh_bin,
                    CAST(COUNT(*) AS BIGINT) AS cnt
             FROM vals GROUP BY 1, 2),
    c AS (SELECT {group_alias}, qh_bin, cnt,
                 SUM(cnt) OVER (PARTITION BY {group_alias}
                                ORDER BY qh_bin) AS cum,
                 SUM(cnt) OVER (PARTITION BY {group_alias}) AS total
          FROM hist),
    qs(q, qnum, qden) AS (VALUES {q_rows}),
    est AS (SELECT {group_alias}, q,
                   round({lo} + {width} * (qh_bin +
                         (qh_r - (cum - cnt)) / cnt), 6) AS est_value,
                   CAST(total AS BIGINT) AS n_values
            FROM (SELECT c.*, q,
                         (total * qnum + qden - 1) // qden AS qh_r
                  FROM c CROSS JOIN qs)
            WHERE cum >= qh_r AND cum - cnt < qh_r),
    ranked AS (SELECT {group_alias}, v,
                      ROW_NUMBER() OVER (PARTITION BY {group_alias}
                                         ORDER BY v) AS rn,
                      COUNT(*) OVER (PARTITION BY {group_alias}) AS n
               FROM vals),
    truth AS (SELECT {group_alias}, q, v AS true_value
              FROM ranked JOIN qs
                ON rn = (n * qnum + qden - 1) // qden)
    SELECT e.{group_alias}, e.q, e.est_value, t.true_value, e.n_values
    FROM est e JOIN truth t USING ({group_alias}, q)
    """


# ---------------------------------------------------------------------------
# Group-level mergeable minhash signature — the set-similarity member of
# the sketch family. Per group the state is exactly MHG_HASHES 60-bit
# longs (component h = MIN over the group's tokens of a salted md5);
# daily frames merge by element-wise MIN over (group, h), which is
# associative, commutative, and idempotent — merged-of-parts equals
# computed-once exactly, and re-ingested days are harmless. Pairwise
# Jaccard between two groups is estimated as the fraction of matching
# components — computed from two fixed-size signature frames, never by
# touching the corpora again. This is how a 100 TB pipeline keeps a
# domain-affinity matrix fresh: per-day signature rows, not raw tokens.
# ---------------------------------------------------------------------------

MHG_HASHES = 16


def group_minhash_registers(
    df: DataFrame, group_cols: list[str], text_col: str = "text"
) -> DataFrame:
    """The PERSISTABLE group-minhash state: (group_cols..., mh_h, minv)
    with MHG_HASHES rows per group. One explode + one shuffle: the 16
    salted hashes are computed per token in the scan stage and min-agg
    in a single groupBy (duplicate tokens cannot affect a MIN, so no
    distinct is needed)."""
    toks = (
        df.filter(F.col(text_col).isNotNull())
        .select(
            *group_cols,
            F.explode(F.split(F.col(text_col), " ")).alias("tok"),
        )
        .filter(F.col("tok") != "")
    )
    agg = toks.groupBy(*group_cols).agg(
        *[
            F.min(md5_hex15_long(F.col("tok"), salt=f"mhg{h}:")).alias(f"v{h}")
            for h in range(MHG_HASHES)
        ]
    )
    stack = ", ".join(f"{h}, v{h}" for h in range(MHG_HASHES))
    return agg.select(
        *group_cols,
        F.expr(f"stack({MHG_HASHES}, {stack}) AS (mh_h, minv)"),
    ).select(*group_cols, F.col("mh_h").cast("int").alias("mh_h"), "minv")


def group_minhash_merge(
    registers: DataFrame, group_cols: list[str]
) -> DataFrame:
    """Merge persisted signature frames (pre-unioned) by element-wise
    MIN over (group, component)."""
    return registers.groupBy(*group_cols, "mh_h").agg(
        F.min("minv").alias("minv")
    )


def group_minhash_pair_estimates(
    signatures: DataFrame, group_col: str
) -> DataFrame:
    """Pairwise Jaccard estimates from merged signatures →
    (group_a, group_b, est_jaccard, n_components) for every unordered
    group pair. The join is signature-frame sized (|groups| × 16 rows),
    never corpus-sized."""
    a = signatures.select(
        F.col(group_col).alias("group_a"), "mh_h", F.col("minv").alias("va")
    )
    b = signatures.select(
        F.col(group_col).alias("group_b"), "mh_h", F.col("minv").alias("vb")
    )
    return (
        a.join(b, "mh_h")
        .filter(F.col("group_a") < F.col("group_b"))
        .groupBy("group_a", "group_b")
        .agg(
            (
                F.sum(F.when(F.col("va") == F.col("vb"), 1).otherwise(0))
                / F.lit(MHG_HASHES)
            ).alias("est_jaccard"),
            F.count(F.lit(1)).cast("bigint").alias("n_components"),
        )
    )


def group_minhash_sql(
    table: str, group_expr: str, group_alias: str, text_expr: str
) -> str:
    """DuckDB single-shot twin of ``group_minhash_registers`` +
    ``group_minhash_merge`` (long-format signature rows) — generated
    from the same salt layout."""
    mins = ", ".join(
        f"MIN({md5_hex_prefix_long_sql('tok', 15, salt=f'mhg{h}:')}) AS v{h}"
        for h in range(MHG_HASHES)
    )
    unions = " UNION ALL ".join(
        f"SELECT {group_alias}, {h} AS mh_h, v{h} AS minv FROM sig"
        for h in range(MHG_HASHES)
    )
    return f"""
    WITH toks AS (SELECT {group_expr} AS {group_alias}, t.tok
                  FROM {table},
                       unnest(string_split({text_expr}, ' ')) AS t(tok)
                  WHERE {text_expr} IS NOT NULL AND t.tok <> ''),
    sig AS (SELECT {group_alias}, {mins} FROM toks GROUP BY {group_alias})
    SELECT * FROM ({unions})
    """


# ------------------------------------------------- theta set operations

def theta_sketch_rows(
    df: DataFrame,
    group_col: str,
    key_col: str,
    k: int = 64,
) -> DataFrame:
    """Per-group theta sketch as ROWS: the k smallest md5 unit-interval
    hashes of the distinct keys → (group, kmv_u, theta, n_distinct_seen).

    ``theta`` is the sketch's inclusion threshold — u_k when the group
    saw ≥ k distinct keys, else 1.0 (the sketch is exhaustive). Every
    retained hash satisfies kmv_u < theta EXCEPT u_k itself, which is
    excluded by the strict-< rule during set operations (the standard
    theta-sketch convention: the k-th value defines the threshold and
    does not count toward estimates).

    Scale: identical shuffle shape to ``kmv_distinct`` (distinct-reduce
    then per-group rank); output is ≤ k rows per group — the tiny
    relation that set operations join, never the raw data.
    """
    if k < 2:
        raise ValueError("theta_sketch_rows needs k >= 2")
    u = md5_unit_interval(F.col(key_col), salt="kmv:")
    pairs = (
        df.filter(F.col(key_col).isNotNull())
        .select(group_col, key_col)
        .distinct()
        .withColumn("kmv_u", u)
    )
    ranked = topk_rows(pairs, group_col, ["kmv_u", key_col], k)
    stats = ranked.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_distinct_seen"),
        F.max(F.when(F.col("rank") == k, F.col("kmv_u"))).alias("u_k"),
    )
    theta = F.coalesce(F.col("u_k"), F.lit(1.0))
    return ranked.select(group_col, "kmv_u").join(
        stats.select(group_col, theta.alias("theta"), "n_distinct_seen"),
        group_col,
    )


def theta_setops_pairs(
    df: DataFrame,
    group_col: str,
    key_col: str,
    k: int = 64,
) -> DataFrame:
    """Theta-sketch SET OPERATIONS over every unordered pair of groups:
    distinct-count estimates for A, B, A∪B, A∩B and the Jaccard
    estimate → (group_a, group_b, est_a, est_b, est_union,
    est_intersect, est_jaccard), all deterministic (md5 hashing), all
    derived from the ≤ k-row sketches — the raw data is scanned ONCE
    to build the sketches and never touched again.

    The standard estimator: theta_ab = min(theta_a, theta_b); every
    retained hash strictly below theta_ab is an inclusion sample, so
    |samples| / theta_ab estimates the distinct count of the union
    (distinct hashes from either sketch) and of the intersection
    (hashes present in both). When both groups are exhaustive
    (theta = 1.0) the estimates are EXACT counts — which is what makes
    a closed-form oracle possible at any test SF while the same code
    estimates at 100 TB.

    Scale: sketches are ≤ k rows per group; the pair join is
    (groups·k)² at worst — groups are enumerable dimensions (event
    types, sources, days), so this broadcasts. Mergeability: sketch
    rows from shards union and re-rank (keep k smallest) losslessly.

    Plan note: the group-pair enumeration is a |groups|² inequality
    join over the ≤|groups|-row stats relation — it executes as a
    BroadcastNestedLoopJoin over BOUNDED input by construction (same
    class as domain_temperature_mix's documented 1-row normalizer
    broadcast), not a corpus-sized nested loop.
    """
    # ≤ k rows per group — materialize ONCE (eager localCheckpoint, the
    # repo's standard cut before self-join fan-out) so the three
    # downstream branches (stats, side A, side B) scan 320-ish rows
    # instead of re-deriving the corpus distinct+rank subtree each.
    sk = theta_sketch_rows(df, group_col, key_col, k=k).localCheckpoint()
    stats = sk.select(
        group_col, "theta", "n_distinct_seen"
    ).distinct()
    gp = (
        stats.select(
            F.col(group_col).alias("group_a"),
            F.col("theta").alias("theta_a"),
            F.col("n_distinct_seen").alias("n_a"),
        )
        .crossJoin(
            stats.select(
                F.col(group_col).alias("group_b"),
                F.col("theta").alias("theta_b"),
                F.col("n_distinct_seen").alias("n_b"),
            )
        )
        .filter(F.col("group_a") < F.col("group_b"))
        .withColumn("theta_ab", F.least("theta_a", "theta_b"))
    )
    ha = gp.join(
        sk.select(F.col(group_col).alias("group_a"), F.col("kmv_u").alias("u")),
        "group_a",
    ).filter(F.col("u") < F.col("theta_ab")).withColumn(
        "in_a", F.lit(1)
    ).withColumn("in_b", F.lit(0))
    hb = gp.join(
        sk.select(F.col(group_col).alias("group_b"), F.col("kmv_u").alias("u")),
        "group_b",
    ).filter(F.col("u") < F.col("theta_ab")).withColumn(
        "in_a", F.lit(0)
    ).withColumn("in_b", F.lit(1))
    per_hash = ha.unionByName(hb).groupBy(
        "group_a", "group_b", "theta_ab", "theta_a", "theta_b",
        "n_a", "n_b", "u",
    ).agg(
        F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b")
    )
    agg = per_hash.groupBy(
        "group_a", "group_b", "theta_ab", "theta_a", "theta_b", "n_a", "n_b"
    ).agg(
        F.count(F.lit(1)).alias("n_union"),
        F.sum(F.col("in_a") * F.col("in_b")).alias("n_inter"),
    )
    est_a = F.when(F.col("theta_a") == 1.0, F.col("n_a").cast("double")).otherwise(
        F.lit(float(k - 1)) / F.col("theta_a")
    )
    est_b = F.when(F.col("theta_b") == 1.0, F.col("n_b").cast("double")).otherwise(
        F.lit(float(k - 1)) / F.col("theta_b")
    )
    return agg.select(
        "group_a",
        "group_b",
        F.round(est_a, 6).alias("est_a"),
        F.round(est_b, 6).alias("est_b"),
        F.round(F.col("n_union") / F.col("theta_ab"), 6).alias("est_union"),
        F.round(F.col("n_inter") / F.col("theta_ab"), 6).alias("est_intersect"),
        F.round(F.col("n_inter") / F.col("n_union"), 6).alias("est_jaccard"),
    )


def theta_setops_sql(
    table: str,
    group_expr: str,
    key_expr: str,
    k: int = 64,
) -> str:
    """DuckDB oracle twin of ``theta_setops_pairs`` — same hash, same
    strict-< threshold convention, same estimators."""
    u_sql = md5_unit_interval_sql("kmv_key", salt="kmv:")
    return f"""
    WITH pairs0 AS (SELECT DISTINCT {group_expr} AS grp,
                           {key_expr} AS kmv_key FROM {table}
                    WHERE {key_expr} IS NOT NULL),
    hashed AS (SELECT grp, kmv_key, {u_sql} AS kmv_u FROM pairs0),
    ranked AS (SELECT grp, kmv_u,
                      ROW_NUMBER() OVER (PARTITION BY grp
                                         ORDER BY kmv_u, kmv_key) AS r
               FROM hashed),
    kept AS (SELECT grp, kmv_u FROM ranked WHERE r <= {k}),
    stats AS (SELECT grp, COUNT(*) AS n_seen,
                     COALESCE(MAX(CASE WHEN r = {k} THEN kmv_u END), 1.0)
                         AS theta
              FROM ranked WHERE r <= {k} GROUP BY grp),
    gp AS (SELECT a.grp AS group_a, b.grp AS group_b,
                  a.theta AS theta_a, b.theta AS theta_b,
                  a.n_seen AS n_a, b.n_seen AS n_b,
                  LEAST(a.theta, b.theta) AS theta_ab
           FROM stats a JOIN stats b ON a.grp < b.grp),
    sides AS (SELECT gp.*, kept.kmv_u AS u, 1 AS in_a, 0 AS in_b
              FROM gp JOIN kept ON kept.grp = gp.group_a
              WHERE kept.kmv_u < theta_ab
              UNION ALL
              SELECT gp.*, kept.kmv_u AS u, 0 AS in_a, 1 AS in_b
              FROM gp JOIN kept ON kept.grp = gp.group_b
              WHERE kept.kmv_u < theta_ab),
    per_hash AS (SELECT group_a, group_b, theta_ab, theta_a, theta_b,
                        n_a, n_b, u,
                        MAX(in_a) AS in_a, MAX(in_b) AS in_b
                 FROM sides
                 GROUP BY group_a, group_b, theta_ab, theta_a, theta_b,
                          n_a, n_b, u),
    agg AS (SELECT group_a, group_b, theta_ab, theta_a, theta_b, n_a, n_b,
                   COUNT(*) AS n_union, SUM(in_a * in_b) AS n_inter
            FROM per_hash
            GROUP BY group_a, group_b, theta_ab, theta_a, theta_b,
                     n_a, n_b)
    SELECT group_a, group_b,
           ROUND(CASE WHEN theta_a = 1.0 THEN CAST(n_a AS DOUBLE)
                      ELSE {float(k - 1)} / theta_a END, 6) AS est_a,
           ROUND(CASE WHEN theta_b = 1.0 THEN CAST(n_b AS DOUBLE)
                      ELSE {float(k - 1)} / theta_b END, 6) AS est_b,
           ROUND(n_union / theta_ab, 6) AS est_union,
           ROUND(n_inter / theta_ab, 6) AS est_intersect,
           ROUND(n_inter / CAST(n_union AS DOUBLE), 6) AS est_jaccard
    FROM agg
    """
