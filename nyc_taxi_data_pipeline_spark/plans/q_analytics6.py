"""Analytics & statistics catalog, part 6 — round-5 continuation waves.

Fundamental parametric tests the catalog's nonparametric tier was built
around but never included directly (Welch's t, one-way ANOVA F),
stratified pooled effects (Mantel-Haenszel), empirical-Bayes shrinkage
(James-Stein), exact-integer kernel density estimation, and a weekly
periodogram from literal trig tables. Same contract as every family
module: DataFrame-first Spark plans with full DuckDB value oracles;
rational statistics ride exact integer lanes (DECIMAL(38,0) `div` /
HUGEINT `//` truncating idiom) so every entry value-hashes bit-stably
cross-engine, and all integer output columns are BIGINT on both lanes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from nyc_taxi_data_pipeline_spark.operators.graph import bitmask_reach_rounds
from nyc_taxi_data_pipeline_spark.plans._base import (
    _register,
    _t,
    item_pairs,
    tiered_global_rank,
)

__all__: list[str] = []


def _cents(col: str) -> F.Column:
    return F.expr(f"CAST(round({col} * 100) AS BIGINT)")


# Shared daily-revenue frame (same base series the diagnostics family in
# q_analytics5 reads, so frequency-domain and time-domain views agree).
_DAILY_SQL = """
daily AS (
  SELECT CAST(ts AS DATE) AS d,
         sum(CAST(round(value * 100) AS BIGINT)) AS x
  FROM events WHERE event_type = 'purchase'
  GROUP BY 1
)
"""


def _daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.col("ts").cast("date").alias("d"))
        .agg(F.sum(_cents("value")).alias("x"))
    )


# ===========================================================================
# Parametric location tests: Welch's t and one-way ANOVA
# ===========================================================================

_WELCH_ORACLE = """
WITH s AS (
  SELECT CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS grp,
         CAST(round(value * 100) AS BIGINT) AS v
  FROM events WHERE event_type IN ('click', 'view')
),
g AS (
  SELECT grp,
         count(*)                      AS n,
         CAST(sum(v) AS BIGINT)        AS sv,
         CAST(sum(v * v) AS BIGINT)    AS qv
  FROM s GROUP BY grp
),
w AS (
  SELECT
    max(CASE WHEN grp = 1 THEN n  END) AS na,
    max(CASE WHEN grp = 1 THEN sv END) AS sa,
    max(CASE WHEN grp = 1 THEN qv END) AS qa,
    max(CASE WHEN grp = 0 THEN n  END) AS nb,
    max(CASE WHEN grp = 0 THEN sv END) AS sb,
    max(CASE WHEN grp = 0 THEN qv END) AS qb
  FROM g
)
SELECT CAST(na AS BIGINT) AS n_a,
       CAST(nb AS BIGINT) AS n_b,
       CAST(1000 * sa // na AS BIGINT) AS mean_a_milli,
       CAST(1000 * sb // nb AS BIGINT) AS mean_b_milli,
       CAST(1000 * (sa * nb - sb * na) // (na * nb) AS BIGINT)
         AS mean_diff_milli,
       CAST(
         (1000 * CAST(sa * nb - sb * na AS HUGEINT) * (sa * nb - sb * na))
         //
         (CAST(nb AS HUGEINT) * nb
           * ((CAST(na AS HUGEINT) * qa - CAST(sa AS HUGEINT) * sa)
              // (na - 1))
          + CAST(na AS HUGEINT) * na
           * ((CAST(nb AS HUGEINT) * qb - CAST(sb AS HUGEINT) * sb)
              // (nb - 1)))
         AS BIGINT) AS t2_milli
FROM w
"""


@_register("welch_t_test", _WELCH_ORACLE)
def welch_t_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance two-sample t test (click vs view event
    values), reported as t^2 so the statistic stays rational: with
    S=sum(v), Q=sum(v^2) per group and nv_g = (n_g*Q_g - S_g^2)/(n_g-1)
    (= n_g * sample variance, reduced FIRST so it stays int64),
      t^2 = (Sa*nb - Sb*na)^2 / (nb^2 * nv_a + na^2 * nv_b)
    — one 128-bit truncating division, no square root, no float
    intermediate. This is the PARAMETRIC member the catalog's location
    tests were built around (rank_sum_auc is the rank version,
    permutation_test_mean_diff the resampling version, cohens_d the
    effect size) but never included directly; t^2 ~ F(1, df) reads on
    the same alarm ladder as anova_oneway_f. Scale shape: one hash
    aggregate to 2 rows (map-side partials carry n/S/Q), constant work
    after — the canonical 100 TB test query."""
    s = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "view"))
        .select(
            F.when(F.col("event_type") == "click", 1).otherwise(0).alias("grp"),
            _cents("value").alias("v"),
        )
    )
    g = s.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("sv"),
        F.sum(F.expr("v * v")).alias("qv"),
    )
    w = g.agg(
        F.max(F.when(F.col("grp") == 1, F.col("n"))).alias("na"),
        F.max(F.when(F.col("grp") == 1, F.col("sv"))).alias("sa"),
        F.max(F.when(F.col("grp") == 1, F.col("qv"))).alias("qa"),
        F.max(F.when(F.col("grp") == 0, F.col("n"))).alias("nb"),
        F.max(F.when(F.col("grp") == 0, F.col("sv"))).alias("sb"),
        F.max(F.when(F.col("grp") == 0, F.col("qv"))).alias("qb"),
    )
    return w.select(
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.expr("CAST(1000 * sa div na AS BIGINT)").alias("mean_a_milli"),
        F.expr("CAST(1000 * sb div nb AS BIGINT)").alias("mean_b_milli"),
        F.expr(
            "CAST(1000 * (sa * nb - sb * na) div (na * nb) AS BIGINT)"
        ).alias("mean_diff_milli"),
        # Spark `div` always lands in BIGINT (and WRAPS past int64 — the
        # round-4 chebyshev lesson), so the per-group variance numerators
        # are reduced by (n-1) FIRST (n^2*var ~ 1e13, int64-safe) and the
        # single 128-bit division is the final one.
        F.expr(
            "CAST("
            " (1000 * CAST(sa * nb - sb * na AS DECIMAL(38,0))"
            "  * (sa * nb - sb * na))"
            " div"
            " (CAST(nb AS DECIMAL(38,0)) * nb"
            "   * ((CAST(na AS DECIMAL(38,0)) * qa"
            "       - CAST(sa AS DECIMAL(38,0)) * sa) div (na - 1))"
            "  + CAST(na AS DECIMAL(38,0)) * na"
            "   * ((CAST(nb AS DECIMAL(38,0)) * qb"
            "       - CAST(sb AS DECIMAL(38,0)) * sb) div (nb - 1)))"
            " AS BIGINT)"
        ).alias("t2_milli"),
    )


_ANOVA_ORACLE = """
WITH s AS (
  SELECT event_type AS grp, CAST(round(value * 100) AS BIGINT) AS v
  FROM events
),
g AS (
  SELECT grp,
         count(*)                   AS n_g,
         CAST(sum(v) AS BIGINT)     AS sv,
         CAST(sum(v * v) AS BIGINT) AS qv
  FROM s GROUP BY grp
),
tot AS (
  SELECT count(*)                         AS k,
         CAST(sum(n_g) AS BIGINT)         AS n,
         CAST(sum(sv) AS BIGINT)          AS stot,
         CAST(sum(qv) AS BIGINT)          AS q,
         CAST(sum(CAST(sv AS HUGEINT) * sv // n_g) AS HUGEINT) AS between_raw
  FROM g
)
SELECT CAST(k AS BIGINT) AS k_groups,
       n AS n_total,
       CAST(between_raw - CAST(stot AS HUGEINT) * stot // n AS BIGINT)
         AS ssb,
       CAST(q - between_raw AS BIGINT) AS ssw,
       CAST(1000 * (between_raw - CAST(stot AS HUGEINT) * stot // n)
            * (n - k) // ((q - between_raw) * (k - 1)) AS BIGINT)
         AS f_milli,
       CAST(k - 1 AS BIGINT) AS df1,
       CAST(n - k AS BIGINT) AS df2
FROM tot
"""


@_register("anova_oneway_f", _ANOVA_ORACLE)
def anova_oneway_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F statistic across the five event types: the
    between/within variance decomposition SSB = sum_g(Sg^2/ng) - S^2/n,
    SSW = Q - sum_g(Sg^2/ng), F = (SSB/(k-1))/(SSW/(n-k)) — the
    parametric k-group omnibus the catalog's kruskal_wallis (rank) and
    mood_median (median) tests approximate from below. Per-group Sg^2/ng
    terms use the truncating 128-bit `div` recipe identically on both
    lanes, so the sums-of-squares value-check as exact integers (the
    sub-cent truncation bias is identical cross-engine and ~1e-15 of the
    statistic). Scale shape: one hash aggregate to k rows with mergeable
    (n, S, Q) partials, constant work after — the textbook map-side
    combine query."""
    s = _t(spark, sf_dir, "events").select(
        F.col("event_type").alias("grp"), _cents("value").alias("v")
    )
    g = s.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_g"),
        F.sum("v").alias("sv"),
        F.sum(F.expr("v * v")).alias("qv"),
    )
    tot = g.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n_g").alias("n"),
        F.sum("sv").alias("stot"),
        F.sum("qv").alias("q"),
        F.sum(
            F.expr("CAST(sv AS DECIMAL(38,0)) * sv div n_g")
        ).alias("between_raw"),
    )
    return tot.select(
        F.col("k").cast("long").alias("k_groups"),
        F.col("n").cast("long").alias("n_total"),
        F.expr(
            "CAST(between_raw - CAST(stot AS DECIMAL(38,0)) * stot div n"
            " AS BIGINT)"
        ).alias("ssb"),
        F.expr("CAST(q - between_raw AS BIGINT)").alias("ssw"),
        F.expr(
            "CAST(1000 * CAST(between_raw"
            "  - CAST(stot AS DECIMAL(38,0)) * stot div n AS DECIMAL(38,0))"
            " * (n - k) div (CAST(q - between_raw AS DECIMAL(38,0)) * (k - 1))"
            " AS BIGINT)"
        ).alias("f_milli"),
        F.expr("CAST(k - 1 AS BIGINT)").alias("df1"),
        F.expr("CAST(n - k AS BIGINT)").alias("df2"),
    )


# ===========================================================================
# Stratified pooled effect: Mantel-Haenszel
# ===========================================================================

_MH_ORACLE = """
WITH s AS (
  SELECT n.n_name AS stratum,
         CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS e,
         CASE WHEN o.o_orderpriority LIKE '1%' THEN 1 ELSE 0 END AS y
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
),
cells AS (
  SELECT stratum,
         sum(CASE WHEN e = 1 AND y = 1 THEN 1 ELSE 0 END) AS a,
         sum(CASE WHEN e = 1 AND y = 0 THEN 1 ELSE 0 END) AS b,
         sum(CASE WHEN e = 0 AND y = 1 THEN 1 ELSE 0 END) AS c,
         sum(CASE WHEN e = 0 AND y = 0 THEN 1 ELSE 0 END) AS d,
         count(*) AS nst
  FROM s GROUP BY stratum
),
pooled AS (
  SELECT count(*) AS n_strata,
         CAST(sum(1000000 * a * d // nst) AS BIGINT) AS r_scaled,
         CAST(sum(1000000 * b * c // nst) AS BIGINT) AS s_scaled
  FROM cells
)
SELECT CAST(n_strata AS BIGINT) AS n_strata,
       r_scaled,
       s_scaled,
       CAST(1000 * r_scaled // s_scaled AS BIGINT) AS or_mh_milli
FROM pooled
"""


@_register("mantel_haenszel_pooled_or", _MH_ORACLE)
def mantel_haenszel_pooled_or(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mantel-Haenszel pooled odds ratio across 25 nation strata
    (exposure: BUILDING market segment; outcome: 1-URGENT priority):
    OR_MH = sum_s(a_s d_s / n_s) / sum_s(b_s c_s / n_s) — the
    confounder-adjusted pooled effect that odds_ratio_by_nation reports
    per-stratum and simpson_paradox_audit diagnoses; MH is what you
    publish AFTER the Simpson check says the strata agree. Per-stratum
    terms ride a ppm-scaled truncating division (identical recipe both
    lanes) so the pooled ratio is one exact integer division. Scale
    shape: two broadcast dim joins onto the fact, one rollup to 25
    strata, constant pooling — at 100 TB the 2x2 cells are mergeable
    partials per stratum."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    s = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select(
            F.col("n_name").alias("stratum"),
            F.when(F.col("c_mktsegment") == "BUILDING", 1).otherwise(0).alias(
                "e"
            ),
            F.when(F.col("o_orderpriority").startswith("1"), 1)
            .otherwise(0)
            .alias("y"),
        )
    )
    cells = s.groupBy("stratum").agg(
        F.sum(F.expr("CASE WHEN e = 1 AND y = 1 THEN 1 ELSE 0 END")).alias("a"),
        F.sum(F.expr("CASE WHEN e = 1 AND y = 0 THEN 1 ELSE 0 END")).alias("b"),
        F.sum(F.expr("CASE WHEN e = 0 AND y = 1 THEN 1 ELSE 0 END")).alias("c"),
        F.sum(F.expr("CASE WHEN e = 0 AND y = 0 THEN 1 ELSE 0 END")).alias("d"),
        F.count(F.lit(1)).alias("nst"),
    )
    pooled = cells.agg(
        F.count(F.lit(1)).alias("n_strata"),
        F.sum(F.expr("1000000 * a * d div nst")).alias("r_scaled"),
        F.sum(F.expr("1000000 * b * c div nst")).alias("s_scaled"),
    )
    return pooled.select(
        F.col("n_strata").cast("long").alias("n_strata"),
        F.col("r_scaled").cast("long").alias("r_scaled"),
        F.col("s_scaled").cast("long").alias("s_scaled"),
        F.expr("CAST(1000 * r_scaled div s_scaled AS BIGINT)").alias(
            "or_mh_milli"
        ),
    )


# ===========================================================================
# Empirical Bayes: James-Stein shrinkage of group means
# ===========================================================================

_JS_ORACLE = """
WITH x AS (
  SELECT n.n_name,
         CAST(round(c.c_acctbal * 100) AS BIGINT) AS v
  FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
),
g AS (
  SELECT n_name,
         count(*)                   AS n_g,
         CAST(sum(v) AS BIGINT)     AS sv,
         CAST(sum(v * v) AS BIGINT) AS qv
  FROM x GROUP BY n_name
),
m AS (
  SELECT n_name, n_g, sv, qv, sv // n_g AS mean_c FROM g
),
tot AS (
  SELECT count(*) AS k,
         CAST(sum(n_g) AS BIGINT) AS n,
         CAST(sum(sv) AS BIGINT) // CAST(sum(n_g) AS BIGINT) AS grand_c,
         CAST(sum(qv - CAST(sv AS HUGEINT) * sv // n_g) AS BIGINT) AS ssw
  FROM m
),
f AS (
  SELECT t.k, t.n, t.grand_c,
         (t.ssw // (t.n - t.k)) // (t.n // t.k) AS vbar,
         CAST(sum(CAST(m.mean_c - t.grand_c AS HUGEINT)
                  * (m.mean_c - t.grand_c)) AS BIGINT) AS ssdev
  FROM m, tot t
  GROUP BY t.k, t.n, t.grand_c, t.ssw
),
fac AS (
  SELECT k, n, grand_c, ssdev,
         greatest(0, 1000000 - 1000000 * (k - 3) * vbar // ssdev)
           AS factor_ppm
  FROM f
)
SELECT m.n_name,
       CAST(m.n_g AS BIGINT) AS n_g,
       CAST(m.mean_c AS BIGINT) AS mean_cents,
       CAST(fac.grand_c + factor_ppm * (m.mean_c - fac.grand_c) // 1000000
            AS BIGINT) AS shrunk_cents,
       CAST(factor_ppm AS BIGINT) AS factor_ppm
FROM m, fac
ORDER BY m.n_name
"""


@_register("james_stein_shrinkage", _JS_ORACLE)
def james_stein_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """James-Stein empirical-Bayes shrinkage of the 25 per-nation mean
    account balances toward the grand mean: factor = max(0, 1 -
    (k-3)*vbar / sum_i (m_i - m)^2) with vbar the pooled within-group
    variance of a group mean — the estimator that DOMINATES the raw
    group means in total squared error for k >= 4 (Stein's paradox) and
    the closed-form ancestor of every hierarchical-model partial pool.
    All lanes are truncating integer divisions on cent-scaled sums,
    identical cross-engine, so the shrunk means value-check exactly.
    Scale shape: one rollup to k rows carrying (n, S, Q) partials, a
    broadcast of the 1-row pooled stats back onto the k-row frame —
    group count k is the only data-independent dimension."""
    x = (
        _t(spark, sf_dir, "customer")
        .join(
            F.broadcast(_t(spark, sf_dir, "nation")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("n_name", _cents("c_acctbal").alias("v"))
    )
    g = x.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_g"),
        F.sum("v").alias("sv"),
        F.sum(F.expr("v * v")).alias("qv"),
    )
    m = g.select(
        "n_name", "n_g", "sv", "qv", F.expr("sv div n_g").alias("mean_c")
    ).localCheckpoint(eager=False)
    tot = m.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n_g").alias("n"),
        F.expr("sum(sv) div sum(n_g)").alias("grand_c"),
        F.sum(
            F.expr("qv - CAST(sv AS DECIMAL(38,0)) * sv div n_g")
        ).alias("ssw"),
    )
    f = (
        m.crossJoin(F.broadcast(tot))
        .groupBy("k", "n", "grand_c", "ssw")
        .agg(
            F.sum(
                F.expr(
                    "CAST(mean_c - grand_c AS DECIMAL(38,0))"
                    " * (mean_c - grand_c)"
                )
            ).alias("ssdev")
        )
        .select(
            "k",
            "n",
            "grand_c",
            "ssdev",
            F.expr(
                "greatest(CAST(0 AS BIGINT), 1000000"
                " - 1000000 * (k - 3) * ((ssw div (n - k)) div (n div k))"
                "   div ssdev)"
            ).alias("factor_ppm"),
        )
    )
    return (
        m.crossJoin(F.broadcast(f))
        .select(
            "n_name",
            F.col("n_g").cast("long").alias("n_g"),
            F.col("mean_c").cast("long").alias("mean_cents"),
            F.expr(
                "CAST(grand_c + factor_ppm * (mean_c - grand_c) div 1000000"
                " AS BIGINT)"
            ).alias("shrunk_cents"),
            F.col("factor_ppm").cast("long").alias("factor_ppm"),
        )
        .orderBy("n_name")
    )


# ===========================================================================
# Exact-integer kernel density estimation
# ===========================================================================

_KDE_ORACLE = """
WITH v AS (
  SELECT CAST(round(value * 100) AS BIGINT) AS v
  FROM events WHERE event_type = 'purchase'
),
grid AS (SELECT 2500 * unnest(range(0, 21)) AS g),
n AS (SELECT count(*) AS n FROM v)
SELECT CAST(grid.g AS BIGINT) AS g_cents,
       CAST(n.n AS BIGINT) AS n_obs,
       CAST(sum(greatest(0, 2500 - abs(v.v - grid.g))) AS BIGINT)
         AS kde_raw,
       CAST(1000000000 * CAST(sum(greatest(0, 2500 - abs(v.v - grid.g)))
            AS HUGEINT) // (n.n * 2500 * 2500) AS BIGINT) AS density_ppb
FROM grid CROSS JOIN v CROSS JOIN n
GROUP BY grid.g, n.n
ORDER BY g_cents
"""


@_register("kde_triangular_grid", _KDE_ORACLE)
def kde_triangular_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kernel density estimate of purchase values on a fixed 21-point
    grid (0..50000 cents, step 2500) with a triangular kernel of
    bandwidth h=2500: K contributions are max(0, h - |v - g|) — an
    INTEGER, so the whole density curve value-checks exactly
    (density_ppb = 1e9 * sum(K) / (n h^2), the kernel's mass being h^2).
    The smooth-density companion to histogram_equiwidth's binned view
    and distribution_drift_psi's binned comparisons: KDE reads modes
    and tails a coarse histogram quantizes away, and the triangular
    kernel is the exactness-preserving member of the kernel family
    (Gaussian would need libm). Scale shape: the 21-row grid broadcasts
    onto the scan; per-gridpoint sums are mergeable map-side partials —
    one rollup to 21 rows, never a data-sized shuffle."""
    v = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(_cents("value").alias("v"))
    )
    grid = spark.range(0, 21).select((F.col("id") * 2500).alias("g"))
    joined = v.crossJoin(F.broadcast(grid))
    agg = joined.groupBy("g").agg(
        F.sum(F.expr("greatest(0, 2500 - abs(v - g))")).alias("kde_raw"),
        F.count(F.lit(1)).alias("n_obs"),
    )
    return agg.select(
        F.col("g").cast("long").alias("g_cents"),
        F.col("n_obs").cast("long").alias("n_obs"),
        F.col("kde_raw").cast("long").alias("kde_raw"),
        F.expr(
            "CAST(1000000000 * CAST(kde_raw AS DECIMAL(38,0))"
            " div (n_obs * 2500 * 2500) AS BIGINT)"
        ).alias("density_ppb"),
    ).orderBy("g_cents")


# ===========================================================================
# Frequency domain: weekly periodogram from literal trig tables
# ===========================================================================

# cos/sin(2*pi*k/7) * 1e4, k = 0..6 — literal constants on BOTH lanes so
# no runtime libm call can drift cross-engine.
_COS7 = [10000, 6235, -2225, -9010, -9010, -2225, 6235]
_SIN7 = [0, 7818, 9749, 4339, -4339, -9749, -7818]

_DFT_ORACLE = (
    "WITH "
    + _DAILY_SQL
    + f""",
idx AS (
  SELECT row_number() OVER (ORDER BY d) AS t, x FROM daily
),
tot AS (SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS s FROM idx),
dm AS (
  SELECT t,
         CAST(tot.n * idx.x - tot.s AS BIGINT) AS xd,
         ([{','.join(str(c) for c in _COS7)}])[(t - 1) % 7 + 1] AS c4,
         ([{','.join(str(c) for c in _SIN7)}])[(t - 1) % 7 + 1] AS s4,
         tot.n AS n
  FROM idx, tot
),
acc AS (
  SELECT max(n) AS n,
         CAST(sum(xd * c4) AS BIGINT) AS cr,
         CAST(sum(xd * s4) AS BIGINT) AS sr,
         CAST(sum(CAST(xd AS HUGEINT) * xd) AS HUGEINT) AS q
  FROM dm
)
SELECT CAST(n AS BIGINT) AS n_days,
       cr AS dft_cos_scaled,
       sr AS dft_sin_scaled,
       CAST(2000000 * (CAST(cr AS HUGEINT) * cr + CAST(sr AS HUGEINT) * sr)
            // (n * 100000000 * q) AS BIGINT) AS weekly_power_ppm
FROM acc
"""
)


@_register("dft_weekly_power", _DFT_ORACLE)
def dft_weekly_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-frequency discrete Fourier transform of daily revenue at
    the weekly frequency (period 7): C = sum(xd_t cos(2 pi t/7)),
    S = sum(xd_t sin(.)) over the n-scaled demeaned series xd = n*x - S,
    and the normalized periodogram share weekly_power_ppm =
    2(C^2+S^2)/(n * sum xd^2) — the FREQUENCY-domain view of weekly
    seasonality beside the time-domain members (autocorrelation_lag_k
    reads lag-7 correlation, dow_seasonality_profile the day means,
    haar_wavelet_energy the dyadic scales). Trig values are 1e-4-scaled
    LITERAL tables (no runtime libm), so every lane is exact integer and
    the power share value-checks cross-engine; Cauchy-Schwarz bounds the
    share at 1e6, making overflow impossible in the 128-bit lanes.
    Scale shape: day rollup, a 1-row total broadcast back, one linear
    pass — per-series DFT at 100 TB runs inside the same two aggregates
    keyed by series."""
    daily = _daily(spark, sf_dir).localCheckpoint(eager=False)
    idx = daily.select(
        F.row_number().over(W.orderBy("d")).alias("t"), "x"
    )
    tot = daily.agg(
        F.count(F.lit(1)).alias("n"), F.sum("x").alias("s")
    )
    cos_arr = "array(" + ",".join(str(c) for c in _COS7) + ")"
    sin_arr = "array(" + ",".join(str(c) for c in _SIN7) + ")"
    dm = idx.crossJoin(F.broadcast(tot)).select(
        F.expr("CAST(n * x - s AS BIGINT)").alias("xd"),
        F.expr(f"element_at({cos_arr}, CAST((t - 1) % 7 + 1 AS INT))").alias(
            "c4"
        ),
        F.expr(f"element_at({sin_arr}, CAST((t - 1) % 7 + 1 AS INT))").alias(
            "s4"
        ),
        "n",
    )
    acc = dm.agg(
        F.max("n").alias("n"),
        F.sum(F.expr("xd * c4")).alias("cr"),
        F.sum(F.expr("xd * s4")).alias("sr"),
        F.sum(F.expr("CAST(xd AS DECIMAL(38,0)) * xd")).alias("q"),
    )
    return acc.select(
        F.col("n").cast("long").alias("n_days"),
        F.col("cr").cast("long").alias("dft_cos_scaled"),
        F.col("sr").cast("long").alias("dft_sin_scaled"),
        F.expr(
            "CAST(2000000 * (CAST(cr AS DECIMAL(38,0)) * cr"
            " + CAST(sr AS DECIMAL(38,0)) * sr)"
            " div (n * 100000000 * q) AS BIGINT)"
        ).alias("weekly_power_ppm"),
    )


# ===========================================================================
# Seasonal exponential smoothing: Holt-Winters additive
# ===========================================================================

_HW_ORACLE = (
    "WITH RECURSIVE "
    + _DAILY_SQL.strip().lstrip()
    + """,
idx AS (SELECT row_number() OVER (ORDER BY d) AS t, x FROM daily),
xsl AS (SELECT list(x ORDER BY t) AS xs FROM idx),
init AS (
  SELECT (1000 * list_sum(xs[1:7])) // 7 AS l0,
         (1000 * (list_sum(xs[8:14]) - list_sum(xs[1:7]))) // 49 AS b0
  FROM xsl
),
rec(t, l, b, sv) AS (
  SELECT 7, init.l0, init.b0,
         [1000 * xs[k] - init.l0 for k in range(1, 8)]
  FROM xsl, init
  UNION ALL
  SELECT r.t + 1,
         (200 * (1000 * xs[r.t + 1] - r.sv[(r.t % 7) + 1])
          + 800 * (r.l + r.b)) // 1000,
         (100 * ((200 * (1000 * xs[r.t + 1] - r.sv[(r.t % 7) + 1])
                  + 800 * (r.l + r.b)) // 1000 - r.l)
          + 900 * r.b) // 1000,
         [CASE WHEN i = (r.t % 7) + 1
               THEN (300 * (1000 * xs[r.t + 1]
                            - ((200 * (1000 * xs[r.t + 1]
                                       - r.sv[(r.t % 7) + 1])
                                + 800 * (r.l + r.b)) // 1000))
                     + 700 * r.sv[(r.t % 7) + 1]) // 1000
               ELSE r.sv[i] END
          for i in range(1, 8)]
  FROM rec r, xsl WHERE r.t < len(xs)
)
SELECT CAST(len(xs) AS BIGINT) AS n_days,
       CAST(r.l AS BIGINT) AS level_milli,
       CAST(r.b AS BIGINT) AS trend_milli,
       CAST(r.l + r.b + r.sv[(len(xs) % 7) + 1] AS BIGINT) AS f1_milli,
       CAST(r.l + 7 * r.b + r.sv[((len(xs) + 6) % 7) + 1] AS BIGINT)
         AS f7_milli
FROM rec r, xsl WHERE r.t = len(xs)
"""
)


@_register("holt_winters_additive", _HW_ORACLE)
def holt_winters_additive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters ADDITIVE seasonal smoothing (level + trend + 7-slot
    weekly seasonal state; alpha=0.2, beta=0.1, gamma=0.3) over daily
    revenue, completing the exponential-smoothing ladder the catalog
    climbs (ewma = level, holt_linear = +trend, croston = intermittent;
    this adds the seasonal component): l_t = a(x_t - s_{t-7}) +
    (1-a)(l+b), b_t = B(l_t - l) + (1-B)b, s_t = g(x_t - l_t) +
    (1-g)s_{t-7}, initialized from the first two weeks. All state rides
    integer milli-cents with truncating division, so the fold
    value-checks bit-for-bit against a recursive-CTE oracle carrying the
    7-slot seasonal LIST through the recursion. Scale shape: one bounded
    array fold after the day rollup — per-series state never shuffles;
    at 100 TB each series folds independently inside aggregate()."""
    daily = _daily(spark, sf_dir)
    arr = daily.agg(
        F.sort_array(F.collect_list(F.struct("d", "x"))).alias("s")
    ).select(F.expr("transform(s, r -> r.x)").alias("xs"))
    su = lambda lo, ln: (  # noqa: E731 — local SQL fragment builder
        f"aggregate(slice(xs, {lo}, {ln}), CAST(0 AS BIGINT), (a, v) -> a + v)"
    )
    init = arr.select(
        "xs",
        F.expr(f"(1000 * {su(1, 7)}) div 7").alias("l0"),
        F.expr(f"(1000 * ({su(8, 7)} - {su(1, 7)})) div 49").alias("b0"),
    )
    st = init.select(
        F.expr("CAST(size(xs) AS BIGINT)").alias("n_days"),
        F.expr(
            "aggregate(slice(xs, 8, size(xs) - 7),"
            " named_struct("
            "   'l', l0, 'b', b0,"
            "   'sv', transform(slice(xs, 1, 7), v -> 1000 * v - l0),"
            "   'i', 0),"
            # nested single-element transforms BIND s_old then l_new once
            # (lambda-binding idiom: codegen CSE does not cross lambdas)
            " (acc, x) -> element_at(transform("
            "   array(element_at(acc.sv, acc.i + 1)), so ->"
            "   element_at(transform("
            "     array((200 * (1000 * x - so) + 800 * (acc.l + acc.b))"
            "           div 1000), ln ->"
            "     named_struct("
            "       'l', ln,"
            "       'b', (100 * (ln - acc.l) + 900 * acc.b) div 1000,"
            "       'sv', transform(acc.sv, (v, j) -> IF(j = acc.i,"
            "             (300 * (1000 * x - ln) + 700 * so) div 1000, v)),"
            "       'i', CAST((acc.i + 1) % 7 AS INT))"
            "   ), 1)"
            " ), 1))"
        ).alias("st"),
    )
    return st.select(
        "n_days",
        F.col("st.l").alias("level_milli"),
        F.col("st.b").alias("trend_milli"),
        F.expr(
            "st.l + st.b + element_at(st.sv, CAST(n_days % 7 + 1 AS INT))"
        ).alias("f1_milli"),
        F.expr(
            "st.l + 7 * st.b"
            " + element_at(st.sv, CAST((n_days + 6) % 7 + 1 AS INT))"
        ).alias("f7_milli"),
    )


# ===========================================================================
# Actuarial: chain-ladder loss development over the order-year triangle
# ===========================================================================

_CL_ORACLE = """
WITH cutoff AS (SELECT max(year(l_shipdate)) AS ky FROM lineitem),
cells AS (
  SELECT year(o.o_orderdate) AS oy,
         year(l.l_shipdate) - year(o.o_orderdate) AS w,
         CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
              AS BIGINT) AS sv
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE year(l.l_shipdate) >= year(o.o_orderdate)
  GROUP BY 1, 2
),
origins AS (
  SELECT oy, least(6, ky - oy) AS wl
  FROM (SELECT DISTINCT year(o_orderdate) AS oy FROM orders), cutoff
  WHERE ky - oy >= 0
),
spine AS (
  SELECT o.oy, o.wl, g.w
  FROM origins o JOIN (SELECT unnest(range(0, 7)) AS w) g ON g.w <= o.wl
),
cum AS (
  SELECT s.oy, s.wl, s.w,
         CAST(sum(coalesce(c.sv, 0))
              OVER (PARTITION BY s.oy ORDER BY s.w) AS BIGINT) AS c
  FROM spine s LEFT JOIN cells c ON c.oy = s.oy AND c.w = s.w
),
factors AS (
  SELECT
    1000000 * CAST(sum(CASE WHEN w = 1 THEN c END) AS BIGINT)
      // nullif(sum(CASE WHEN w = 0 AND wl >= 1 THEN c END), 0) AS f0,
    1000000 * CAST(sum(CASE WHEN w = 2 THEN c END) AS BIGINT)
      // nullif(sum(CASE WHEN w = 1 AND wl >= 2 THEN c END), 0) AS f1,
    1000000 * CAST(sum(CASE WHEN w = 3 THEN c END) AS BIGINT)
      // nullif(sum(CASE WHEN w = 2 AND wl >= 3 THEN c END), 0) AS f2,
    1000000 * CAST(sum(CASE WHEN w = 4 THEN c END) AS BIGINT)
      // nullif(sum(CASE WHEN w = 3 AND wl >= 4 THEN c END), 0) AS f3,
    1000000 * CAST(sum(CASE WHEN w = 5 THEN c END) AS BIGINT)
      // nullif(sum(CASE WHEN w = 4 AND wl >= 5 THEN c END), 0) AS f4,
    1000000 * CAST(sum(CASE WHEN w = 6 THEN c END) AS BIGINT)
      // nullif(sum(CASE WHEN w = 5 AND wl >= 6 THEN c END), 0) AS f5
  FROM cum
),
latest AS (SELECT oy, wl, c AS latest_c FROM cum WHERE w = wl)
SELECT CAST(l.oy AS BIGINT) AS origin_year,
       CAST(l.wl AS BIGINT) AS dev_years_observed,
       l.latest_c AS latest_cents,
       CAST(CASE l.wl WHEN 0 THEN ((((((l.latest_c * f.f0 // 1000000) * f.f1 // 1000000) * f.f2 // 1000000) * f.f3 // 1000000) * f.f4 // 1000000) * f.f5 // 1000000) WHEN 1 THEN (((((l.latest_c * f.f1 // 1000000) * f.f2 // 1000000) * f.f3 // 1000000) * f.f4 // 1000000) * f.f5 // 1000000) WHEN 2 THEN ((((l.latest_c * f.f2 // 1000000) * f.f3 // 1000000) * f.f4 // 1000000) * f.f5 // 1000000) WHEN 3 THEN (((l.latest_c * f.f3 // 1000000) * f.f4 // 1000000) * f.f5 // 1000000) WHEN 4 THEN ((l.latest_c * f.f4 // 1000000) * f.f5 // 1000000) WHEN 5 THEN (l.latest_c * f.f5 // 1000000) WHEN 6 THEN l.latest_c END AS BIGINT) AS ultimate_cents,
       CAST(CASE l.wl WHEN 0 THEN ((((((l.latest_c * f.f0 // 1000000) * f.f1 // 1000000) * f.f2 // 1000000) * f.f3 // 1000000) * f.f4 // 1000000) * f.f5 // 1000000) WHEN 1 THEN (((((l.latest_c * f.f1 // 1000000) * f.f2 // 1000000) * f.f3 // 1000000) * f.f4 // 1000000) * f.f5 // 1000000) WHEN 2 THEN ((((l.latest_c * f.f2 // 1000000) * f.f3 // 1000000) * f.f4 // 1000000) * f.f5 // 1000000) WHEN 3 THEN (((l.latest_c * f.f3 // 1000000) * f.f4 // 1000000) * f.f5 // 1000000) WHEN 4 THEN ((l.latest_c * f.f4 // 1000000) * f.f5 // 1000000) WHEN 5 THEN (l.latest_c * f.f5 // 1000000) WHEN 6 THEN l.latest_c END - l.latest_c AS BIGINT) AS reserve_cents
FROM latest l, factors f
ORDER BY origin_year
"""


@_register("chain_ladder_reserve", _CL_ORACLE)
def chain_ladder_reserve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chain-ladder reserving on the natural run-off triangle the lake
    already contains: origin = order year, development lag = ship year
    minus order year (0..6), amount = shipped revenue — the calendar
    cutoff at the newest ship date truncates later origins to fewer
    observed development years, the classic actuarial triangle.
    Volume-weighted age-to-age factors f_j = sum_i C(i,j+1) /
    sum_i C(i,j) (denominator restricted to origins that observe dev
    j+1) develop each origin's latest cumulative to ultimate through
    the remaining factor chain (ppm truncating products, identical on
    both lanes); reserve = ultimate - latest. The projection member of
    the cohort family: cohort_ltv_curves reports observed development,
    this entry completes the unseen tail — and the same estimator IS
    insurance IBNR reserving. The partial-last-diagonal bias (the
    newest calendar year is incomplete) is the textbook CL caveat and
    is retained deliberately. Scale shape: one fact rollup to <= 28
    cells, a dense 7-slot spine, one window cumsum, a 1-row factor
    broadcast — mergeable at any volume."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    cutoff = li.agg(F.expr("max(year(l_shipdate))").alias("ky"))
    cells = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.expr("year(l_shipdate) >= year(o_orderdate)"))
        .groupBy(
            F.expr("year(o_orderdate)").alias("oy"),
            F.expr("year(l_shipdate) - year(o_orderdate)").alias("w"),
        )
        .agg(F.sum(_cents("l_extendedprice")).alias("sv"))
    )
    origins = (
        o.select(F.expr("year(o_orderdate)").alias("oy"))
        .distinct()
        .crossJoin(F.broadcast(cutoff))
        .select("oy", F.expr("least(6, ky - oy)").alias("wl"))
        .filter(F.col("wl") >= 0)
    )
    grid = spark.range(0, 7).select(F.col("id").cast("int").alias("w"))
    spine = origins.crossJoin(F.broadcast(grid)).filter(
        F.col("w") <= F.col("wl")
    )
    cum = (
        spine.join(cells, ["oy", "w"], "left")
        .select(
            "oy",
            "wl",
            "w",
            F.sum(F.expr("coalesce(sv, CAST(0 AS BIGINT))"))
            .over(W.partitionBy("oy").orderBy("w"))
            .alias("c"),
        )
        .localCheckpoint(eager=False)
    )
    factors = cum.agg(
        *[
            F.expr(
                f"1000000 * CAST(sum(CASE WHEN w = {j + 1} THEN c END)"
                " AS BIGINT)"
                f" div nullif(sum(CASE WHEN w = {j} AND wl >= {j + 1}"
                " THEN c END), 0)"
            ).alias(f"f{j}")
            for j in range(6)
        ]
    )
    def _chain(wl: int) -> str:
        e = "latest_c"
        for j in range(wl, 6):
            e = f"({e} * f{j} div 1000000)"
        return e

    case_spark = (
        "CASE wl "
        + " ".join(f"WHEN {wl} THEN {_chain(wl)}" for wl in range(7))
        + " END"
    )
    return (
        cum.filter(F.col("w") == F.col("wl"))
        .select("oy", "wl", F.col("c").alias("latest_c"))
        .crossJoin(F.broadcast(factors))
        .select(
            F.col("oy").cast("long").alias("origin_year"),
            F.col("wl").cast("long").alias("dev_years_observed"),
            F.col("latest_c").cast("long").alias("latest_cents"),
            F.expr(f"CAST({case_spark} AS BIGINT)").alias("ultimate_cents"),
            F.expr(f"CAST({case_spark} - latest_c AS BIGINT)").alias(
                "reserve_cents"
            ),
        )
        .orderBy("origin_year")
    )


# ===========================================================================
# Portfolio theory: two-asset minimum-variance weights
# ===========================================================================

_MINVAR_ORACLE = """
WITH pa AS (
  SELECT CAST(ts AS DATE) AS d,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS xa
  FROM events WHERE event_type = 'purchase' GROUP BY 1
),
pb AS (
  SELECT CAST(ts AS DATE) AS d,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS xb
  FROM events WHERE event_type = 'click' GROUP BY 1
),
j AS (SELECT pa.xa, pb.xb FROM pa JOIN pb ON pa.d = pb.d),
m AS (
  SELECT count(*) AS n,
         CAST(sum(xa) AS BIGINT) AS sa, CAST(sum(xb) AS BIGINT) AS sb,
         CAST(sum(xa * xa) AS BIGINT) AS qa,
         CAST(sum(xb * xb) AS BIGINT) AS qb,
         CAST(sum(xa * xb) AS BIGINT) AS p
  FROM j
),
c AS (
  SELECT n,
         n * qa - sa * sa AS va,
         n * qb - sb * sb AS vb,
         n * p - sa * sb  AS cv
  FROM m
)
SELECT CAST(n AS BIGINT) AS n_days,
       CAST(1000000 * CAST(vb - cv AS HUGEINT)
            // nullif(va + vb - 2 * cv, 0) AS BIGINT) AS w_a_ppm,
       CAST(1000000 - 1000000 * CAST(vb - cv AS HUGEINT)
            // nullif(va + vb - 2 * cv, 0) AS BIGINT) AS w_b_ppm,
       CAST(1000000 * CAST(cv // 1000 AS HUGEINT) * abs(cv // 1000)
            // nullif(CAST(va // 1000 AS HUGEINT) * (vb // 1000), 0)
            AS BIGINT) AS corr2_signed_ppm,
       CAST(1000000 * (CAST(va // 1000 AS HUGEINT) * (vb // 1000)
                       - CAST(cv // 1000 AS HUGEINT) * (cv // 1000))
            // nullif(CAST((va + vb - 2 * cv) // 1000 AS HUGEINT)
                      * (least(va, vb) // 1000), 0) AS BIGINT)
         AS minvar_ratio_ppm
FROM c
"""


@_register("min_variance_two_asset", _MINVAR_ORACLE)
def min_variance_two_asset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markowitz two-asset minimum-variance portfolio over the daily
    purchase-revenue and click-value series: w_a = (var_b - cov) /
    (var_a + var_b - 2 cov), with every moment expressed as the integer
    numerator n*Q - S^2 (n^2-scaled variance) so the weights, the signed
    squared correlation, and the variance-reduction ratio var_min /
    min(var_a, var_b) are all exact truncating divisions — the
    portfolio-construction member of the finance family
    (sharpe_ratio = reward/risk readout, rolling_beta = exposure,
    historical_var_cvar = tail; this entry allocates). The ratio is
    bounded at 1e6 by construction (diversification never hurts the
    minimum-variance point), an executed invariant. Scale shape: two
    day rollups, one tiny join, one 1-row moment aggregate."""
    ev = _t(spark, sf_dir, "events")

    def series(etype: str, name: str) -> DataFrame:
        return (
            ev.filter(F.col("event_type") == etype)
            .groupBy(F.col("ts").cast("date").alias("d"))
            .agg(F.sum(_cents("value")).alias(name))
        )

    j = series("purchase", "xa").join(series("click", "xb"), "d")
    m = j.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xa").alias("sa"),
        F.sum("xb").alias("sb"),
        F.sum(F.expr("xa * xa")).alias("qa"),
        F.sum(F.expr("xb * xb")).alias("qb"),
        F.sum(F.expr("xa * xb")).alias("p"),
    )
    c = m.select(
        "n",
        F.expr("n * qa - sa * sa").alias("va"),
        F.expr("n * qb - sb * sb").alias("vb"),
        F.expr("n * p - sa * sb").alias("cv"),
    )
    return c.select(
        F.col("n").cast("long").alias("n_days"),
        F.expr(
            "CAST(1000000 * CAST(vb - cv AS DECIMAL(38,0))"
            " div nullif(va + vb - 2 * cv, 0) AS BIGINT)"
        ).alias("w_a_ppm"),
        F.expr(
            "CAST(1000000 - 1000000 * CAST(vb - cv AS DECIMAL(38,0))"
            " div nullif(va + vb - 2 * cv, 0) AS BIGINT)"
        ).alias("w_b_ppm"),
        F.expr(
            "CAST(1000000 * CAST(cv div 1000 AS DECIMAL(38,0))"
            " * abs(cv div 1000)"
            " div nullif(CAST(va div 1000 AS DECIMAL(38,0))"
            "            * (vb div 1000), 0) AS BIGINT)"
        ).alias("corr2_signed_ppm"),
        F.expr(
            "CAST(1000000 * (CAST(va div 1000 AS DECIMAL(38,0))"
            "                * (vb div 1000)"
            "                - CAST(cv div 1000 AS DECIMAL(38,0))"
            "                  * (cv div 1000))"
            " div nullif(CAST((va + vb - 2 * cv) div 1000 AS DECIMAL(38,0))"
            "            * (least(va, vb) div 1000), 0) AS BIGINT)"
        ).alias("minvar_ratio_ppm"),
    )


# ===========================================================================
# Scheduling: Johnson's rule for the two-machine flow shop
# ===========================================================================

_JOHNSON_ORACLE = """
WITH pa AS (
  SELECT CAST(ts AS DATE) AS d,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS p1
  FROM events WHERE event_type = 'purchase' GROUP BY 1
),
pb AS (
  SELECT CAST(ts AS DATE) AS d,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS p2
  FROM events WHERE event_type = 'click' GROUP BY 1
),
jobs AS (SELECT pa.d, pa.p1, pb.p2 FROM pa JOIN pb ON pa.d = pb.d),
jo AS (
  SELECT p1, p2,
         row_number() OVER (
           ORDER BY CASE WHEN p1 < p2 THEN 0 ELSE 1 END,
                    CASE WHEN p1 < p2 THEN p1 ELSE -p2 END, d) AS pos
  FROM jobs
),
jm AS (
  SELECT max(span) AS mk FROM (
    SELECT sum(p1) OVER (ORDER BY pos)
           + sum(p2) OVER (ORDER BY pos DESC ROWS BETWEEN UNBOUNDED
                           PRECEDING AND CURRENT ROW) AS span
    FROM jo)
),
fo AS (
  SELECT p1, p2, row_number() OVER (ORDER BY d) AS pos FROM jobs
),
fm AS (
  SELECT max(span) AS mk FROM (
    SELECT sum(p1) OVER (ORDER BY pos)
           + sum(p2) OVER (ORDER BY pos DESC ROWS BETWEEN UNBOUNDED
                           PRECEDING AND CURRENT ROW) AS span
    FROM fo)
)
SELECT CAST((SELECT count(*) FROM jobs) AS BIGINT) AS n_jobs,
       CAST(jm.mk AS BIGINT) AS makespan_johnson_cents,
       CAST(fm.mk AS BIGINT) AS makespan_fifo_cents,
       CAST(fm.mk - jm.mk AS BIGINT) AS saving_cents
FROM jm, fm
"""


@_register("johnsons_rule_schedule", _JOHNSON_ORACLE)
def johnsons_rule_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson's rule for the two-machine flow shop: each day is a job
    whose machine-1 / machine-2 processing times are that day's purchase
    and click workloads; Johnson's optimal order (jobs with p1 < p2
    first ascending by p1, the rest descending by p2) is PROVABLY
    makespan-minimal, and the makespan evaluates by the closed form
    max_i (sum_{j<=i} p1_j + sum_{j>=i} p2_j) — two window cumsums, no
    simulation loop. The FIFO (chronological) makespan rides along so
    the saving is an EXECUTED optimality observation (johnson <= fifo
    value-checks every run; the adjacent-swap optimality condition is
    pinned in pytest). The scheduling-theory companion to
    critical_path_longest (PERT reads the DAG bound; Johnson chooses
    the order). Scale shape: day rollups, then windows over the bounded
    job frame — at real scale jobs are batches and the frame stays
    driver-small."""
    ev = _t(spark, sf_dir, "events")

    def series(etype: str, name: str) -> DataFrame:
        return (
            ev.filter(F.col("event_type") == etype)
            .groupBy(F.col("ts").cast("date").alias("d"))
            .agg(F.sum(_cents("value")).alias(name))
        )

    jobs = series("purchase", "p1").join(
        series("click", "p2"), "d"
    ).localCheckpoint(eager=False)

    def makespan(ordered: DataFrame) -> DataFrame:
        head = F.sum("p1").over(
            W.orderBy("pos").rowsBetween(W.unboundedPreceding, 0)
        )
        tail = F.sum("p2").over(
            W.orderBy(F.col("pos").desc()).rowsBetween(
                W.unboundedPreceding, 0
            )
        )
        return ordered.select((head + tail).alias("span")).agg(
            F.max("span").alias("mk")
        )

    jo = jobs.select(
        "p1",
        "p2",
        F.row_number()
        .over(
            W.orderBy(
                F.expr("CASE WHEN p1 < p2 THEN 0 ELSE 1 END"),
                F.expr("CASE WHEN p1 < p2 THEN p1 ELSE -p2 END"),
                "d",
            )
        )
        .alias("pos"),
    )
    fo = jobs.select(
        "p1", "p2", F.row_number().over(W.orderBy("d")).alias("pos")
    )
    nj = jobs.agg(F.count(F.lit(1)).alias("n_jobs"))
    return (
        makespan(jo)
        .withColumnRenamed("mk", "mkj")
        .crossJoin(F.broadcast(makespan(fo).withColumnRenamed("mk", "mkf")))
        .crossJoin(F.broadcast(nj))
        .select(
            F.col("n_jobs").cast("long").alias("n_jobs"),
            F.col("mkj").cast("long").alias("makespan_johnson_cents"),
            F.col("mkf").cast("long").alias("makespan_fifo_cents"),
            F.expr("CAST(mkf - mkj AS BIGINT)").alias("saving_cents"),
        )
    )


# ===========================================================================
# Record linkage: sorted-neighborhood blocking audit
# ===========================================================================

_SNM_ORACLE = """
WITH c AS (
  SELECT c_custkey,
         c_nationkey AS nat,
         CAST(round(c_acctbal * 100) AS BIGINT) AS v
  FROM customer
),
k AS (
  SELECT c_custkey, nat, v,
         CASE WHEN v >= 0 THEN v // 10000 ELSE -((-v) // 10000) END AS bkt
  FROM c
),
sorted_k AS (
  SELECT nat, bkt,
         lead(nat, 1) OVER w AS n1, lead(bkt, 1) OVER w AS b1,
         lead(nat, 2) OVER w AS n2, lead(bkt, 2) OVER w AS b2,
         lead(nat, 3) OVER w AS n3, lead(bkt, 3) OVER w AS b3,
         lead(nat, 4) OVER w AS n4, lead(bkt, 4) OVER w AS b4,
         lead(nat, 5) OVER w AS n5, lead(bkt, 5) OVER w AS b5
  FROM k
  WINDOW w AS (ORDER BY v, c_custkey)
),
caught AS (
  SELECT CAST(sum(
    CASE WHEN n1 = nat AND b1 = bkt THEN 1 ELSE 0 END
    + CASE WHEN n2 = nat AND b2 = bkt THEN 1 ELSE 0 END
    + CASE WHEN n3 = nat AND b3 = bkt THEN 1 ELSE 0 END
    + CASE WHEN n4 = nat AND b4 = bkt THEN 1 ELSE 0 END
    + CASE WHEN n5 = nat AND b5 = bkt THEN 1 ELSE 0 END
  ) AS BIGINT) AS n_caught, count(*) AS n FROM sorted_k
),
truth AS (
  SELECT CAST(sum(cnt * (cnt - 1) // 2) AS BIGINT) AS n_true
  FROM (SELECT count(*) AS cnt FROM k GROUP BY nat, bkt)
)
SELECT CAST(c.n AS BIGINT) AS n_records,
       t.n_true AS n_true_pairs,
       CAST(5 * c.n - 15 AS BIGINT) AS n_candidates,
       c.n_caught,
       CAST(1000000 * c.n_caught // nullif(t.n_true, 0) AS BIGINT)
         AS recall_ppm,
       CAST(1000000 * (5 * c.n - 15) // (c.n * (c.n - 1) // 2) AS BIGINT)
         AS reduction_ppm
FROM caught c, truth t
"""


@_register("sorted_neighborhood_blocking", _SNM_ORACLE)
def sorted_neighborhood_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood blocking audit: sort customers by account
    balance, emit candidate pairs only within a sliding window of w=5
    successors, and measure RECALL against the deterministic truth set
    (same nation + same 100-dollar balance bucket) and the candidate
    REDUCTION vs the n(n-1)/2 full cross — the window-based member of
    the linkage-blocking family (phonetic_blocking_join keys on sound,
    record_linkage_fs blocks on equality; SNM is what production MDM
    uses when match keys are continuous). The sort key correlates with
    the truth (same bucket => close balances), which is SNM's premise
    and exactly what the measured recall quantifies. Bucket boundaries
    truncate toward zero identically in both engines (negative
    balances). Scale shape: the sorted neighborhood is realized
    WITHOUT a single-partition sort — tiered_global_rank over
    contiguous 4096-cent balance bands gives each row its exact global
    sort position, and the w=5 successor pairs come from one
    hash-partitioned equi-join on (rank, rank+i) — candidates stay
    O(w n) and every stage is parallel (the oracle's lead windows are
    the semantic spec, not the plan)."""
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        F.col("c_nationkey").alias("nat"),
        _cents("c_acctbal").alias("v"),
    )
    k = c.select(
        "c_custkey", "nat", "v", F.expr("v div 10000").alias("bkt")
    ).localCheckpoint(eager=False)
    rk = tiered_global_rank(
        k, F.expr("v div 4096"), ["v", "c_custkey"], rank_name="rn"
    ).localCheckpoint(eager=False)
    probes = rk.select(
        "nat",
        "bkt",
        F.explode(F.sequence(F.lit(1), F.lit(5))).alias("i"),
        F.col("rn"),
    ).select("nat", "bkt", (F.col("rn") + F.col("i")).alias("rn2"))
    succ = rk.select(
        F.col("rn").alias("rn2"),
        F.col("nat").alias("nat2"),
        F.col("bkt").alias("bkt2"),
    )
    hits = probes.join(succ, "rn2").agg(
        F.expr(
            "CAST(sum(CASE WHEN nat2 = nat AND bkt2 = bkt THEN 1 ELSE 0 END)"
            " AS BIGINT)"
        ).alias("n_caught")
    )
    caught = rk.agg(F.count(F.lit(1)).alias("n")).crossJoin(
        F.broadcast(hits)
    )
    truth = (
        k.groupBy("nat", "bkt")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .agg(F.expr("CAST(sum(cnt * (cnt - 1) div 2) AS BIGINT)").alias(
            "n_true"
        ))
    )
    return caught.crossJoin(F.broadcast(truth)).select(
        F.col("n").cast("long").alias("n_records"),
        F.col("n_true").alias("n_true_pairs"),
        F.expr("CAST(5 * n - 15 AS BIGINT)").alias("n_candidates"),
        F.col("n_caught"),
        F.expr(
            "CAST(1000000 * n_caught div nullif(n_true, 0) AS BIGINT)"
        ).alias("recall_ppm"),
        F.expr(
            "CAST(1000000 * (5 * n - 15) div (n * (n - 1) div 2) AS BIGINT)"
        ).alias("reduction_ppm"),
    )


# ===========================================================================
# Inventory: Wagner-Whitin optimal lot sizing (exact DP)
# ===========================================================================

_WW_K = 3000  # setup cost per order, in unit-day holding equivalents

_WW_ORACLE = f"""
WITH RECURSIVE daily AS (
  SELECT CAST(ts AS DATE) AS d, count(*) AS dv
  FROM events WHERE event_type = 'purchase'
  GROUP BY 1
),
idx AS (SELECT row_number() OVER (ORDER BY d) AS t, CAST(dv AS BIGINT) AS dv
        FROM daily),
pre AS (
  SELECT t, dv,
         CAST(sum(dv) OVER (ORDER BY t) AS BIGINT) AS dcum,
         CAST(sum(t * dv) OVER (ORDER BY t) AS BIGINT) AS udcum
  FROM idx
),
arrs AS (
  SELECT list(dcum ORDER BY t) AS dl, list(udcum ORDER BY t) AS ul,
         count(*) AS n
  FROM pre
),
rec(t, cl) AS (
  SELECT 0, [CAST(0 AS BIGINT)] FROM arrs
  UNION ALL
  SELECT r.t + 1,
         list_append(r.cl, list_min(
           [r.cl[j] + {_WW_K}
              + (a.ul[r.t + 1] - CASE WHEN j > 1 THEN a.ul[j - 1]
                                      ELSE 0 END)
              - j * (a.dl[r.t + 1] - CASE WHEN j > 1 THEN a.dl[j - 1]
                                          ELSE 0 END)
            for j in range(1, r.t + 2)]))
  FROM rec r, arrs a WHERE r.t < a.n
)
SELECT CAST(a.n AS BIGINT) AS n_days,
       CAST(r.cl[CAST(a.n + 1 AS INT)] AS BIGINT) AS cost_optimal,
       CAST(a.n * {_WW_K} AS BIGINT) AS cost_lot_for_lot,
       CAST({_WW_K} + a.ul[CAST(a.n AS INT)]
            - a.dl[CAST(a.n AS INT)] AS BIGINT) AS cost_single_order
FROM rec r, arrs a WHERE r.t = a.n
"""


@_register("wagner_whitin_lotsizing", _WW_ORACLE)
def wagner_whitin_lotsizing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wagner-Whitin dynamic lot sizing over the daily purchase-demand
    series (setup cost K=3000 unit-days, holding cost 1 per unit-day):
    c_t = min_j (c_{{j-1}} + K + H(j,t)) with the holding cost H(j,t) =
    sum_{{u=j..t}} (u-j) d_u read off two prefix arrays — the EXACT
    optimum the eoq_order_quantity entry's stationary square-root rule
    approximates, and the textbook planning DP (the policy adapts to
    demand shape instead of assuming it constant). The lot-for-lot and
    single-order envelope costs ride along so optimality is an EXECUTED
    observation (optimal <= both, value-checked every run). All integer;
    the O(n^2) DP runs over the bounded day spine only. Scale shape: one
    rollup + two window cumsums shuffle once; the DP folds a bounded
    array on one row — at 100 TB the demand grain is the bounded
    planning calendar, never the fact table."""
    daily = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.col("ts").cast("date").alias("d"))
        .agg(F.count(F.lit(1)).cast("long").alias("dv"))
    )
    pre = daily.select(
        F.row_number().over(W.orderBy("d")).alias("t"), "dv"
    ).select(
        "t",
        F.sum("dv").over(W.orderBy("t")).alias("dcum"),
        F.sum(F.expr("t * dv")).over(W.orderBy("t")).alias("udcum"),
    )
    arrs = pre.agg(
        F.expr("sort_array(collect_list(struct(t, dcum)))").alias("ds"),
        F.expr("sort_array(collect_list(struct(t, udcum)))").alias("us"),
        F.count(F.lit(1)).alias("n"),
    ).select(
        F.expr("transform(ds, r -> r.dcum)").alias("dl"),
        F.expr("transform(us, r -> r.udcum)").alias("ul"),
        "n",
    )
    hold = (
        "element_at(ul, CAST(t AS INT))"
        " - IF(j > 1, element_at(ul, CAST(j - 1 AS INT)), CAST(0 AS BIGINT))"
        " - j * (element_at(dl, CAST(t AS INT))"
        "        - IF(j > 1, element_at(dl, CAST(j - 1 AS INT)),"
        "             CAST(0 AS BIGINT)))"
    )
    return arrs.select(
        F.col("n").cast("long").alias("n_days"),
        F.expr(
            "element_at(aggregate(sequence(1, CAST(n AS INT)),"
            " array(CAST(0 AS BIGINT)),"
            " (cl, t) -> array_append(cl, array_min(transform("
            f"   sequence(1, t), j -> element_at(cl, CAST(j AS INT))"
            f"     + {_WW_K} + {hold})))), CAST(n + 1 AS INT))"
        ).alias("cost_optimal"),
        F.expr(f"CAST(n * {_WW_K} AS BIGINT)").alias("cost_lot_for_lot"),
        F.expr(
            f"CAST({_WW_K} + element_at(ul, CAST(n AS INT))"
            " - element_at(dl, CAST(n AS INT)) AS BIGINT)"
        ).alias("cost_single_order"),
    )


# ===========================================================================
# Project scheduling: CPM slack / total float via forward+backward pass
# ===========================================================================

# Shared forward-walk depth bound for critical_path_slack: interpolated
# into BOTH the oracle SQL and the Spark loop so the lanes cannot
# silently diverge. At depths beyond the deepest real BOM chain the
# extra rounds join an empty frontier (free); if the part-key space ever
# grows past 5^(_CPM_DEPTH+1) keys (sf >> 10), both lanes truncate the
# SAME deeper chains identically — see the docstring note.
_CPM_DEPTH = 6

_SLACK_ORACLE = f"""
WITH RECURSIVE parts AS (
  SELECT p_partkey AS pk FROM part
),
bom AS (
  SELECT p.pk AS parent, c.pk AS child
  FROM parts p JOIN parts c ON c.pk = p.pk * 5 + 1
  UNION ALL
  SELECT p.pk, c.pk
  FROM parts p JOIN parts c ON c.pk = p.pk * 5 + 2
),
roots AS (
  SELECT DISTINCT b.parent AS pk FROM bom b
  WHERE NOT EXISTS (SELECT 1 FROM bom b2 WHERE b2.child = b.parent)
),
walk AS (
  SELECT pk AS root, pk AS node, pk % 7 + 1 AS es_incl,
         CAST(0 AS BIGINT) AS depth
  FROM roots
  UNION ALL
  SELECT w.root, b.child, w.es_incl + b.child % 7 + 1,
         CAST(w.depth + 1 AS BIGINT)
  FROM walk w JOIN bom b ON b.parent = w.node
  WHERE w.depth < {_CPM_DEPTH}
),
leaves AS (
  SELECT w.node FROM walk w
  WHERE NOT EXISTS (SELECT 1 FROM bom b WHERE b.parent = w.node)
),
up AS (
  SELECT node, node % 7 + 1 AS climb FROM leaves
  UNION ALL
  SELECT b.parent, u.climb + b.parent % 7 + 1
  FROM up u JOIN bom b ON b.child = u.node
),
below AS (SELECT node, max(climb) AS d FROM up GROUP BY node),
proj AS (SELECT root, max(es_incl) AS t_days FROM walk GROUP BY root),
slack AS (
  SELECT w.root, w.node,
         p.t_days - w.es_incl - (b.d - (w.node % 7 + 1)) AS fl
  FROM walk w
  JOIN below b ON b.node = w.node
  JOIN proj p ON p.root = w.root
)
SELECT CAST(count(DISTINCT root) AS BIGINT) AS n_projects,
       CAST(count(*) AS BIGINT) AS n_tasks,
       CAST(sum(CASE WHEN fl = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_critical_tasks,
       CAST(sum(fl) AS BIGINT) AS total_slack_days,
       CAST(max(fl) AS BIGINT) AS max_slack_days,
       CAST(1000000 * sum(CASE WHEN fl = 0 THEN 1 ELSE 0 END)
            // count(*) AS BIGINT) AS critical_ppm
FROM slack
"""


@_register("critical_path_slack", _SLACK_ORACLE)
def critical_path_slack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CPM total float (slack) per task over the BOM project forest that
    critical_path_longest schedules: the forward pass carries the
    root-to-task duration (earliest finish), the backward pass climbs
    leaf-to-root accumulating the longest remaining chain, and total
    float = T - es_incl - (longest_below - own_duration); float-0 tasks
    ARE the critical path — the part CPM adds beyond the longest-path
    number: which tasks can slip, and by how much, without moving the
    deadline. The Spark lane is an independent DataFrame implementation
    (the oracle's WITH RECURSIVE forward walk becomes a bounded driver
    loop over equi-joins — the same pattern as the graph module; the
    backward max-merge happens OUTSIDE the recursion as one rollup over
    leaf-ancestor climbs), so the DuckDB oracle genuinely cross-checks
    the logic, not just the engine. Both lanes' forward walks share ONE
    depth bound, _CPM_DEPTH, interpolated into the oracle SQL and the
    Spark loop; at part-key spaces beyond 5^(_CPM_DEPTH+1) (sf >> 10)
    both lanes truncate the same deeper BOM chains identically, so
    parity holds but the deepest tasks drop out of the slack rollup.
    Every critical task count is an executed invariant (each project
    has >= 1 zero-float chain). Scale shape: per-level equi-joins, two
    rollups; branching factor 2 bounds both walks."""
    parts = _t(spark, sf_dir, "part").select(F.col("p_partkey").alias("pk"))
    c1 = parts.select(F.col("pk").alias("parent"), (F.col("pk") * 5 + 1).alias("child"))
    c2 = parts.select(F.col("pk").alias("parent"), (F.col("pk") * 5 + 2).alias("child"))
    keys = parts.select(F.col("pk").alias("child"))
    bom = (
        c1.join(keys, "child").select("parent", "child")
        .unionAll(c2.join(keys, "child").select("parent", "child"))
        .localCheckpoint(eager=False)
    )
    children = bom.select(F.col("child").alias("pk")).distinct()
    roots = (
        bom.select(F.col("parent").alias("pk")).distinct()
        .join(children, "pk", "left_anti")
    )
    # forward pass: depth-bounded descent accumulating earliest finish
    frontier = roots.select(
        F.col("pk").alias("root"),
        F.col("pk").alias("node"),
        (F.col("pk") % 7 + 1).cast("long").alias("es_incl"),
    )
    levels = [frontier]
    for _ in range(_CPM_DEPTH):
        frontier = (
            frontier.join(bom, frontier["node"] == bom["parent"])
            .select(
                "root",
                F.col("child").alias("node"),
                (F.col("es_incl") + F.col("child") % 7 + 1).alias("es_incl"),
            )
            .localCheckpoint(eager=False)
        )
        levels.append(frontier)
    walk = levels[0]
    for lv in levels[1:]:
        walk = walk.unionAll(lv)
    walk = walk.localCheckpoint(eager=False)
    # backward pass: climb leaf->root accumulating the longest chain
    leaves = walk.select("node").join(
        bom.select(F.col("parent").alias("node")).distinct(), "node", "left_anti"
    )
    up = leaves.select("node", (F.col("node") % 7 + 1).cast("long").alias("climb"))
    climbs = [up]
    while True:
        up = (
            up.join(bom, up["node"] == bom["child"])
            .select(
                F.col("parent").alias("node"),
                (F.col("climb") + F.col("parent") % 7 + 1).alias("climb"),
            )
            .localCheckpoint(eager=False)
        )
        if up.isEmpty():
            break
        climbs.append(up)
    allup = climbs[0]
    for lv in climbs[1:]:
        allup = allup.unionAll(lv)
    below = allup.groupBy("node").agg(F.max("climb").alias("d"))
    proj = walk.groupBy("root").agg(F.max("es_incl").alias("t_days"))
    slack = (
        walk.join(below, "node")
        .join(proj, "root")
        .select(
            "root",
            (
                F.col("t_days") - F.col("es_incl")
                - (F.col("d") - (F.col("node") % 7 + 1))
            ).alias("fl"),
        )
    )
    return slack.agg(
        F.countDistinct("root").cast("long").alias("n_projects"),
        F.count(F.lit(1)).cast("long").alias("n_tasks"),
        F.sum(F.when(F.col("fl") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_critical_tasks"),
        F.sum("fl").cast("long").alias("total_slack_days"),
        F.max("fl").cast("long").alias("max_slack_days"),
        F.expr(
            "CAST(1000000 * sum(CASE WHEN fl = 0 THEN 1 ELSE 0 END)"
            " div count(*) AS BIGINT)"
        ).alias("critical_ppm"),
    )


# ===========================================================================
# Normality: Jarque-Bera from exact power sums
# ===========================================================================

_JB_ORACLE = """
WITH p AS (
  SELECT l_returnflag, CAST(l_quantity AS DECIMAL(9,2)) AS x FROM lineitem
),
sums AS (
  SELECT l_returnflag,
         count(*) AS n,
         CAST(sum(CAST(x AS DECIMAL(38,8))) AS DECIMAL(38,8)) AS s1,
         CAST(sum(CAST(x * x AS DECIMAL(38,8))) AS DECIMAL(38,8)) AS s2,
         CAST(sum(CAST(x * x * x AS DECIMAL(38,8))) AS DECIMAL(38,8)) AS s3,
         CAST(sum(CAST(x * x * x * x AS DECIMAL(38,8))) AS DECIMAL(38,8))
           AS s4
  FROM p GROUP BY 1
),
mom AS (
  SELECT l_returnflag, n,
         CAST(s1 AS DOUBLE) / n AS m1,
         CAST(s2 AS DOUBLE) / n AS r2,
         CAST(s3 AS DOUBLE) / n AS r3,
         CAST(s4 AS DOUBLE) / n AS r4
  FROM sums
),
sk AS (
  SELECT l_returnflag, n,
         (r3 - 3.0 * m1 * r2 + 2.0 * m1 * m1 * m1)
           / power(r2 - m1 * m1, 1.5) AS skew,
         (r4 - 4.0 * m1 * r3 + 6.0 * m1 * m1 * r2
          - 3.0 * m1 * m1 * m1 * m1)
           / ((r2 - m1 * m1) * (r2 - m1 * m1)) - 3.0 AS kurt
  FROM mom
)
SELECT l_returnflag, n,
       round(skew, 6) AS skewness,
       round(kurt, 6) AS excess_kurtosis,
       round(n * (skew * skew + kurt * kurt / 4.0) / 6.0, 4) AS jb_stat,
       CAST(CASE WHEN n * (skew * skew + kurt * kurt / 4.0) / 6.0 > 5.991
                 THEN 1 ELSE 0 END AS BIGINT) AS reject_normal_5pct
FROM sk
ORDER BY l_returnflag
"""


@_register("jarque_bera_normality", _JB_ORACLE)
def jarque_bera_normality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality test per return-flag group: JB = n/6 *
    (skew^2 + excess_kurtosis^2/4), built from the same EXACT decimal
    power sums distribution_moments_skew_kurt ships (order-independent,
    mergeable partials; all divisions start from identical exact
    decimals so the double math is bit-stable cross-engine) — the
    omnibus moment-based member of the distribution-test family
    (ks/cvm/ad compare to an empirical reference; JB asks 'is it
    normal' from moments alone, the standard pre-check before
    z-interval machinery). Uniform quantity data FAILS normality hard
    (kurtosis -> -1.2), so the 5.991 chi2(2) rejection fires — an
    executed detection-power observation, not a vacuous pass. Scale
    shape: one hash aggregate of four decimal sums, scalar math after."""
    x = F.col("l_quantity").cast("decimal(9,2)")
    sums = (
        _t(spark, sf_dir, "lineitem")
        .select("l_returnflag", x.alias("x"))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("x").cast("decimal(38,8)"))
            .cast("decimal(38,8)")
            .alias("s1"),
            F.sum((F.col("x") * F.col("x")).cast("decimal(38,8)"))
            .cast("decimal(38,8)")
            .alias("s2"),
            F.sum(
                (F.col("x") * F.col("x") * F.col("x")).cast("decimal(38,8)")
            )
            .cast("decimal(38,8)")
            .alias("s3"),
            F.sum(
                (F.col("x") * F.col("x") * F.col("x") * F.col("x")).cast(
                    "decimal(38,8)"
                )
            )
            .cast("decimal(38,8)")
            .alias("s4"),
        )
    )
    n = F.col("n")
    m1 = F.col("s1").cast("double") / n
    r2 = F.col("s2").cast("double") / n
    r3 = F.col("s3").cast("double") / n
    r4 = F.col("s4").cast("double") / n
    var_pop = r2 - m1 * m1
    skew = (r3 - F.lit(3.0) * m1 * r2 + F.lit(2.0) * m1 * m1 * m1) / F.pow(
        var_pop, F.lit(1.5)
    )
    kurt = (
        r4
        - F.lit(4.0) * m1 * r3
        + F.lit(6.0) * m1 * m1 * r2
        - F.lit(3.0) * m1 * m1 * m1 * m1
    ) / (var_pop * var_pop) - F.lit(3.0)
    jb = n * (skew * skew + kurt * kurt / F.lit(4.0)) / F.lit(6.0)
    return sums.select(
        "l_returnflag",
        "n",
        F.round(skew, 6).alias("skewness"),
        F.round(kurt, 6).alias("excess_kurtosis"),
        F.round(jb, 4).alias("jb_stat"),
        F.when(jb > 5.991, 1).otherwise(0).cast("long").alias(
            "reject_normal_5pct"
        ),
    ).orderBy("l_returnflag")


# ===========================================================================
# Ops: TTL cache hit-rate simulation from access reuse gaps
# ===========================================================================

_TTL_ORACLE = """
WITH acc AS (
  SELECT user_id,
         epoch_us(ts) AS tu,
         lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS pu
  FROM events
),
grid AS (SELECT CAST(unnest([60, 600, 3600]) AS BIGINT) AS ttl_seconds)
SELECT CAST(g.ttl_seconds AS BIGINT) AS ttl_seconds,
       CAST(count(*) AS BIGINT) AS n_accesses,
       CAST(sum(CASE WHEN a.pu IS NOT NULL
                      AND a.tu - a.pu <= g.ttl_seconds * 1000000
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       CAST(1000000 * sum(CASE WHEN a.pu IS NOT NULL
                      AND a.tu - a.pu <= g.ttl_seconds * 1000000
                     THEN 1 ELSE 0 END) // count(*) AS BIGINT) AS hit_ppm
FROM acc a CROSS JOIN grid g
GROUP BY g.ttl_seconds
ORDER BY ttl_seconds
"""


@_register("ttl_cache_hit_simulation", _TTL_ORACLE)
def ttl_cache_hit_simulation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TTL-cache hit-rate simulation over the event stream (cache key =
    user profile): an access hits iff the SAME key was fetched within
    the TTL — exactly one lag window over (key, time), evaluated at a
    3-point TTL grid (1min/10min/1h), because a time-to-live cache's
    behavior is a pure function of same-key reuse gaps. This is the
    measured curve CDN/feature-store TTL tuning reads (hit-rate vs
    staleness budget), the cache-sizing sibling of the queueing entries
    (erlang/kingman size servers; this sizes staleness). Hit counts are
    monotone in TTL by construction — an executed invariant. Scale
    shape: one keyed window shuffle, a 3-row broadcast grid, one
    rollup; no state beyond the lag."""
    acc = _t(spark, sf_dir, "events").select(
        F.expr("unix_micros(ts)").alias("tu"),
        F.lag(F.expr("unix_micros(ts)"))
        .over(W.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("pu"),
    )
    grid = spark.createDataFrame(
        [(60,), (600,), (3600,)], "ttl_seconds long"
    )
    hit = (
        "CASE WHEN pu IS NOT NULL AND tu - pu <= ttl_seconds * 1000000"
        " THEN 1 ELSE 0 END"
    )
    return (
        acc.crossJoin(F.broadcast(grid))
        .groupBy("ttl_seconds")
        .agg(
            F.count(F.lit(1)).alias("n_accesses"),
            F.expr(f"CAST(sum({hit}) AS BIGINT)").alias("n_hits"),
            F.expr(
                f"CAST(1000000 * sum({hit}) div count(*) AS BIGINT)"
            ).alias("hit_ppm"),
        )
        .select(
            F.col("ttl_seconds").cast("long").alias("ttl_seconds"),
            F.col("n_accesses").cast("long").alias("n_accesses"),
            "n_hits",
            "hit_ppm",
        )
        .orderBy("ttl_seconds")
    )


# ===========================================================================
# Time series: Yule-Walker AR(2) fit via Cramer's rule
# ===========================================================================

_YW_ORACLE = (
    "WITH "
    + _DAILY_SQL
    + """,
idx AS (SELECT row_number() OVER (ORDER BY d) AS t, x FROM daily),
tot AS (SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS s FROM idx),
dm AS (
  SELECT t, CAST(tot.n * idx.x - tot.s AS BIGINT) AS xd, tot.n AS n,
         tot.s AS s
  FROM idx, tot
),
lagd AS (
  SELECT t, xd, n, s,
         lead(xd, 1) OVER (ORDER BY t) AS x1,
         lead(xd, 2) OVER (ORDER BY t) AS x2
  FROM dm
),
acv AS (
  SELECT max(n) AS n, max(s) AS s,
         CAST(sum(CAST(xd AS HUGEINT) * xd) AS HUGEINT) AS c0,
         CAST(sum(CASE WHEN x1 IS NOT NULL
                       THEN CAST(xd AS HUGEINT) * x1 ELSE 0 END)
              AS HUGEINT) AS c1,
         CAST(sum(CASE WHEN x2 IS NOT NULL
                       THEN CAST(xd AS HUGEINT) * x2 ELSE 0 END)
              AS HUGEINT) AS c2,
         CAST(max(CASE WHEN t = n THEN xd END) AS BIGINT) AS devn,
         CAST(max(CASE WHEN t = n - 1 THEN xd END) AS BIGINT) AS devn1
  FROM lagd
),
fit AS (
  SELECT n, s, devn, devn1,
         CAST(1000 * c1 * (c0 - c2)
              // nullif(c0 * c0 - c1 * c1, 0) AS BIGINT) AS phi1_milli,
         CAST(1000 * (c0 * c2 - c1 * c1)
              // nullif(c0 * c0 - c1 * c1, 0) AS BIGINT) AS phi2_milli
  FROM acv
)
SELECT CAST(n AS BIGINT) AS n_days,
       phi1_milli,
       phi2_milli,
       CAST(1000 * s // n
            + (phi1_milli * devn + phi2_milli * devn1) // (1000 * n)
            AS BIGINT) AS forecast_next_milli
FROM fit
"""
)


@_register("yule_walker_ar2", _YW_ORACLE)
def yule_walker_ar2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yule-Walker AR(2) fit on daily revenue: the 2x2 normal equations
    [c0 c1; c1 c0] phi = [c1 c2] solved EXACTLY by Cramer's rule on
    integer autocovariance lanes (xd = n*x - S demeaning, 128-bit
    products, one truncating division per coefficient), plus the
    one-step-ahead forecast mean + phi1(x_n - m) + phi2(x_{n-1} - m) —
    the parametric autoregression member of the serial-dependence
    family (autocorrelation_lag_k reads the raw ACF,
    pacf_durbin_levinson the partial ACF ladder; this entry turns them
    into a generative model and a forecast). Scale shape: day rollup,
    one 1-row total broadcast, one lead window, one aggregate — at
    100 TB the fit is per-series constants off mergeable lag-moment
    partials."""
    daily = _daily(spark, sf_dir).localCheckpoint(eager=False)
    idx = daily.select(F.row_number().over(W.orderBy("d")).alias("t"), "x")
    tot = daily.agg(F.count(F.lit(1)).alias("n"), F.sum("x").alias("s"))
    dm = idx.crossJoin(F.broadcast(tot)).select(
        "t", F.expr("CAST(n * x - s AS BIGINT)").alias("xd"), "n", "s"
    )
    lagd = dm.select(
        "t",
        "xd",
        "n",
        "s",
        F.lead("xd", 1).over(W.orderBy("t")).alias("x1"),
        F.lead("xd", 2).over(W.orderBy("t")).alias("x2"),
    )
    acv = lagd.agg(
        F.max("n").alias("n"),
        F.max("s").alias("s"),
        F.sum(F.expr("CAST(xd AS DECIMAL(38,0)) * xd")).alias("c0"),
        F.sum(
            F.expr(
                "CASE WHEN x1 IS NOT NULL"
                " THEN CAST(xd AS DECIMAL(38,0)) * x1"
                " ELSE CAST(0 AS DECIMAL(38,0)) END"
            )
        ).alias("c1"),
        F.sum(
            F.expr(
                "CASE WHEN x2 IS NOT NULL"
                " THEN CAST(xd AS DECIMAL(38,0)) * x2"
                " ELSE CAST(0 AS DECIMAL(38,0)) END"
            )
        ).alias("c2"),
        F.expr("CAST(max(CASE WHEN t = n THEN xd END) AS BIGINT)").alias(
            "devn"
        ),
        F.expr("CAST(max(CASE WHEN t = n - 1 THEN xd END) AS BIGINT)").alias(
            "devn1"
        ),
    )
    fit = acv.select(
        "n",
        "s",
        "devn",
        "devn1",
        F.expr(
            "CAST(1000 * c1 * (c0 - c2)"
            " div nullif(c0 * c0 - c1 * c1, 0) AS BIGINT)"
        ).alias("phi1_milli"),
        F.expr(
            "CAST(1000 * (c0 * c2 - c1 * c1)"
            " div nullif(c0 * c0 - c1 * c1, 0) AS BIGINT)"
        ).alias("phi2_milli"),
    )
    return fit.select(
        F.col("n").cast("long").alias("n_days"),
        "phi1_milli",
        "phi2_milli",
        F.expr(
            "CAST(1000 * s div n"
            " + (phi1_milli * devn + phi2_milli * devn1) div (1000 * n)"
            " AS BIGINT)"
        ).alias("forecast_next_milli"),
    )


# ===========================================================================
# Queueing: Pollaczek-Khinchine M/G/1 mean wait
# ===========================================================================

_PK_ORACLE = """
WITH jobs AS (
  SELECT epoch_us(ts) AS tu,
         CAST(round(value * 100) AS BIGINT) * 1000 AS s_us
  FROM events WHERE event_type = 'purchase'
),
agg AS (
  SELECT count(*) AS n,
         CAST(max(tu) - min(tu) AS BIGINT) AS span_us,
         CAST(sum(s_us) AS BIGINT) AS work_us,
         CAST(sum(CAST(s_us AS HUGEINT) * s_us) AS HUGEINT) AS q2
  FROM jobs
)
SELECT CAST(n AS BIGINT) AS n_jobs,
       CAST(work_us // n AS BIGINT) AS mean_service_us,
       CAST(1000000 * CAST(work_us AS HUGEINT) // span_us AS BIGINT)
         AS rho_ppm,
       CAST(1000000 * q2
            // (2 * CAST(span_us AS HUGEINT)
                * (1000000 - 1000000 * CAST(work_us AS HUGEINT) // span_us))
            AS BIGINT) AS wq_pk_us
FROM agg
"""


@_register("pollaczek_khinchine_wait", _PK_ORACLE)
def pollaczek_khinchine_wait(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pollaczek-Khinchine M/G/1 mean queueing delay for the purchase
    work stream (service time = order value read as milliseconds of
    work): Wq = lambda E[S^2] / (2(1-rho)) collapses to
    Q2 / (2 T (1-rho)) with T the observed arrival span and rho =
    total work / T — the EXACT single-server result that completes the
    queueing family's ladder (erlang_b/c assume exponential service,
    kingman_queue_estimate approximates G/G/1 from CVs,
    lindley_queue_backlog replays one path; PK is the closed form the
    others bracket, sensitive to the service SECOND moment, which is
    why heavy-tailed jobs wreck latency). All lanes exact integer
    microseconds (second moments summed in 128-bit). Scale shape: one
    aggregate with mergeable (n, min, max, S, Q2) partials — nothing
    else."""
    jobs = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            F.expr("unix_micros(ts)").alias("tu"),
            (_cents("value") * 1000).alias("s_us"),
        )
    )
    agg = jobs.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("CAST(max(tu) - min(tu) AS BIGINT)").alias("span_us"),
        F.sum("s_us").alias("work_us"),
        F.sum(F.expr("CAST(s_us AS DECIMAL(38,0)) * s_us")).alias("q2"),
    )
    return agg.select(
        F.col("n").cast("long").alias("n_jobs"),
        F.expr("CAST(work_us div n AS BIGINT)").alias("mean_service_us"),
        F.expr(
            "CAST(1000000 * CAST(work_us AS DECIMAL(38,0)) div span_us"
            " AS BIGINT)"
        ).alias("rho_ppm"),
        F.expr(
            "CAST(1000000 * q2"
            " div (2 * CAST(span_us AS DECIMAL(38,0))"
            "      * (1000000 - 1000000 * CAST(work_us AS DECIMAL(38,0))"
            "         div span_us)) AS BIGINT)"
        ).alias("wq_pk_us"),
    )


# ===========================================================================
# Survival: restricted mean survival time (area under the KM curve)
# ===========================================================================

_RMST_ORACLE = """
WITH RECURSIVE dur AS (
  SELECT CAST(date_diff('day', CAST(o.o_orderdate AS DATE),
                        CAST(l.l_shipdate AS DATE)) AS BIGINT) AS t,
         CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
              THEN 'urgent' ELSE 'normal' END AS grp
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
  WHERE l.l_shipdate >= o.o_orderdate
),
at_t AS (
  SELECT grp, t, CAST(count(*) AS BIGINT) AS d FROM dur GROUP BY grp, t
),
tot AS (SELECT grp, CAST(count(*) AS BIGINT) AS nn FROM dur GROUP BY grp),
risk AS (
  SELECT a.grp, a.t, a.d,
         CAST(tt.nn - coalesce(sum(a.d) OVER (PARTITION BY a.grp
              ORDER BY a.t
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS n_at,
         row_number() OVER (PARTITION BY a.grp ORDER BY a.t) AS rk
  FROM at_t a JOIN tot tt ON tt.grp = a.grp
),
km AS (
  SELECT grp, CAST(0 AS BIGINT) AS rk, CAST(0 AS BIGINT) AS t,
         CAST(1000000 AS BIGINT) AS s_ppm
  FROM tot
  UNION ALL
  SELECT r.grp, r.rk, r.t,
         CAST(k.s_ppm * (r.n_at - r.d) // r.n_at AS BIGINT)
  FROM km k JOIN risk r ON r.grp = k.grp AND r.rk = k.rk + 1
),
stepped AS (
  SELECT grp, t, s_ppm,
         lead(t, 1, 60) OVER (PARTITION BY grp
                              ORDER BY t, s_ppm DESC) AS nt
  FROM km
),
area AS (
  SELECT grp,
         CAST(sum(CASE WHEN t < 60
                       THEN s_ppm * (least(nt, 60) - t) ELSE 0 END)
              AS BIGINT) AS rmst_ppm_days
  FROM stepped GROUP BY grp
)
SELECT grp,
       CAST(60 AS BIGINT) AS tau_days,
       rmst_ppm_days,
       CAST(rmst_ppm_days // 1000 AS BIGINT) AS rmst_milli_days
FROM area
ORDER BY grp
"""


@_register("rmst_survival_area", _RMST_ORACLE)
def rmst_survival_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Restricted mean survival time at tau=60 days for ship latency,
    urgent vs normal: the exact area under the Kaplan-Meier step curve
    (sum of s_ppm * step width, steps clipped at tau) — the EFFECT-SIZE
    summary the survival family's tests lack: logrank_test_groups says
    the curves differ, kaplan_meier_product_limit plots them, RMST
    says BY HOW MANY DAYS on average within the horizon — the estimand
    regulators now ask for when hazards aren't proportional. The KM
    product-limit recursion folds per-group risk-table ARRAYS through
    aggregate() on the Spark side (the ~2500-step latency spine exceeds
    Spark's recursion level budget; DuckDB walks the identical
    recurrence as a recursive CTE), then integrates with one lead
    window ordered (t, s_ppm DESC) so the duplicate t=0 anchor point
    contributes zero width deterministically. Scale shape: adds one
    window + rollup to the KM plan — still bounded by the
    distinct-latency frame."""
    dur = (
        _t(spark, sf_dir, "lineitem")
        .join(
            _t(spark, sf_dir, "orders").select(
                "o_orderkey", "o_orderdate", "o_orderpriority"
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .filter(F.expr("l_shipdate >= o_orderdate"))
        .select(
            F.expr(
                "CAST(datediff(CAST(l_shipdate AS DATE),"
                " CAST(o_orderdate AS DATE)) AS BIGINT)"
            ).alias("t"),
            F.expr(
                "CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')"
                " THEN 'urgent' ELSE 'normal' END"
            ).alias("grp"),
        )
    )
    at_t = dur.groupBy("grp", "t").agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    tot = dur.groupBy("grp").agg(F.count(F.lit(1)).cast("long").alias("nn"))
    wg = (
        W.partitionBy("grp")
        .orderBy("t")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    risk = at_t.join(tot, "grp").select(
        "grp",
        "t",
        "d",
        (F.col("nn") - F.coalesce(F.sum("d").over(wg), F.lit(0)))
        .cast("long")
        .alias("n_at"),
    )
    folded = risk.groupBy("grp").agg(
        F.expr(
            "aggregate(array_sort(collect_list(struct(t, d, n_at))),"
            " named_struct('s', CAST(1000000 AS BIGINT),"
            " 'curve', CAST(array() AS ARRAY<STRUCT<t: BIGINT,"
            " s: BIGINT>>)),"
            " (acc, x) -> named_struct("
            "'s', CAST(acc.s * (x.n_at - x.d) div x.n_at AS BIGINT),"
            "'curve', concat(acc.curve, array(named_struct("
            "'t', x.t,"
            " 's', CAST(acc.s * (x.n_at - x.d) div x.n_at AS BIGINT))))),"
            " acc -> acc.curve)"
        ).alias("curve")
    )
    points = folded.select("grp", F.explode("curve").alias("p")).select(
        "grp", F.expr("p.t").alias("t"), F.expr("p.s").alias("s_ppm")
    )
    base = tot.select(
        "grp",
        F.lit(0).cast("long").alias("t"),
        F.lit(1000000).cast("long").alias("s_ppm"),
    )
    allp = points.unionByName(base)
    stepped = allp.select(
        "grp",
        "t",
        "s_ppm",
        F.lead("t", 1, 60)
        .over(W.partitionBy("grp").orderBy("t", F.col("s_ppm").desc()))
        .alias("nt"),
    )
    return (
        stepped.groupBy("grp")
        .agg(
            F.expr(
                "CAST(sum(CASE WHEN t < 60"
                " THEN s_ppm * (least(nt, 60) - t) ELSE 0 END) AS BIGINT)"
            ).alias("rmst_ppm_days")
        )
        .select(
            "grp",
            F.lit(60).cast("long").alias("tau_days"),
            "rmst_ppm_days",
            F.expr("CAST(rmst_ppm_days div 1000 AS BIGINT)").alias(
                "rmst_milli_days"
            ),
        )
        .orderBy("grp")
    )


# ===========================================================================
# Multiple testing: Storey's pi0 (true-null share) estimate
# ===========================================================================

_STOREY_ORACLE = """
WITH lab AS (
  SELECT n.n_name,
         CAST(count(*) AS BIGINT) AS n1,
         CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                       THEN 1 ELSE 0 END) AS BIGINT) AS y1
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  GROUP BY 1
),
tot AS (
  SELECT CAST(sum(n1) AS BIGINT) AS nn, CAST(sum(y1) AS BIGINT) AS yy
  FROM lab
),
z AS (
  SELECT l.n_name,
         CAST(CAST(l.y1 * (t.nn - l.n1) - (t.yy - l.y1) * l.n1 AS HUGEINT)
              * (l.y1 * (t.nn - l.n1) - (t.yy - l.y1) * l.n1)
              * t.nn * 1000
              // (CAST(l.n1 AS HUGEINT) * (t.nn - l.n1) * t.yy
                  * (t.nn - t.yy)) AS BIGINT) AS z2_milli
  FROM lab l CROSS JOIN tot t
),
m AS (SELECT count(*) AS m FROM z),
grid AS (
  SELECT * FROM (VALUES (CAST(25 AS BIGINT), CAST(1323 AS BIGINT),
                         CAST(4 AS BIGINT), CAST(3 AS BIGINT)),
                        (50, 455, 2, 1),
                        (75, 102, 4, 1))
         AS g(lambda_pct, thresh_milli, mult, den)
)
SELECT g.lambda_pct,
       CAST(sum(CASE WHEN z.z2_milli < g.thresh_milli THEN 1 ELSE 0 END)
            AS BIGINT) AS n_pvals_above,
       CAST(least(1000000,
            1000000 * g.mult
            * sum(CASE WHEN z.z2_milli < g.thresh_milli THEN 1 ELSE 0 END)
            // (g.den * m.m)) AS BIGINT) AS pi0_ppm
FROM z CROSS JOIN grid g CROSS JOIN m
GROUP BY g.lambda_pct, g.mult, g.den, m.m
ORDER BY lambda_pct
"""


@_register("storey_pi0_estimate", _STOREY_ORACLE)
def storey_pi0_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storey's pi0 estimator — the share of TRUE NULLS among the 25
    simultaneous per-nation urgency tests: pi0(lambda) = #(p > lambda)
    / ((1-lambda) m), read off the same exact chi-square milli lanes
    fdr_bh_screen ranks, with p > lambda translated to z^2 below the
    literal chi2(1) quantile (1.323/0.455/0.102 at lambda = .25/.5/.75
    — constants both engines compare identically, the ladder device).
    pi0 is what upgrades BH to the adaptive q-value procedure: when
    most hypotheses are null (pi0 ~ 1, the expected reading on this
    independent synthetic lake) BH is already tight; a small pi0 would
    license proportionally more rejections. The three-lambda grid
    exposes the estimator's lambda-sensitivity instead of hiding it.
    Scale shape: one rollup to 25 strata, 1-row totals broadcast, a
    3-row literal grid."""
    lab = (
        _t(spark, sf_dir, "orders")
        .join(
            _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(
                _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n1"),
            F.sum(
                F.expr(
                    "CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')"
                    " THEN 1 ELSE 0 END"
                )
            )
            .cast("long")
            .alias("y1"),
        )
        .localCheckpoint(eager=False)
    )
    tot = lab.agg(
        F.sum("n1").cast("long").alias("nn"),
        F.sum("y1").cast("long").alias("yy"),
    )
    z = (
        lab.crossJoin(F.broadcast(tot))
        .select(
            F.expr("y1 * (nn - n1) - (yy - y1) * n1").alias("diff"),
            F.expr(
                "CAST(n1 AS DECIMAL(38,0)) * (nn - n1) * yy * (nn - yy)"
            ).alias("den"),
            "nn",
        )
        .select(
            F.expr(
                "CAST(diff AS DECIMAL(38,0)) * CAST(diff AS DECIMAL(38,0))"
                " * nn * 1000"
            ).alias("num"),
            "den",
        )
        .select(
            "num",
            "den",
            F.expr(
                "CAST(floor(CAST(num AS DOUBLE) / CAST(den AS DOUBLE))"
                " AS DECIMAL(38,0))"
            ).alias("q0"),
        )
        .select(
            F.expr(
                "CAST(CASE WHEN (q0 + 1) * den <= num THEN q0 + 1"
                " WHEN q0 * den > num THEN q0 - 1 ELSE q0 END AS BIGINT)"
            ).alias("z2_milli"),
        )
    )
    m = z.agg(F.count(F.lit(1)).alias("m"))
    grid = spark.createDataFrame(
        [(25, 1323, 4, 3), (50, 455, 2, 1), (75, 102, 4, 1)],
        "lambda_pct long, thresh_milli long, mult long, den long",
    )
    return (
        z.crossJoin(F.broadcast(grid))
        .crossJoin(F.broadcast(m))
        .groupBy("lambda_pct", "mult", "den", "m")
        .agg(
            F.expr(
                "CAST(sum(CASE WHEN z2_milli < thresh_milli THEN 1 ELSE 0"
                " END) AS BIGINT)"
            ).alias("n_pvals_above")
        )
        .select(
            "lambda_pct",
            "n_pvals_above",
            F.expr(
                "CAST(least(CAST(1000000 AS BIGINT),"
                " 1000000 * mult * n_pvals_above div (den * m)) AS BIGINT)"
            ).alias("pi0_ppm"),
        )
        .orderBy("lambda_pct")
    )


# ===========================================================================
# Packing: first-fit-decreasing bin packing with executed lower bound
# ===========================================================================

_FFD_ORACLE = (
    "WITH RECURSIVE "
    + _DAILY_SQL.strip().lstrip()
    + """,
items AS (
  SELECT x, row_number() OVER (ORDER BY x DESC, d) AS rk FROM daily
),
consts AS (
  SELECT count(*) AS n, 2 * max(x) AS cap, CAST(sum(x) AS BIGINT) AS total
  FROM items
),
il AS (SELECT list(x ORDER BY rk) AS xs FROM items),
rec(k, bins) AS (
  SELECT 0, CAST([] AS BIGINT[]) FROM il
  UNION ALL
  SELECT r.k + 1,
         CASE WHEN coalesce(list_position(
                [CASE WHEN r.bins[i] + xs[r.k + 1] <= c.cap THEN 1
                      ELSE 0 END for i in range(1, len(r.bins) + 1)], 1), 0)
              = 0
         THEN list_append(r.bins, xs[r.k + 1])
         ELSE [CASE WHEN i = coalesce(list_position(
                 [CASE WHEN r.bins[i2] + xs[r.k + 1] <= c.cap THEN 1
                       ELSE 0 END for i2 in range(1, len(r.bins) + 1)],
                 1), 0)
               THEN r.bins[i] + xs[r.k + 1] ELSE r.bins[i] END
               for i in range(1, len(r.bins) + 1)]
         END
  FROM rec r, il, consts c WHERE r.k < len(xs)
)
SELECT CAST(c.n AS BIGINT) AS n_items,
       CAST(c.cap AS BIGINT) AS capacity_cents,
       CAST(len(r.bins) AS BIGINT) AS n_bins_ffd,
       CAST((c.total + c.cap - 1) // c.cap AS BIGINT) AS lower_bound,
       CAST(1000000 * c.total // (len(r.bins) * c.cap) AS BIGINT)
         AS occupancy_ppm
FROM rec r, il, consts c WHERE r.k = len(il.xs)
"""
)


@_register("binpacking_ffd_bound", _FFD_ORACLE)
def binpacking_ffd_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-fit-decreasing bin packing of the daily revenue loads into
    bins of capacity 2*max(load): items sorted descending, each placed
    into the FIRST bin with room (the 11/9-approximation workhorse of
    shard packing, file compaction sizing, and batch assembly), with
    the ceil(total/capacity) volume lower bound and the achieved
    occupancy riding along — so FFD's near-optimality is an EXECUTED
    observation (lower_bound <= n_bins, occupancy close to 1). The
    greedy fold carries the bin-load list through one bounded
    recursion (oracle) / one aggregate() fold (Spark) with first-fit
    chosen by list position — the same list-state device as
    holt_winters and wagner_whitin. Scale shape: day rollup then a
    bounded fold; at 100 TB items are shard/file sizes from a
    metadata rollup, never fact rows."""
    daily = _daily(spark, sf_dir)
    il = daily.agg(
        F.expr(
            "reverse(sort_array(collect_list(struct(x, d)))) "
        ).alias("sd"),
        F.count(F.lit(1)).alias("n"),
        F.expr("2 * max(x)").alias("cap"),
        F.sum("x").alias("total"),
    ).select(
        F.expr("transform(sd, r -> r.x)").alias("xs"), "n", "cap", "total"
    )
    # first-fit position bound once per step via the single-element
    # transform idiom; pos = 0 means "no bin fits -> open a new one"
    fold = (
        "aggregate(xs, CAST(array() AS ARRAY<BIGINT>),"
        " (bins, s) -> element_at(transform(array("
        "   coalesce(array_position(transform(bins,"
        "     l -> IF(l + s <= cap, 1, 0)), 1), 0)), pos ->"
        "   IF(pos = 0, array_append(bins, s),"
        "      transform(bins, (l, j) -> IF(j = pos - 1, l + s, l)))"
        " ), 1))"
    )
    return il.select(
        F.col("n").cast("long").alias("n_items"),
        F.col("cap").cast("long").alias("capacity_cents"),
        F.expr(f"CAST(size({fold}) AS BIGINT)").alias("n_bins_ffd"),
        F.expr("CAST((total + cap - 1) div cap AS BIGINT)").alias(
            "lower_bound"
        ),
        F.expr(
            f"CAST(1000000 * total div (size({fold}) * cap) AS BIGINT)"
        ).alias("occupancy_ppm"),
    )


# ===========================================================================
# Graph distance profile: eccentricity / diameter / radius via bitmasks
# ===========================================================================

_DIAM_ORACLE = """
WITH ui AS (
  SELECT DISTINCT o.o_custkey AS u, CAST(l.l_partkey % 50 AS BIGINT) AS i
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
),
e AS (
  SELECT DISTINCT a.i AS a, b.i AS b
  FROM ui a JOIN ui b ON b.u = a.u AND b.i != a.i
),
nodes AS (SELECT DISTINCT a AS v FROM e),
b0 AS (SELECT v, CAST(1 << v AS BIGINT) AS ball FROM nodes),
b1 AS (
  SELECT b.v, CAST(coalesce(bit_or(nb.ball), 0) | max(b.ball) AS BIGINT)
           AS ball
  FROM b0 b LEFT JOIN e ON e.a = b.v LEFT JOIN b0 nb ON nb.v = e.b
  GROUP BY b.v
),
b2 AS (
  SELECT b.v, CAST(coalesce(bit_or(nb.ball), 0) | max(b.ball) AS BIGINT)
           AS ball
  FROM b1 b LEFT JOIN e ON e.a = b.v LEFT JOIN b1 nb ON nb.v = e.b
  GROUP BY b.v
),
b3 AS (
  SELECT b.v, CAST(coalesce(bit_or(nb.ball), 0) | max(b.ball) AS BIGINT)
           AS ball
  FROM b2 b LEFT JOIN e ON e.a = b.v LEFT JOIN b2 nb ON nb.v = e.b
  GROUP BY b.v
),
b4 AS (
  SELECT b.v, CAST(coalesce(bit_or(nb.ball), 0) | max(b.ball) AS BIGINT)
           AS ball
  FROM b3 b LEFT JOIN e ON e.a = b.v LEFT JOIN b3 nb ON nb.v = e.b
  GROUP BY b.v
),
ecc AS (
  SELECT b0.v,
         CASE WHEN b0.ball = b4.ball THEN 0
              WHEN b1.ball = b4.ball THEN 1
              WHEN b2.ball = b4.ball THEN 2
              WHEN b3.ball = b4.ball THEN 3
              ELSE 4 END AS ecc,
         CASE WHEN b3.ball = b4.ball THEN 1 ELSE 0 END AS conv
  FROM b0 JOIN b1 USING (v) JOIN b2 USING (v) JOIN b3 USING (v)
          JOIN b4 USING (v)
)
SELECT CAST(count(*) AS BIGINT) AS n_nodes,
       CAST(max(ecc) AS BIGINT) AS diameter,
       CAST(min(ecc) AS BIGINT) AS radius,
       CAST(sum(CASE WHEN ecc = (SELECT max(ecc) FROM ecc)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_peripheral,
       CAST(sum(CASE WHEN ecc = (SELECT min(ecc) FROM ecc)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_central,
       CAST(min(conv) AS BIGINT) AS converged
FROM ecc
"""


@_register("graph_diameter_bitmask", _DIAM_ORACLE)
def graph_diameter_bitmask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact eccentricity profile of the co-purchase item graph via the
    64-bit bitmask-OR device (neighborhood_function_bitmask's sibling,
    read per NODE instead of per radius): ecc(v) = first radius whose
    reach ball equals the converged ball, diameter = max ecc, radius =
    min ecc, with the graph CENTER (ecc = radius) and PERIPHERY (ecc =
    diameter) counted — the distance profile a topology audit reads
    before choosing broadcast depths or gossip fan-outs. Four unrolled
    OR-rounds bound the walk; `converged` records that round 3 already
    reached the fixpoint (executed, not assumed — a larger-diameter
    graph would flag 0 rather than silently misreport). Exact because
    the item domain fits one BIGINT mask; both engines share 1<<v /
    bit_or / popcount semantics. Scale shape: the only data-sized pass
    builds the edge list; four join+agg rounds touch <= 50-row frames."""
    e = item_pairs(spark, sf_dir, "!=").localCheckpoint(eager=False)
    frames = bitmask_reach_rounds(e, 4)
    j = frames[0].select("v", F.col("ball").alias("r0"))
    for k in range(1, 5):
        j = j.join(
            frames[k].select("v", F.col("ball").alias(f"r{k}")), "v"
        )
    ecc = j.select(
        "v",
        F.expr(
            "CASE WHEN r0 = r4 THEN 0 WHEN r1 = r4 THEN 1"
            " WHEN r2 = r4 THEN 2 WHEN r3 = r4 THEN 3 ELSE 4 END"
        ).alias("ecc"),
        F.expr("CASE WHEN r3 = r4 THEN 1 ELSE 0 END").alias("conv"),
    ).localCheckpoint(eager=False)
    ext = ecc.agg(
        F.max("ecc").alias("mx"), F.min("ecc").alias("mn")
    )
    return ecc.crossJoin(F.broadcast(ext)).agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.expr("CAST(max(ecc) AS BIGINT)").alias("diameter"),
        F.expr("CAST(min(ecc) AS BIGINT)").alias("radius"),
        F.expr(
            "CAST(sum(CASE WHEN ecc = mx THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("n_peripheral"),
        F.expr(
            "CAST(sum(CASE WHEN ecc = mn THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("n_central"),
        F.expr("CAST(min(conv) AS BIGINT)").alias("converged"),
    )


# ===========================================================================
# Graph: Boruvka minimum-spanning-forest rounds
# ===========================================================================

def _boruvka_oracle() -> str:
    """Generate the Boruvka oracle SQL: 2 rounds, each = per-component
    min-edge pick (integer-packed argmin) + pointer-doubling merge."""

    def round_sql(r: int, labsrc: str) -> str:
        # pick: per component, min (cost, u, v) edge leaving it
        sql = f"""
cand{r} AS MATERIALIZED (
  SELECT lu.c AS cu, lv.c AS cv, e.u, e.v, e.cost
  FROM und e
  JOIN {labsrc} lu ON lu.node = e.u
  JOIN {labsrc} lv ON lv.node = e.v
  WHERE lu.c != lv.c
),
pick{r} AS MATERIALIZED (
  SELECT cu,
         min(cost * 1000000000000 + u * 1000000 + v) AS pk
  FROM cand{r} GROUP BY cu
),
dec{r} AS MATERIALIZED (
  SELECT cu,
         pk // 1000000000000 AS cost,
         (pk // 1000000) % 1000000 AS u,
         pk % 1000000 AS v
  FROM pick{r}
),
sel{r} AS MATERIALIZED (
  SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b, cost
  FROM dec{r}
),
f{r} AS MATERIALIZED (
  SELECT d.cu AS c, lv.c AS fc
  FROM dec{r} d JOIN {labsrc} lv ON lv.node = d.v
),
comps{r} AS MATERIALIZED (SELECT DISTINCT c FROM {labsrc}),
g{r} AS MATERIALIZED (
  SELECT cm.c,
         CASE WHEN f1.fc IS NULL THEN cm.c
              WHEN f2.fc = cm.c THEN least(cm.c, f1.fc)
              ELSE f1.fc END AS h
  FROM comps{r} cm
  LEFT JOIN f{r} f1 ON f1.c = cm.c
  LEFT JOIN f{r} f2 ON f2.c = f1.fc
),
h{r}_0 AS MATERIALIZED (SELECT c, h FROM g{r})"""
        for k in range(1, 7):
            sql += f""",
h{r}_{k} AS MATERIALIZED (
  SELECT a.c, b.h
  FROM h{r}_{k - 1} a JOIN h{r}_{k - 1} b ON b.c = a.h
)"""
        sql += f""",
conv{r} AS MATERIALIZED (
  SELECT CAST(CASE WHEN count(*) = 0 THEN 1 ELSE 0 END AS BIGINT) AS ok
  FROM h{r}_6 a JOIN h{r}_6 b ON b.c = a.h
  WHERE b.h != a.h
),
lab{r} AS MATERIALIZED (
  SELECT l.node, h.h AS c
  FROM {labsrc} l JOIN h{r}_6 h ON h.c = l.c
)"""
        return sql

    return (
        """
WITH cos AS MATERIALIZED (
  SELECT a.l_suppkey AS s1, b.l_suppkey AS s2, count(*) AS w
  FROM lineitem a
  JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                 AND a.l_suppkey < b.l_suppkey
  GROUP BY 1, 2
),
e AS MATERIALIZED (
  SELECT s1, s2,
         CAST(1000000 // w + (s1 * 31 + s2 * 17) % 997 AS BIGINT) AS cost
  FROM cos WHERE w >= 2 AND (s1 * 31 + s2 * 17) % 20 = 0
),
und AS MATERIALIZED (
  SELECT s1 AS u, s2 AS v, cost FROM e
  UNION ALL
  SELECT s2 AS u, s1 AS v, cost FROM e
),
nodes AS MATERIALIZED (SELECT DISTINCT u AS node FROM und),
lab0 AS MATERIALIZED (SELECT node, node AS c FROM nodes),"""
        + round_sql(1, "lab0").lstrip("\n")
        + ","
        + round_sql(2, "lab1")
        + """,
allsel AS MATERIALIZED (
  SELECT a, b, cost FROM sel1 UNION SELECT a, b, cost FROM sel2
)
SELECT CAST((SELECT count(*) FROM nodes) AS BIGINT) AS n_nodes,
       CAST((SELECT count(*) FROM e) AS BIGINT) AS n_edges,
       CAST((SELECT count(DISTINCT c) FROM lab1) AS BIGINT)
         AS n_components_r1,
       CAST((SELECT count(DISTINCT c) FROM lab2) AS BIGINT)
         AS n_components_r2,
       CAST((SELECT count(*) FROM allsel) AS BIGINT) AS mst_edges,
       CAST((SELECT sum(cost) FROM allsel) AS BIGINT) AS mst_weight,
       CAST((SELECT min(ok) FROM (SELECT ok FROM conv1
                                  UNION ALL SELECT ok FROM conv2))
            AS BIGINT) AS converged
"""
    )


_BORUVKA_ORACLE = _boruvka_oracle()


@_register("boruvka_mst_rounds", _BORUVKA_ORACLE)
def boruvka_mst_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two Boruvka rounds of minimum-spanning-forest construction over
    the co-supplier graph (edge cost = 1e6/w plus a deterministic salt
    making weights totally ordered, so min-edge cycles are exactly the
    mutual 2-cycles): every component picks its cheapest outgoing edge
    (integer-packed (cost,u,v) argmin — one rollup), picked edges merge
    components by POINTER DOUBLING on the follow-the-pick map (6
    doublings cover chains to depth 64; `converged` EXECUTES the
    fixpoint check instead of assuming it), and the distinct picked
    edges accumulate the forest weight. Boruvka is THE parallel MST
    algorithm (Prim/Kruskal are inherently sequential): each round is
    pure joins + rollups, halving components — the missing constructive
    member of the graph family beside the diagnostic ones (CC says what
    is connected; Boruvka builds the cheapest backbone). Scale shape:
    the only data-sized pass builds co-supply edges; rounds touch
    component-sized frames with the doubling joins on <= |V| rows."""
    li = _t(spark, sf_dir, "lineitem")
    a = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("s1")
    )
    b = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("s2")
    )
    cos = (
        a.join(b, "ok")
        .filter(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    e = (
        cos.filter(
            (F.col("w") >= 2) & (F.expr("(s1 * 31 + s2 * 17) % 20 = 0"))
        )
        .select(
            "s1",
            "s2",
            F.expr(
                "CAST(1000000 div w + (s1 * 31 + s2 * 17) % 997 AS BIGINT)"
            ).alias("cost"),
        )
        .localCheckpoint(eager=False)
    )
    und = e.select(
        F.col("s1").alias("u"), F.col("s2").alias("v"), "cost"
    ).unionByName(
        e.select(F.col("s2").alias("u"), F.col("s1").alias("v"), "cost")
    ).localCheckpoint(eager=False)
    nodes = und.select(F.col("u").alias("node")).distinct()
    lab = nodes.select("node", F.col("node").alias("c")).localCheckpoint(
        eager=False
    )

    sels = []
    convs = []
    for _ in range(2):
        lu = lab.select(F.col("node").alias("u"), F.col("c").alias("cu"))
        lv = lab.select(F.col("node").alias("v"), F.col("c").alias("cv"))
        cand = (
            und.join(lu, "u")
            .join(lv, "v")
            .filter(F.col("cu") != F.col("cv"))
        )
        dec = (
            cand.groupBy("cu")
            .agg(
                F.min(
                    F.expr("cost * 1000000000000 + u * 1000000 + v")
                ).alias("pk")
            )
            .select(
                "cu",
                F.expr("pk div 1000000000000").alias("cost"),
                F.expr("(pk div 1000000) % 1000000").alias("u"),
                F.expr("pk % 1000000").alias("v"),
            )
            .localCheckpoint(eager=False)
        )
        sels.append(
            dec.select(
                F.expr("least(u, v)").alias("a"),
                F.expr("greatest(u, v)").alias("b"),
                "cost",
            ).distinct()
        )
        f = dec.join(
            lab.select(F.col("node").alias("v"), F.col("c").alias("fc")),
            "v",
        ).select(F.col("cu").alias("c"), "fc")
        comps = lab.select("c").distinct()
        f1 = f.select("c", F.col("fc").alias("f1"))
        f2 = f.select(F.col("c").alias("f1"), F.col("fc").alias("f2"))
        h = (
            comps.join(f1, "c", "left")
            .join(f2, "f1", "left")
            .select(
                "c",
                F.expr(
                    "CASE WHEN f1 IS NULL THEN c"
                    " WHEN f2 = c THEN least(c, f1)"
                    " ELSE f1 END"
                ).alias("h"),
            )
            .localCheckpoint(eager=False)
        )
        for _k in range(6):
            h = (
                h.alias("x")
                .join(
                    h.select(
                        F.col("c").alias("h"), F.col("h").alias("h2")
                    ).alias("y"),
                    "h",
                )
                .select(F.col("c"), F.col("h2").alias("h"))
                .localCheckpoint(eager=False)
            )
        convs.append(
            h.alias("x")
            .join(
                h.select(F.col("c").alias("h"), F.col("h").alias("h2")),
                "h",
            )
            .agg(
                F.expr(
                    "CAST(CASE WHEN sum(CASE WHEN h2 != h THEN 1 ELSE 0"
                    " END) = 0 THEN 1 ELSE 0 END AS BIGINT)"
                ).alias("ok")
            )
        )
        lab = (
            lab.join(h, "c")
            .select("node", F.col("h").alias("c"))
            .localCheckpoint(eager=False)
        )
        if len(sels) == 1:
            # LAZY 1-row frame over the round-1 labels (checkpointed, so
            # this reference pins that round's state) — r8: the four
            # readout counts used to be sequential driver count()
            # actions at build time (4 serial jobs); as broadcast 1-row
            # frames they run as parallel branches of the single final
            # job, same values.
            lab1 = lab.select("c").distinct().agg(
                F.count(F.lit(1)).cast("long").alias("n_components_r1")
            )
    allsel = sels[0].unionByName(sels[1]).distinct().localCheckpoint(
        eager=False
    )
    nn = nodes.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    ne = e.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    lab2 = lab.select("c").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("n_components_r2")
    )
    msts = allsel.agg(
        F.count(F.lit(1)).cast("long").alias("mst_edges"),
        F.sum("cost").cast("long").alias("mst_weight"),
    )
    conv = (
        convs[0]
        .unionByName(convs[1])
        .agg(F.expr("CAST(min(ok) AS BIGINT)").alias("converged"))
    )
    return (
        msts.crossJoin(F.broadcast(conv))
        .crossJoin(F.broadcast(nn))
        .crossJoin(F.broadcast(ne))
        .crossJoin(F.broadcast(lab1))
        .crossJoin(F.broadcast(lab2))
        .select(
            "n_nodes",
            "n_edges",
            "n_components_r1",
            "n_components_r2",
            "mst_edges",
            "mst_weight",
            "converged",
        )
    )


# ===========================================================================
# Regression: exact two-predictor OLS via Cramer's rule
# ===========================================================================

_OLS2_ORACLE = """
WITH s AS (
  SELECT n.n_name,
         CAST(l.l_quantity AS BIGINT) AS x1,
         CAST(round(l.l_discount * 100) AS BIGINT) AS x2,
         CAST(round(l.l_extendedprice * 100) AS BIGINT) AS y
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
),
m AS (
  SELECT n_name, count(*) AS n,
         CAST(sum(x1) AS BIGINT) AS s1, CAST(sum(x2) AS BIGINT) AS s2,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x1 * x1) AS BIGINT) AS q11,
         CAST(sum(x2 * x2) AS BIGINT) AS q22,
         CAST(sum(x1 * x2) AS BIGINT) AS q12,
         CAST(sum(x1 * y) AS BIGINT) AS q1y,
         CAST(sum(x2 * y) AS BIGINT) AS q2y,
         CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS qyy
  FROM s GROUP BY n_name
),
c AS (
  SELECT n_name, n,
         CAST(n AS HUGEINT) * q11 - CAST(s1 AS HUGEINT) * s1 AS s11,
         CAST(n AS HUGEINT) * q22 - CAST(s2 AS HUGEINT) * s2 AS s22,
         CAST(n AS HUGEINT) * q12 - CAST(s1 AS HUGEINT) * s2 AS s12,
         CAST(n AS HUGEINT) * q1y - CAST(s1 AS HUGEINT) * sy AS s1y,
         CAST(n AS HUGEINT) * q2y - CAST(s2 AS HUGEINT) * sy AS s2y,
         CAST(n AS HUGEINT) * qyy - CAST(sy AS HUGEINT) * sy AS syy,
         s1, s2, sy
  FROM m
),
fit AS (
  SELECT n_name, n, s1, s2, sy, s1y, s2y, syy,
         CAST(1000 * (s22 * s1y - s12 * s2y)
              // nullif(s11 * s22 - s12 * s12, 0) AS BIGINT) AS b1_milli,
         CAST(1000 * (s11 * s2y - s12 * s1y)
              // nullif(s11 * s22 - s12 * s12, 0) AS BIGINT) AS b2_milli
  FROM c
)
SELECT n_name,
       CAST(n AS BIGINT) AS n,
       b1_milli,
       b2_milli,
       CAST((1000 * sy - b1_milli * s1 - b2_milli * s2) // (1000 * n)
            AS BIGINT) AS intercept_cents,
       CAST(1000000 * (b1_milli * s1y + b2_milli * s2y)
            // nullif(1000 * syy, 0) AS BIGINT) AS r2_ppm
FROM fit
ORDER BY n_name
"""


@_register("ols_two_predictor_nation", _OLS2_ORACLE)
def ols_two_predictor_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-predictor OLS per nation — revenue on quantity and discount —
    solved EXACTLY by Cramer's rule on the demeaned normal equations
    (S11 S22 - S12^2 determinant, 128-bit integer lanes, one truncating
    division per coefficient), with intercept and the R^2 share
    explained: the MULTIPLE-regression member the single-predictor
    entries build toward (rolling_beta_window fits one x in a window,
    fixed_effects_within one x with entity demeaning; two correlated
    predictors is where OLS starts needing the matrix solve, and
    quantity/discount are the canonical confounded pair). All moments
    are one mergeable hash aggregate; everything after is per-group
    scalar math — the exact shape a 100 TB regression runs. On this
    lake price is INDEPENDENT of quantity/discount, so R^2 reads near
    zero — the executed no-signal baseline a real deployment's nonzero
    R^2 is judged against."""
    s = (
        _t(spark, sf_dir, "lineitem")
        .join(
            _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            # unhinted: customer scales with the lake (AQE decides)
            _t(spark, sf_dir, "customer").select(
                "c_custkey", "c_nationkey"
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(
                _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(
            "n_name",
            F.col("l_quantity").cast("long").alias("x1"),
            F.expr("CAST(round(l_discount * 100) AS BIGINT)").alias("x2"),
            _cents("l_extendedprice").alias("y"),
        )
    )
    m = s.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x1").alias("s1"),
        F.sum("x2").alias("s2"),
        F.sum("y").alias("sy"),
        F.sum(F.expr("x1 * x1")).alias("q11"),
        F.sum(F.expr("x2 * x2")).alias("q22"),
        F.sum(F.expr("x1 * x2")).alias("q12"),
        F.sum(F.expr("x1 * y")).alias("q1y"),
        F.sum(F.expr("x2 * y")).alias("q2y"),
        F.sum(F.expr("CAST(y AS DECIMAL(38,0)) * y")).alias("qyy"),
    )
    c = m.select(
        "n_name",
        "n",
        "s1",
        "s2",
        "sy",
        F.expr("CAST(n AS DECIMAL(38,0)) * q11 - CAST(s1 AS DECIMAL(38,0))"
               " * s1").alias("s11"),
        F.expr("CAST(n AS DECIMAL(38,0)) * q22 - CAST(s2 AS DECIMAL(38,0))"
               " * s2").alias("s22"),
        F.expr("CAST(n AS DECIMAL(38,0)) * q12 - CAST(s1 AS DECIMAL(38,0))"
               " * s2").alias("s12"),
        F.expr("CAST(n AS DECIMAL(38,0)) * q1y - CAST(s1 AS DECIMAL(38,0))"
               " * sy").alias("s1y"),
        F.expr("CAST(n AS DECIMAL(38,0)) * q2y - CAST(s2 AS DECIMAL(38,0))"
               " * sy").alias("s2y"),
        F.expr("CAST(n AS DECIMAL(38,0)) * qyy - CAST(sy AS DECIMAL(38,0))"
               " * sy").alias("syy"),
    )
    fit = c.select(
        "n_name",
        "n",
        "s1",
        "s2",
        "sy",
        "s1y",
        "s2y",
        "syy",
        F.expr(
            "CAST(1000 * (s22 * s1y - s12 * s2y)"
            " div nullif(s11 * s22 - s12 * s12, 0) AS BIGINT)"
        ).alias("b1_milli"),
        F.expr(
            "CAST(1000 * (s11 * s2y - s12 * s1y)"
            " div nullif(s11 * s22 - s12 * s12, 0) AS BIGINT)"
        ).alias("b2_milli"),
    )
    return fit.select(
        "n_name",
        F.col("n").cast("long").alias("n"),
        "b1_milli",
        "b2_milli",
        F.expr(
            "CAST((1000 * sy - b1_milli * s1 - b2_milli * s2)"
            " div (1000 * n) AS BIGINT)"
        ).alias("intercept_cents"),
        F.expr(
            "CAST(1000000 * (b1_milli * CAST(s1y AS DECIMAL(38,0))"
            " + b2_milli * s2y) div nullif(1000 * syy, 0) AS BIGINT)"
        ).alias("r2_ppm"),
    ).orderBy("n_name")


# ===========================================================================
# Robust location shift: Hodges-Lehmann estimator
# ===========================================================================

_HL_ORACLE = """
WITH pa AS (
  SELECT CAST(ts AS DATE) AS d,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS xa
  FROM events WHERE event_type = 'purchase' GROUP BY 1
),
pb AS (
  SELECT CAST(ts AS DATE) AS d,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS xb
  FROM events WHERE event_type = 'click' GROUP BY 1
),
diffs AS (
  SELECT pa.xa - pb.xb AS dv FROM pa CROSS JOIN pb
),
rk AS (
  SELECT dv, row_number() OVER (ORDER BY dv) AS rn, count(*) OVER () AS np
  FROM diffs
),
med AS (
  SELECT max(np) AS n_pairs,
         CAST((max(CASE WHEN rn = np // 2 THEN dv END)
               + max(CASE WHEN rn = np // 2 + 1 THEN dv END))
              AS BIGINT) AS ssum
  FROM rk
)
SELECT CAST(n_pairs AS BIGINT) AS n_pairs,
       CAST(CASE WHEN ssum >= 0 THEN ssum // 2
                 ELSE -((-ssum) // 2) END AS BIGINT) AS hl_shift_cents
FROM med
"""


@_register("hodges_lehmann_shift", _HL_ORACLE)
def hodges_lehmann_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hodges-Lehmann two-sample shift estimate between the daily
    purchase and click revenue series: the MEDIAN of all pairwise
    differences x_i - y_j — the robust location-shift estimator paired
    with the Wilcoxon/Mann-Whitney test family (rank_sum_auc detects
    the shift; HL says HOW BIG, with 50% breakdown against outliers vs
    the mean difference's 0%). The pair frame is the bounded day x day
    cross (the contingency-collapse rule: pair statistics only ever on
    bounded rollups, never raw rows), and the even-count median
    averages the two central order statistics with truncate-toward-
    zero halving identical on both lanes. Scale shape: two day
    rollups, one broadcast cross of bounded frames, one rank window."""
    ev = _t(spark, sf_dir, "events")

    def series(etype: str, name: str) -> DataFrame:
        return (
            ev.filter(F.col("event_type") == etype)
            .groupBy(F.col("ts").cast("date").alias("d"))
            .agg(F.sum(_cents("value")).alias(name))
        )

    diffs = (
        series("purchase", "xa")
        .crossJoin(F.broadcast(series("click", "xb")))
        .select((F.col("xa") - F.col("xb")).alias("dv"))
    )
    rk = diffs.select(
        "dv",
        F.row_number().over(W.orderBy("dv")).alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy()).alias("np"),
    )
    med = rk.agg(
        F.max("np").alias("n_pairs"),
        F.expr(
            "CAST(max(CASE WHEN rn = np div 2 THEN dv END)"
            " + max(CASE WHEN rn = np div 2 + 1 THEN dv END)"
            " AS BIGINT)"
        ).alias("ssum"),
    )
    return med.select(
        F.col("n_pairs").cast("long").alias("n_pairs"),
        F.expr(
            "CAST(CASE WHEN ssum >= 0 THEN ssum div 2"
            " ELSE -((-ssum) div 2) END AS BIGINT)"
        ).alias("hl_shift_cents"),
    )


# ===========================================================================
# Forecasting: the theta method (M3 benchmark winner)
# ===========================================================================

_THETA_ORACLE = (
    "WITH RECURSIVE "
    + _DAILY_SQL.strip().lstrip()
    + """,
idx AS (SELECT row_number() OVER (ORDER BY d) AS t, x FROM daily),
cnt AS (SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS sy FROM idx),
ols AS (
  SELECT cnt.n, cnt.sy,
         CAST(sum((2 * t - (cnt.n + 1)) * x) AS BIGINT) AS sty2,
         CAST(sum((2 * t - (cnt.n + 1)) * (2 * t - (cnt.n + 1)))
              AS BIGINT) AS stt2
  FROM idx, cnt GROUP BY cnt.n, cnt.sy
),
fit AS (
  SELECT n, sy,
         CAST(2000 * sty2 // stt2 AS BIGINT) AS b_milli
  FROM ols
),
ab AS (
  SELECT n, b_milli,
         CAST((1000 * sy - b_milli * (n * (n + 1) // 2)) // n AS BIGINT)
           AS a_milli
  FROM fit
),
z AS (
  SELECT i.t, CAST(2000 * i.x - (ab.a_milli + ab.b_milli * i.t) AS BIGINT)
           AS z_milli
  FROM idx i, ab
),
rec(t, s) AS (
  SELECT 1, z_milli FROM z WHERE t = 1
  UNION ALL
  SELECT r.t + 1,
         CASE WHEN z.z_milli + r.s >= 0 THEN (z.z_milli + r.s) // 2
              ELSE -((-(z.z_milli + r.s)) // 2) END
  FROM rec r JOIN z ON z.t = r.t + 1
)
SELECT CAST(ab.n AS BIGINT) AS n_days,
       ab.b_milli,
       CAST(r.s AS BIGINT) AS ses_theta2_milli,
       CAST(CASE WHEN r.s + ab.a_milli + ab.b_milli * (ab.n + 1) >= 0
                 THEN (r.s + ab.a_milli + ab.b_milli * (ab.n + 1)) // 2
                 ELSE -((-(r.s + ab.a_milli + ab.b_milli * (ab.n + 1)))
                        // 2) END AS BIGINT) AS f1_milli,
       CAST(CASE WHEN r.s + ab.a_milli + ab.b_milli * (ab.n + 7) >= 0
                 THEN (r.s + ab.a_milli + ab.b_milli * (ab.n + 7)) // 2
                 ELSE -((-(r.s + ab.a_milli + ab.b_milli * (ab.n + 7)))
                        // 2) END AS BIGINT) AS f7_milli
FROM rec r, ab WHERE r.t = ab.n
"""
)


@_register("theta_method_forecast", _THETA_ORACLE)
def theta_method_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The theta method (Assimakopoulos-Nikolopoulos, the M3
    competition's winning univariate forecaster) on daily revenue:
    decompose into theta=0 (the OLS trend line, long-run direction)
    and theta=2 (2x_t - trend, doubled-curvature) lines, SES-smooth the
    theta-2 line (alpha = 1/2, a truncating halving fold), and forecast
    the average of the two extrapolations — equivalent to SES with
    drift, and the standard hard-to-beat baseline the fancier members
    (holt_winters, yule_walker) must outperform to earn their keep. The
    trend uses the doubled-deviation integer lanes (2t - (n+1) is
    integer for every n) so slope and intercept are exact; the SES fold
    mirrors as a recursive CTE. Scale shape: day rollup, one aggregate,
    one bounded fold."""
    daily = _daily(spark, sf_dir)
    idx = daily.select(
        F.row_number().over(W.orderBy("d")).alias("t"), "x"
    ).localCheckpoint(eager=False)
    # window-in-aggregate is illegal: compute n first, broadcast it back
    n_s = idx.agg(
        F.count(F.lit(1)).alias("n"), F.sum("x").alias("sy")
    )
    mo = (
        idx.crossJoin(F.broadcast(n_s))
        .agg(
            F.max("n").alias("n"),
            F.max("sy").alias("sy"),
            F.sum(F.expr("(2 * t - (n + 1)) * x")).alias("sty2"),
            F.sum(F.expr("(2 * t - (n + 1)) * (2 * t - (n + 1))")).alias(
                "stt2"
            ),
        )
    )
    ab = mo.select(
        "n",
        F.expr("CAST(2000 * sty2 div stt2 AS BIGINT)").alias("b_milli"),
        F.expr(
            "CAST((1000 * sy - (2000 * sty2 div stt2)"
            " * (n * (n + 1) div 2)) div n AS BIGINT)"
        ).alias("a_milli"),
    )
    z = (
        idx.crossJoin(F.broadcast(ab))
        .select(
            "t",
            F.expr(
                "CAST(2000 * x - (a_milli + b_milli * t) AS BIGINT)"
            ).alias("z_milli"),
            "n",
            "a_milli",
            "b_milli",
        )
    )
    tz = "CASE WHEN {v} >= 0 THEN ({v}) div 2 ELSE -((-({v})) div 2) END"
    folded = z.agg(
        F.max("n").alias("n"),
        F.max("a_milli").alias("a_milli"),
        F.max("b_milli").alias("b_milli"),
        F.expr(
            "aggregate(slice(array_sort(collect_list(struct(t, z_milli))),"
            " 2, 1000000),"
            " element_at(array_sort(collect_list(struct(t, z_milli))), 1)"
            ".z_milli,"
            f" (acc, e) -> {tz.format(v='e.z_milli + acc')})"
        ).alias("s"),
    )
    return folded.select(
        F.col("n").cast("long").alias("n_days"),
        "b_milli",
        F.col("s").cast("long").alias("ses_theta2_milli"),
        F.expr(
            "CAST("
            + tz.format(v="s + a_milli + b_milli * (n + 1)")
            + " AS BIGINT)"
        ).alias("f1_milli"),
        F.expr(
            "CAST("
            + tz.format(v="s + a_milli + b_milli * (n + 7)")
            + " AS BIGINT)"
        ).alias("f7_milli"),
    )


# ===========================================================================
# State space: 1-D Kalman filter (local level) fold
# ===========================================================================

_KALMAN_ORACLE = (
    "WITH RECURSIVE "
    + _DAILY_SQL.strip().lstrip()
    + """,
idx AS (SELECT row_number() OVER (ORDER BY d) AS t, x FROM daily),
nv AS (
  SELECT count(*) AS n,
         CAST((count(*) * CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT)
               - CAST(sum(x) AS HUGEINT) * sum(x))
              // (CAST(count(*) AS HUGEINT) * (count(*) - 1)) AS BIGINT)
           AS r
  FROM idx
),
rec(t, xf, p) AS (
  SELECT 1, CAST(1000 * x AS BIGINT), nv.r
  FROM idx, nv WHERE t = 1
  UNION ALL
  SELECT r2.t + 1,
         r2.xf + (1000000 * (r2.p + nv.r // 10)
                  // (r2.p + nv.r // 10 + nv.r))
                 * (1000 * i.x - r2.xf) // 1000000,
         (1000000 - 1000000 * (r2.p + nv.r // 10)
                    // (r2.p + nv.r // 10 + nv.r))
         * (r2.p + nv.r // 10) // 1000000
  FROM rec r2
  JOIN idx i ON i.t = r2.t + 1
  CROSS JOIN nv
)
SELECT CAST(nv.n AS BIGINT) AS n_days,
       CAST(nv.r AS BIGINT) AS obs_var_cents2,
       CAST(r.xf AS BIGINT) AS level_milli,
       CAST(r.p AS BIGINT) AS p_final_cents2,
       CAST(1000000 * (r.p + nv.r // 10) // (r.p + nv.r // 10 + nv.r)
            AS BIGINT) AS gain_next_ppm
FROM rec r, nv WHERE r.t = nv.n
"""
)


@_register("kalman_local_level", _KALMAN_ORACLE)
def kalman_local_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D Kalman filter (local-level / random-walk-plus-noise model)
    over daily revenue, with the observation variance R estimated from
    the data's own sample variance and process noise Q = R/10: the
    predict-update recursion p_pred = p + Q, K = p_pred/(p_pred + R),
    x' = x + K(y - x), p' = (1-K) p_pred runs as integer milli/ppm
    lanes with truncating division — the OPTIMAL-weighting member of
    the smoothing family (ewma fixes its alpha forever; the Kalman
    gain ADAPTS, starting high while uncertain and settling to the
    steady-state ratio, which gain_next_ppm reports — the value EWMA's
    alpha should have been). Fold == recursive CTE, bit-equal. Scale
    shape: day rollup, one variance aggregate, one bounded fold;
    per-series state never shuffles."""
    daily = _daily(spark, sf_dir).localCheckpoint(eager=False)
    nv = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(
            "CAST((count(*) * CAST(sum(CAST(x AS DECIMAL(38,0)) * x)"
            " AS DECIMAL(38,0)) - CAST(sum(x) AS DECIMAL(38,0)) * sum(x))"
            " div (CAST(count(*) AS DECIMAL(38,0)) * (count(*) - 1))"
            " AS BIGINT)"
        ).alias("r"),
    )
    arr = daily.agg(
        F.expr("transform(array_sort(collect_list(struct(d, x))),"
               " e -> e.x)").alias("xs")
    )
    st = arr.crossJoin(F.broadcast(nv)).select(
        "n",
        "r",
        F.expr(
            "aggregate(slice(xs, 2, size(xs) - 1),"
            " named_struct('xf', CAST(1000 * element_at(xs, 1) AS BIGINT),"
            "              'p', r),"
            " (acc, y) -> named_struct("
            "   'xf', acc.xf + (1000000 * (acc.p + r div 10)"
            "                   div (acc.p + r div 10 + r))"
            "                  * (1000 * y - acc.xf) div 1000000,"
            "   'p', (1000000 - 1000000 * (acc.p + r div 10)"
            "                   div (acc.p + r div 10 + r))"
            "        * (acc.p + r div 10) div 1000000))"
        ).alias("st"),
    )
    return st.select(
        F.col("n").cast("long").alias("n_days"),
        F.col("r").cast("long").alias("obs_var_cents2"),
        F.col("st.xf").alias("level_milli"),
        F.col("st.p").alias("p_final_cents2"),
        F.expr(
            "CAST(1000000 * (st.p + r div 10)"
            " div (st.p + r div 10 + r) AS BIGINT)"
        ).alias("gain_next_ppm"),
    )


# ===========================================================================
# Conformal prediction: split-conformal intervals with executed coverage
# ===========================================================================

_CONFORMAL_ORACLE = """
WITH s AS (
  SELECT event_type,
         CAST(round(value * 100) AS BIGINT) AS v,
         event_id,
         CASE WHEN CAST(CONCAT('0x',
                substr(md5(CAST(event_id AS VARCHAR) || ':conf:42'), 1, 15))
                AS BIGINT) % 2 = 0 THEN 'cal' ELSE 'test' END AS part
  FROM events
),
calr AS (
  SELECT event_type, v,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY v, event_id) AS rn,
         count(*) OVER (PARTITION BY event_type) AS nc
  FROM s WHERE part = 'cal'
),
pred AS (
  SELECT event_type, max(nc) AS n_cal,
         CAST(max(CASE WHEN rn = (nc + 1) // 2 THEN v END) AS BIGINT)
           AS pred_cents
  FROM calr GROUP BY event_type
),
scorer AS (
  SELECT c.event_type,
         abs(c.v - p.pred_cents) AS sc,
         row_number() OVER (PARTITION BY c.event_type
                            ORDER BY abs(c.v - p.pred_cents), c.event_id)
           AS rn,
         p.n_cal
  FROM (SELECT * FROM s WHERE part = 'cal') c
  JOIN pred p ON p.event_type = c.event_type
),
qhat AS (
  SELECT event_type, max(n_cal) AS n_cal,
         CAST(max(CASE WHEN rn = ((n_cal + 1) * 9 + 9) // 10 THEN sc END)
              AS BIGINT) AS q_cents
  FROM scorer GROUP BY event_type
)
SELECT t.event_type,
       CAST(q.n_cal AS BIGINT) AS n_cal,
       CAST(count(*) AS BIGINT) AS n_test,
       p.pred_cents,
       q.q_cents,
       CAST(1000000 * sum(CASE WHEN abs(t.v - p.pred_cents) <= q.q_cents
                               THEN 1 ELSE 0 END) // count(*) AS BIGINT)
         AS coverage_ppm
FROM (SELECT * FROM s WHERE part = 'test') t
JOIN pred p ON p.event_type = t.event_type
JOIN qhat q ON q.event_type = t.event_type
GROUP BY t.event_type, q.n_cal, p.pred_cents, q.q_cents
ORDER BY t.event_type
"""


@_register("conformal_interval_coverage", _CONFORMAL_ORACLE)
def conformal_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction intervals per event type: a
    deterministic md5 half-split separates calibration from test, the
    point predictor is the calibration median, the interval half-width
    is the ceil((n+1)*0.9)-th order statistic of calibration absolute
    residuals, and the EXECUTED test coverage rides along — conformal's
    distribution-free >= 90% guarantee observed on data, not assumed.
    This is the uncertainty-quantification member the eval family lacks
    (calibration_reliability_bins audits probability calibration;
    conformal wraps ANY predictor with finite-sample-valid intervals,
    the method production ML ships when models lie about confidence).
    All order statistics are exact rank selections with (value, id)
    tie-breaks identical cross-engine. Scale shape: two rank windows
    per group, one rollup — no model, no iteration."""
    bucket = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":", F.col("event_id"), F.lit("conf"), F.lit("42")
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint")
        % 2
    )
    s = _t(spark, sf_dir, "events").select(
        "event_type",
        _cents("value").alias("v"),
        "event_id",
        F.when(bucket == 0, "cal").otherwise("test").alias("part"),
    ).localCheckpoint(eager=False)
    cal = s.filter(F.col("part") == "cal")
    wv = W.partitionBy("event_type").orderBy("v", "event_id")
    calr = cal.select(
        "event_type",
        "v",
        F.row_number().over(wv).alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy("event_type")).alias("nc"),
    )
    pred = calr.groupBy("event_type").agg(
        F.max("nc").alias("n_cal"),
        F.expr(
            "CAST(max(CASE WHEN rn = (nc + 1) div 2 THEN v END) AS BIGINT)"
        ).alias("pred_cents"),
    ).localCheckpoint(eager=False)
    ws = W.partitionBy("event_type").orderBy("sc", "event_id")
    scorer = cal.join(F.broadcast(pred), "event_type").select(
        "event_type",
        F.expr("abs(v - pred_cents)").alias("sc"),
        "event_id",
        "n_cal",
    ).select(
        "event_type",
        "sc",
        F.row_number().over(ws).alias("rn"),
        "n_cal",
    )
    qhat = scorer.groupBy("event_type").agg(
        F.max("n_cal").alias("n_cal"),
        F.expr(
            "CAST(max(CASE WHEN rn = ((n_cal + 1) * 9 + 9) div 10"
            " THEN sc END) AS BIGINT)"
        ).alias("q_cents"),
    )
    test = s.filter(F.col("part") == "test")
    return (
        test.join(F.broadcast(pred.select("event_type", "pred_cents")),
                  "event_type")
        .join(F.broadcast(qhat), "event_type")
        .groupBy("event_type", "n_cal", "pred_cents", "q_cents")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.expr(
                "CAST(1000000 * sum(CASE WHEN abs(v - pred_cents)"
                " <= q_cents THEN 1 ELSE 0 END) div count(*) AS BIGINT)"
            ).alias("coverage_ppm"),
        )
        .select(
            "event_type",
            F.col("n_cal").cast("long").alias("n_cal"),
            "n_test",
            "pred_cents",
            "q_cents",
            "coverage_ppm",
        )
        .orderBy("event_type")
    )


# ===========================================================================
# Empirical Bayes for proportions: beta-binomial shrinkage
# ===========================================================================

_BETABIN_ORACLE = """
WITH lab AS (
  SELECT n.n_name,
         CAST(count(*) AS BIGINT) AS n1,
         CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                       THEN 1 ELSE 0 END) AS BIGINT) AS y1
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  GROUP BY 1
),
pool AS (
  SELECT CAST(sum(n1) AS BIGINT) AS nn,
         CAST(1000000 * sum(y1) // sum(n1) AS BIGINT) AS m1_ppm,
         count(*) AS k
  FROM lab
),
disp AS (
  SELECT p.nn, p.m1_ppm, p.k,
         CAST(sum(CAST(n1 AS HUGEINT)
                  * (1000000 * y1 // n1 - p.m1_ppm)
                  * (1000000 * y1 // n1 - p.m1_ppm)) // p.nn AS BIGINT)
           AS s2_ppm2
  FROM lab, pool p
  GROUP BY p.nn, p.m1_ppm, p.k
),
prior AS (
  SELECT nn, m1_ppm, k, s2_ppm2,
         greatest(CAST(1 AS BIGINT),
           CAST(m1_ppm AS HUGEINT) * (1000000 - m1_ppm)
             // nullif(s2_ppm2, 0) - 1) AS m_strength
  FROM disp
)
SELECT l.n_name,
       l.n1,
       l.y1,
       CAST(1000000 * l.y1 // l.n1 AS BIGINT) AS raw_ppm,
       CAST((1000000 * l.y1 + p.m_strength * p.m1_ppm)
            // (l.n1 + p.m_strength) AS BIGINT) AS shrunk_ppm,
       CAST(p.m_strength AS BIGINT) AS prior_strength,
       p.m1_ppm AS pooled_ppm
FROM lab l, prior p
ORDER BY l.n_name
"""


@_register("beta_binomial_shrinkage", _BETABIN_ORACLE)
def beta_binomial_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beta-binomial empirical-Bayes shrinkage of the 25 per-nation
    urgent-order RATES: method-of-moments prior strength M =
    m(1-m)/s^2 - 1 (s^2 the n-weighted between-group rate variance),
    posterior rate = (y + M m)/(n + M) — the PROPORTIONS sibling of
    james_stein_shrinkage (means): small nations shrink hard toward
    the pooled rate, big ones barely move, which is exactly what
    ranking raw small-sample rates gets wrong (wilson_score_ranking
    fixes ranking by bounds; this fixes the ESTIMATE itself). All ppm
    lanes truncate identically cross-engine; shrunk rates land between
    raw and pooled by construction, an executed invariant. Scale
    shape: one rollup to 25 strata, two 1-row aggregates broadcast
    back."""
    lab = (
        _t(spark, sf_dir, "orders")
        .join(
            _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(
                _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n1"),
            F.sum(
                F.expr(
                    "CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')"
                    " THEN 1 ELSE 0 END"
                )
            )
            .cast("long")
            .alias("y1"),
        )
        .localCheckpoint(eager=False)
    )
    pool = lab.agg(
        F.sum("n1").alias("nn"),
        F.expr("CAST(1000000 * sum(y1) div sum(n1) AS BIGINT)").alias(
            "m1_ppm"
        ),
    )
    disp = (
        lab.crossJoin(F.broadcast(pool))
        .groupBy("nn", "m1_ppm")
        .agg(
            F.expr(
                "CAST(sum(CAST(n1 AS DECIMAL(38,0))"
                " * (1000000 * y1 div n1 - m1_ppm)"
                " * (1000000 * y1 div n1 - m1_ppm)) div max(nn) AS BIGINT)"
            ).alias("s2_ppm2")
        )
    )
    prior = disp.select(
        "m1_ppm",
        F.expr(
            "greatest(CAST(1 AS BIGINT),"
            " CAST(CAST(m1_ppm AS DECIMAL(38,0)) * (1000000 - m1_ppm)"
            " div nullif(s2_ppm2, 0) AS BIGINT) - 1)"
        ).alias("m_strength"),
    )
    return (
        lab.crossJoin(F.broadcast(prior))
        .select(
            "n_name",
            "n1",
            "y1",
            F.expr("CAST(1000000 * y1 div n1 AS BIGINT)").alias("raw_ppm"),
            F.expr(
                "CAST((1000000 * y1 + m_strength * m1_ppm)"
                " div (n1 + m_strength) AS BIGINT)"
            ).alias("shrunk_ppm"),
            F.col("m_strength").cast("long").alias("prior_strength"),
            F.col("m1_ppm").alias("pooled_ppm"),
        )
        .orderBy("n_name")
    )


# ===========================================================================
# Centrality: Katz index via exact walk counts
# ===========================================================================

_KATZ_ORACLE = """
WITH cos AS (
  SELECT a.l_suppkey AS s1, b.l_suppkey AS s2, count(*) AS w
  FROM lineitem a
  JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                 AND a.l_suppkey < b.l_suppkey
  GROUP BY 1, 2
),
e AS (
  SELECT s1, s2 FROM cos
  WHERE w >= 2 AND (s1 * 31 + s2 * 17) % 20 = 0
),
und AS (
  SELECT s1 AS u, s2 AS v FROM e
  UNION ALL SELECT s2 AS u, s1 AS v FROM e
),
w1 AS (SELECT u AS node, CAST(count(*) AS BIGINT) AS c FROM und GROUP BY u),
w2 AS (
  SELECT und.u AS node, CAST(sum(w1.c) AS BIGINT) AS c
  FROM und JOIN w1 ON w1.node = und.v GROUP BY und.u
),
w3 AS (
  SELECT und.u AS node, CAST(sum(w2.c) AS BIGINT) AS c
  FROM und JOIN w2 ON w2.node = und.v GROUP BY und.u
)
SELECT w1.node,
       w1.c AS walks_1,
       w2.c AS walks_2,
       w3.c AS walks_3,
       CAST(100 * w1.c + 10 * w2.c + w3.c AS BIGINT) AS katz_scaled
FROM w1 JOIN w2 USING (node) JOIN w3 USING (node)
ORDER BY katz_scaled DESC, node
LIMIT 15
"""


@_register("katz_centrality_rounds", _KATZ_ORACLE)
def katz_centrality_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Katz centrality (3-term truncation, beta = 0.1) over the
    co-supplier graph via EXACT walk counts: w_k(v) = number of k-step
    walks from v (three join+aggregate rounds), and since beta is a
    decimal power of ten the weighted sum 0.1 w1 + 0.01 w2 + 0.001 w3
    is the exact INTEGER 100 w1 + 10 w2 + w3 at the 1e-3 scale — no
    floats anywhere in a centrality that textbooks compute by matrix
    inversion. Completes the centrality spectrum: degree (walks_1) is
    purely local, pagerank_supplier_graph normalizes by out-degree,
    hits_hub_authority is bipartite-dual; Katz counts ALL walks with
    geometric damping, the one that credits nodes near hubs. Scale
    shape: the data-sized pass builds edges; three rounds of
    equi-join + rollup on the node frame, top-15 via
    TakeOrderedAndProject."""
    li = _t(spark, sf_dir, "lineitem")
    a = li.select(F.col("l_orderkey").alias("ok"),
                  F.col("l_suppkey").alias("s1"))
    b = li.select(F.col("l_orderkey").alias("ok"),
                  F.col("l_suppkey").alias("s2"))
    e = (
        a.join(b, "ok")
        .filter(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2")
        .agg(F.count(F.lit(1)).alias("w"))
        .filter((F.col("w") >= 2) & F.expr("(s1 * 31 + s2 * 17) % 20 = 0"))
        .select("s1", "s2")
    )
    und = e.select(F.col("s1").alias("u"), F.col("s2").alias("v")).unionByName(
        e.select(F.col("s2").alias("u"), F.col("s1").alias("v"))
    ).localCheckpoint(eager=False)
    w1 = und.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    ).localCheckpoint(eager=False)

    def step(prev: DataFrame) -> DataFrame:
        return (
            und.join(prev.select(F.col("node").alias("v"), "c"), "v")
            .groupBy(F.col("u").alias("node"))
            .agg(F.sum("c").cast("long").alias("c"))
            .localCheckpoint(eager=False)
        )

    w2 = step(w1)
    w3 = step(w2)
    return (
        w1.select("node", F.col("c").alias("walks_1"))
        .join(w2.select("node", F.col("c").alias("walks_2")), "node")
        .join(w3.select("node", F.col("c").alias("walks_3")), "node")
        .select(
            "node",
            "walks_1",
            "walks_2",
            "walks_3",
            F.expr(
                "CAST(100 * walks_1 + 10 * walks_2 + walks_3 AS BIGINT)"
            ).alias("katz_scaled"),
        )
        .orderBy(F.col("katz_scaled").desc(), "node")
        .limit(15)
    )


# ===========================================================================
# Causal: mediation analysis (product of paths)
# ===========================================================================

_MEDIATION_ORACLE = """
WITH s AS (
  SELECT CAST(round(l_discount * 100) AS BIGINT) AS x,
         CAST(l_quantity AS BIGINT) AS m,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS y
  FROM lineitem
),
mo AS (
  SELECT count(*) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(m) AS BIGINT) AS sm,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS qxx,
         CAST(sum(m * m) AS BIGINT) AS qmm,
         CAST(sum(x * m) AS BIGINT) AS qxm,
         CAST(sum(x * y) AS BIGINT) AS qxy,
         CAST(sum(m * y) AS BIGINT) AS qmy
  FROM s
),
c AS (
  SELECT n,
         CAST(n AS HUGEINT) * qxx - CAST(sx AS HUGEINT) * sx AS sxx,
         CAST(n AS HUGEINT) * qmm - CAST(sm AS HUGEINT) * sm AS smm,
         CAST(n AS HUGEINT) * qxm - CAST(sx AS HUGEINT) * sm AS sxm,
         CAST(n AS HUGEINT) * qxy - CAST(sx AS HUGEINT) * sy AS sxy,
         CAST(n AS HUGEINT) * qmy - CAST(sm AS HUGEINT) * sy AS smy
  FROM mo
),
r AS (
  SELECT n,
         sxx, sxy, sxm,
         sxx // 1000 AS rxx, smm // 1000 AS rmm, sxm // 1000 AS rxm,
         sxy // 1000 AS rxy, smy // 1000 AS rmy
  FROM c
)
SELECT CAST(n AS BIGINT) AS n,
       CAST(1000 * sxm // sxx AS BIGINT) AS a_path_milli,
       CAST(1000 * (rxx * rmy - rxm * rxy)
            // (rxx * rmm - rxm * rxm) AS BIGINT) AS b_path_milli,
       CAST(1000 * (rmm * rxy - rxm * rmy)
            // (rxx * rmm - rxm * rxm) AS BIGINT) AS direct_milli,
       CAST((1000 * sxm // sxx)
            * (1000 * (rxx * rmy - rxm * rxy)
               // (rxx * rmm - rxm * rxm)) // 1000 AS BIGINT)
         AS indirect_milli,
       CAST(1000 * sxy // sxx AS BIGINT) AS total_milli
FROM r
"""


@_register("mediation_product_paths", _MEDIATION_ORACLE)
def mediation_product_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Baron-Kenny mediation decomposition of the discount -> quantity
    -> revenue pathway: the a-path (x->m simple OLS slope), the b-path
    and direct effect (y ~ x + m via the exact Cramer solve), the
    indirect effect a*b, and the total effect c — with the mediation
    identity c = c' + a*b holding up to milli truncation (pinned in
    pytest): the MECHANISM member of the causal family (ipw/rdd/iv/did
    estimate whether x moves y; mediation asks through WHAT). On this
    lake quantity is near-independent of discount, so the mediated
    share of the total effect is small — the executed near-placebo
    reading that validates the machinery the way the A/A arms do for
    difference_in_differences. One mergeable moment aggregate, scalar
    math after; the canonical 100 TB regression shape."""
    s = _t(spark, sf_dir, "lineitem").select(
        F.expr("CAST(round(l_discount * 100) AS BIGINT)").alias("x"),
        F.col("l_quantity").cast("long").alias("m"),
        _cents("l_extendedprice").alias("y"),
    )
    mo = s.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("m").alias("sm"),
        F.sum("y").alias("sy"),
        F.sum(F.expr("x * x")).alias("qxx"),
        F.sum(F.expr("m * m")).alias("qmm"),
        F.sum(F.expr("x * m")).alias("qxm"),
        F.sum(F.expr("x * y")).alias("qxy"),
        F.sum(F.expr("m * y")).alias("qmy"),
    )
    c = mo.select(
        "n",
        F.expr("CAST(n AS DECIMAL(38,0)) * qxx - CAST(sx AS DECIMAL(38,0))"
               " * sx").alias("sxx"),
        F.expr("CAST(n AS DECIMAL(38,0)) * qmm - CAST(sm AS DECIMAL(38,0))"
               " * sm").alias("smm"),
        F.expr("CAST(n AS DECIMAL(38,0)) * qxm - CAST(sx AS DECIMAL(38,0))"
               " * sm").alias("sxm"),
        F.expr("CAST(n AS DECIMAL(38,0)) * qxy - CAST(sx AS DECIMAL(38,0))"
               " * sy").alias("sxy"),
        F.expr("CAST(n AS DECIMAL(38,0)) * qmy - CAST(sm AS DECIMAL(38,0))"
               " * sy").alias("smy"),
    )
    # the Cramer quadratic forms are reduced by 1000 per S-term (the
    # b-ratio is invariant under uniform scaling) so the 128-bit lanes
    # stay inside DECIMAL(38,0) at 5x whole-table volume; Spark div
    # results are re-CAST to DECIMAL (they land in BIGINT otherwise)
    r = c.select(
        "n",
        "sxx",
        "sxy",
        "sxm",
        F.expr("CAST(sxx div 1000 AS DECIMAL(38,0))").alias("rxx"),
        F.expr("CAST(smm div 1000 AS DECIMAL(38,0))").alias("rmm"),
        F.expr("CAST(sxm div 1000 AS DECIMAL(38,0))").alias("rxm"),
        F.expr("CAST(sxy div 1000 AS DECIMAL(38,0))").alias("rxy"),
        F.expr("CAST(smy div 1000 AS DECIMAL(38,0))").alias("rmy"),
    )
    return r.select(
        F.col("n").cast("long").alias("n"),
        F.expr("CAST(1000 * sxm div sxx AS BIGINT)").alias("a_path_milli"),
        F.expr(
            "CAST(1000 * (rxx * rmy - rxm * rxy)"
            " div (rxx * rmm - rxm * rxm) AS BIGINT)"
        ).alias("b_path_milli"),
        F.expr(
            "CAST(1000 * (rmm * rxy - rxm * rmy)"
            " div (rxx * rmm - rxm * rxm) AS BIGINT)"
        ).alias("direct_milli"),
        F.expr(
            "CAST((1000 * sxm div sxx)"
            " * (1000 * (rxx * rmy - rxm * rxy)"
            "    div (rxx * rmm - rxm * rxm)) div 1000 AS BIGINT)"
        ).alias("indirect_milli"),
        F.expr("CAST(1000 * sxy div sxx AS BIGINT)").alias("total_milli"),
    )


# ===========================================================================
# Hyperparameter-search core: successive halving over arms
# ===========================================================================

_SH_ORACLE = """
WITH obs AS (
  SELECT n.n_name,
         CAST(round(o.o_totalprice * 100) AS BIGINT) AS v,
         row_number() OVER (PARTITION BY n.n_name
                            ORDER BY o.o_orderdate, o.o_orderkey) AS rn
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
),
r0 AS (
  SELECT n_name, CAST(sum(CASE WHEN rn <= 16 THEN v END) AS BIGINT) AS s
  FROM obs GROUP BY n_name
),
k0 AS (
  SELECT n_name, s,
         row_number() OVER (ORDER BY s DESC, n_name) AS rk
  FROM r0
),
r1 AS (
  SELECT o.n_name, CAST(sum(CASE WHEN o.rn <= 32 THEN o.v END) AS BIGINT)
           AS s
  FROM obs o JOIN k0 ON k0.n_name = o.n_name AND k0.rk <= 12
  GROUP BY o.n_name
),
k1 AS (
  SELECT n_name, s,
         row_number() OVER (ORDER BY s DESC, n_name) AS rk
  FROM r1
),
r2 AS (
  SELECT o.n_name, CAST(sum(CASE WHEN o.rn <= 48 THEN o.v END) AS BIGINT)
           AS s
  FROM obs o JOIN k1 ON k1.n_name = o.n_name AND k1.rk <= 6
  GROUP BY o.n_name
),
k2 AS (
  SELECT n_name, s,
         row_number() OVER (ORDER BY s DESC, n_name) AS rk
  FROM r2
)
SELECT * FROM (
  SELECT CAST(0 AS BIGINT) AS rung, CAST(16 AS BIGINT) AS budget,
         n_name, s AS sum_cents, CAST(rk AS BIGINT) AS rank_in_rung,
         CAST(CASE WHEN rk <= 12 THEN 1 ELSE 0 END AS BIGINT) AS kept
  FROM k0
  UNION ALL
  SELECT 1, 32, n_name, s, CAST(rk AS BIGINT),
         CAST(CASE WHEN rk <= 6 THEN 1 ELSE 0 END AS BIGINT)
  FROM k1
  UNION ALL
  SELECT 2, 48, n_name, s, CAST(rk AS BIGINT),
         CAST(CASE WHEN rk <= 3 THEN 1 ELSE 0 END AS BIGINT)
  FROM k2
)
ORDER BY rung, rank_in_rung
"""


@_register("successive_halving_arms", _SH_ORACLE)
def successive_halving_arms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Successive halving (the core of Hyperband) over 25 arms (nations,
    reward = order value in arrival order): rung 0 scores every arm on
    its first 16 observations and keeps the top 12, rung 1 re-scores
    survivors at budget 32 and keeps 6, rung 2 at budget 48 keeps the 3
    winners — the budget-efficient alternative to the fixed-horizon
    designs the experiment family already carries (two_proportion tests
    one pair to the end; sprt stops ONE test early; halving allocates a
    shared budget ACROSS arms). Equal per-arm budgets make mean-ranking
    exact integer SUM-ranking (no division anywhere); arrival order is
    the deterministic (date, key) sort. Scale shape: one rank window
    over the fact, three rollups on shrinking arm sets — budgets are
    row-count caps, so the scan cost is bounded regardless of table
    size."""
    obs = (
        _t(spark, sf_dir, "orders")
        .join(
            _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(
                _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(
            "n_name",
            _cents("o_totalprice").alias("v"),
            F.row_number()
            .over(
                W.partitionBy("n_name").orderBy("o_orderdate", "o_orderkey")
            )
            .alias("rn"),
        )
        .localCheckpoint(eager=False)
    )

    def rung(survivors: DataFrame | None, budget: int) -> DataFrame:
        base = obs if survivors is None else obs.join(
            F.broadcast(survivors), "n_name"
        )
        return (
            base.groupBy("n_name")
            .agg(
                F.expr(
                    f"CAST(sum(CASE WHEN rn <= {budget} THEN v END)"
                    " AS BIGINT)"
                ).alias("s")
            )
            .select(
                "n_name",
                "s",
                F.row_number()
                .over(W.orderBy(F.col("s").desc(), "n_name"))
                .cast("long")
                .alias("rk"),
            )
            .localCheckpoint(eager=False)
        )

    k0 = rung(None, 16)
    k1 = rung(k0.filter(F.col("rk") <= 12).select("n_name"), 32)
    k2 = rung(k1.filter(F.col("rk") <= 6).select("n_name"), 48)

    def out(k: DataFrame, rg: int, budget: int, keep: int) -> DataFrame:
        return k.select(
            F.lit(rg).cast("long").alias("rung"),
            F.lit(budget).cast("long").alias("budget"),
            "n_name",
            F.col("s").alias("sum_cents"),
            F.col("rk").alias("rank_in_rung"),
            F.expr(f"CAST(CASE WHEN rk <= {keep} THEN 1 ELSE 0 END"
                   " AS BIGINT)").alias("kept"),
        )

    return (
        out(k0, 0, 16, 12)
        .unionByName(out(k1, 1, 32, 6))
        .unionByName(out(k2, 2, 48, 3))
        .orderBy("rung", "rank_in_rung")
    )


# ===========================================================================
# Text: RAKE keyphrase extraction (exact integer scoring)
# ===========================================================================

_RAKE_STOPS = "('a', 'the', 'is', 'of', 'and', 'to', 'in')"

_RAKE_ORACLE = f"""
WITH words AS (
  SELECT doc_id, w.word, w.pos
  FROM documents d,
       LATERAL (SELECT unnest(string_split(lower(d.text), ' ')) AS word,
                       generate_subscripts(
                         string_split(lower(d.text), ' '), 1) AS pos) w
  WHERE d.text IS NOT NULL AND w.word != ''
),
flagged AS (
  SELECT doc_id, word, pos,
         CASE WHEN word IN {_RAKE_STOPS} THEN 1 ELSE 0 END AS st,
         sum(CASE WHEN word IN {_RAKE_STOPS} THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM words
),
members AS (SELECT doc_id, grp, word, pos FROM flagged WHERE st = 0),
phrases AS (
  SELECT doc_id, grp,
         string_agg(word, ' ' ORDER BY pos) AS phrase,
         count(*) AS plen
  FROM members GROUP BY doc_id, grp
),
wstat AS (
  SELECT m.word,
         CAST(count(*) AS BIGINT) AS freq,
         CAST(sum(p.plen) AS BIGINT) AS deg
  FROM members m JOIN phrases p ON p.doc_id = m.doc_id AND p.grp = m.grp
  GROUP BY m.word
),
scored AS (
  SELECT p.phrase, CAST(max(p.plen) AS BIGINT) AS n_words,
         CAST(sum(1000 * ws.deg // ws.freq) AS BIGINT) AS score_milli
  FROM phrases p
  JOIN members m ON m.doc_id = p.doc_id AND m.grp = p.grp
  JOIN wstat ws ON ws.word = m.word
  GROUP BY p.doc_id, p.grp, p.phrase
),
dedup AS (
  SELECT phrase, max(n_words) AS n_words, max(score_milli) AS score_milli
  FROM scored GROUP BY phrase
)
SELECT phrase, CAST(n_words AS BIGINT) AS n_words, score_milli
FROM dedup
ORDER BY score_milli DESC, phrase
LIMIT 20
"""


@_register("rake_keyphrase_scores", _RAKE_ORACLE)
def rake_keyphrase_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction over the corpus: candidate phrases are
    maximal stopword-free word runs (gaps-and-islands on the stopword
    flag — no fancy regex, so both engines tokenize identically), each
    word scores degree/frequency (degree = total length of phrases it
    appears in, the co-occurrence credit), and a phrase scores the sum
    of its members' milli-scores — the unsupervised keyphrase member of
    the text family (tfidf_top_terms ranks single terms per doc;
    token_cooccurrence_lift ranks pairs; RAKE surfaces multi-word
    phrases corpus-wide, the summarization primitive). Identical
    phrases dedupe to one row (same string => same members => same
    score, so max == the value). Scale shape: tokenize map, one window
    per doc, three hash rollups — the phrase and word frames are
    corpus-vocabulary bounded."""
    d = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    words = d.select(
        "doc_id",
        F.posexplode(F.split(F.lower(F.col("text")), " ")).alias(
            "pos0", "word"
        ),
    ).filter(F.col("word") != "")
    stops = _RAKE_STOPS
    flagged = words.select(
        "doc_id",
        "word",
        (F.col("pos0") + 1).alias("pos"),
        F.expr(f"CASE WHEN word IN {stops} THEN 1 ELSE 0 END").alias("st"),
    ).select(
        "doc_id",
        "word",
        "pos",
        "st",
        F.sum("st").over(W.partitionBy("doc_id").orderBy("pos")).alias("grp"),
    )
    members = flagged.filter(F.col("st") == 0).select(
        "doc_id", "grp", "word", "pos"
    ).localCheckpoint(eager=False)
    phrases = members.groupBy("doc_id", "grp").agg(
        F.expr(
            "array_join(transform(array_sort(collect_list(struct(pos, word))),"
            " e -> e.word), ' ')"
        ).alias("phrase"),
        F.count(F.lit(1)).cast("long").alias("plen"),
    ).localCheckpoint(eager=False)
    wstat = (
        members.join(phrases, ["doc_id", "grp"])
        .groupBy("word")
        .agg(
            F.count(F.lit(1)).cast("long").alias("freq"),
            F.sum("plen").cast("long").alias("deg"),
        )
    )
    scored = (
        phrases.join(members, ["doc_id", "grp"])
        .join(F.broadcast(wstat), "word")
        .groupBy("doc_id", "grp", "phrase")
        .agg(
            F.max("plen").cast("long").alias("n_words"),
            F.expr("CAST(sum(1000 * deg div freq) AS BIGINT)").alias(
                "score_milli"
            ),
        )
    )
    return (
        scored.groupBy("phrase")
        .agg(
            F.max("n_words").alias("n_words"),
            F.max("score_milli").alias("score_milli"),
        )
        .orderBy(F.col("score_milli").desc(), "phrase")
        .limit(20)
    )


# ===========================================================================
# Optimizer statistics: V-optimal histogram via DP
# ===========================================================================

def _vopt_sse(j: str, t: str, engine: str) -> str:
    """SSE of bucket [j..t] from prefix sums, truncating division:
    sse = ((t-j+1)*(Q_t - Q_{j-1}) - (S_t - S_{j-1})^2) / (t-j+1)."""
    if engine == "spark":
        s = (f"(element_at(sl, CAST({t} AS INT))"
             f" - IF({j} > 1, element_at(sl, CAST({j} - 1 AS INT)),"
             " CAST(0 AS BIGINT)))")
        q = (f"(element_at(ql, CAST({t} AS INT))"
             f" - IF({j} > 1, element_at(ql, CAST({j} - 1 AS INT)),"
             " CAST(0 AS BIGINT)))")
        return f"((({t} - {j} + 1) * {q} - {s} * {s}) div ({t} - {j} + 1))"
    s = (f"(sl[{t}] - CASE WHEN {j} > 1 THEN sl[{j} - 1] ELSE 0 END)")
    q = (f"(ql[{t}] - CASE WHEN {j} > 1 THEN ql[{j} - 1] ELSE 0 END)")
    return f"((({t} - {j} + 1) * {q} - {s} * {s}) // ({t} - {j} + 1))"


def _vopt_oracle() -> str:
    sse1 = _vopt_sse("1", "t", "duck")
    ssej = _vopt_sse("j", "t", "duck")
    ctes = ["c1 AS MATERIALIZED (\n"
            "  SELECT [" + sse1 + " for t in range(1, n + 1)] AS c, n,\n"
            "         sl, ql FROM arrs\n)"]
    for b in range(2, 6):
        ctes.append(
            f"c{b} AS MATERIALIZED (\n"
            f"  SELECT [CASE WHEN t < {b} THEN CAST(1152921504606846976 AS BIGINT)\n"
            f"               ELSE list_min([p.c[j - 1] + {ssej}\n"
            f"                    for j in range(2, t + 1)]) END\n"
            "          for t in range(1, n + 1)] AS c, n, sl, ql\n"
            f"  FROM c{b - 1} p\n)"
        )
    selects = "\n  UNION ALL\n".join(
        f"  SELECT CAST({b} AS BIGINT) AS n_buckets,"
        f" CAST(c[CAST(n AS INT)] AS BIGINT) AS sse_total FROM c{b}"
        for b in range(1, 6)
    )
    return (
        "WITH daily AS MATERIALIZED (\n"
        "  SELECT CAST(ts AS DATE) AS d,\n"
        "         sum(CAST(round(value * 100) AS BIGINT)) AS x\n"
        "  FROM events WHERE event_type = 'purchase'\n"
        "  GROUP BY 1\n"
        "),\n"
        "sorted_v AS MATERIALIZED (\n"
        "  SELECT x, row_number() OVER (ORDER BY x, d) AS t FROM daily\n"
        "),\n"
        "arrs AS MATERIALIZED (\n"
        "  SELECT list(x ORDER BY t) AS xs,\n"
        "         [list_sum((list(x ORDER BY t))[1:k])\n"
        "          for k in range(1, count(*) + 1)] AS sl,\n"
        "         [list_sum([y * y for y in (list(x ORDER BY t))[1:k]])\n"
        "          for k in range(1, count(*) + 1)] AS ql,\n"
        "         count(*) AS n\n"
        "  FROM sorted_v\n"
        "),\n"
        + ",\n".join(ctes)
        + ",\nfinal_rows AS (\n"
        + selects
        + "\n)\n"
        "SELECT f.n_buckets, f.sse_total,\n"
        "       CAST(1000000 * (b1.sse_total - f.sse_total)\n"
        "            // nullif(b1.sse_total, 0) AS BIGINT)\n"
        "         AS reduction_ppm\n"
        "FROM final_rows f,\n"
        "     (SELECT sse_total FROM final_rows WHERE n_buckets = 1) b1\n"
        "ORDER BY f.n_buckets\n"
    )


_VOPT_ORACLE = _vopt_oracle()


@_register("voptimal_histogram_dp", _VOPT_ORACLE)
def voptimal_histogram_dp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V-optimal histogram construction (Jagadish et al.): partition the
    sorted daily-revenue values into B contiguous buckets minimizing
    total within-bucket SSE, solved exactly by the classic O(n^2 B) DP
    on prefix sums for B = 1..5 — the OPTIMizer-statistics member the
    histogram family was missing (equiwidth quantizes the range,
    equidepth the mass; V-optimal minimizes the estimation error an
    optimizer actually cares about, and the SSE-vs-B curve read across
    the five rows is the elbow that picks bucket counts). SSE lanes are
    exact integer cents^2 with one truncating division per bucket;
    Spark folds the DP arrays through chained transforms, DuckDB walks
    the identical comprehensions through materialized CTEs. Scale
    shape: day rollup, then bounded-array math on one row."""
    daily = _daily(spark, sf_dir)
    sorted_v = daily.select(
        "x", F.row_number().over(W.orderBy("x", "d")).alias("t")
    )
    arrs = sorted_v.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(t, x))), e -> e.x)"
        ).alias("xs"),
        F.count(F.lit(1)).alias("n"),
    ).select(
        "xs",
        "n",
        F.expr(
            "transform(sequence(1, CAST(n AS INT)), k ->"
            " aggregate(slice(xs, 1, k), CAST(0 AS BIGINT),"
            " (a, v) -> a + v))"
        ).alias("sl"),
        F.expr(
            "transform(sequence(1, CAST(n AS INT)), k ->"
            " aggregate(slice(xs, 1, k), CAST(0 AS BIGINT),"
            " (a, v) -> a + v * v))"
        ).alias("ql"),
    )
    sse1 = _vopt_sse("1", "t", "spark")
    ssej = _vopt_sse("j", "t", "spark")
    frame = arrs.select(
        "n",
        "sl",
        "ql",
        F.expr(
            f"transform(sequence(1, CAST(n AS INT)), t -> {sse1})"
        ).alias("c1"),
    )
    for b in range(2, 6):
        frame = frame.select(
            "n",
            "sl",
            "ql",
            *[f"c{k}" for k in range(1, b)],
            F.expr(
                f"transform(sequence(1, CAST(n AS INT)), t ->"
                f" IF(t < {b}, CAST({1 << 60} AS BIGINT),"
                f" array_min(transform(sequence(2, t), j ->"
                f" element_at(c{b - 1}, CAST(j - 1 AS INT)) + {ssej}))))"
            ).alias(f"c{b}"),
            # checkpoint per DP level: projection collapse would inline
            # each level's expression into the next (exponential tree)
        ).localCheckpoint(eager=False)
    rows = None
    for b in range(1, 6):
        r = frame.select(
            F.lit(b).cast("long").alias("n_buckets"),
            F.expr(f"CAST(element_at(c{b}, CAST(n AS INT)) AS BIGINT)").alias(
                "sse_total"
            ),
        )
        rows = r if rows is None else rows.unionByName(r)
    base = rows.filter(F.col("n_buckets") == 1).select(
        F.col("sse_total").alias("sse1")
    )
    return (
        rows.crossJoin(F.broadcast(base))
        .select(
            "n_buckets",
            "sse_total",
            F.expr(
                "CAST(1000000 * (sse1 - sse_total) div nullif(sse1, 0)"
                " AS BIGINT)"
            ).alias("reduction_ppm"),
        )
        .orderBy("n_buckets")
    )


# ===========================================================================
# Econometrics: Dickey-Fuller unit-root test
# ===========================================================================

_DF_ORACLE = (
    "WITH "
    + _DAILY_SQL
    + """,
idx AS (SELECT row_number() OVER (ORDER BY d) AS t, x FROM daily),
pairs AS (
  SELECT x - lag(x) OVER (ORDER BY t) AS dy,
         lag(x) OVER (ORDER BY t) AS z
  FROM idx
  QUALIFY z IS NOT NULL
),
mo AS (
  SELECT count(*) AS m,
         CAST(sum(z) AS BIGINT) AS sz, CAST(sum(dy) AS BIGINT) AS sd,
         CAST(sum(CAST(z AS HUGEINT) * z) AS HUGEINT) AS qzz,
         CAST(sum(CAST(dy AS HUGEINT) * dy) AS HUGEINT) AS qdd,
         CAST(sum(CAST(z AS HUGEINT) * dy) AS HUGEINT) AS qzd
  FROM pairs
),
c AS (
  SELECT m,
         m * qzz - CAST(sz AS HUGEINT) * sz AS sxx,
         m * qdd - CAST(sd AS HUGEINT) * sd AS syy,
         m * qzd - CAST(sz AS HUGEINT) * sd AS sxy
  FROM mo
),
r AS (
  SELECT m, sxx, sxy,
         sxx // 1000 AS rxx, syy // 1000 AS ryy, sxy // 1000 AS rxy
  FROM c
)
SELECT CAST(m AS BIGINT) AS n_diffs,
       CAST(1000 * sxy // sxx AS BIGINT) AS gamma_milli,
       CAST(1000 * rxy * rxy * (m - 2)
            // nullif(rxx * ryy - rxy * rxy, 0) AS BIGINT) AS t2_milli,
       CAST(CASE WHEN 1000 * sxy // sxx < 0
                  AND 1000 * rxy * rxy * (m - 2)
                      // nullif(rxx * ryy - rxy * rxy, 0) > 8180
                 THEN 1 ELSE 0 END AS BIGINT) AS unit_root_rejected
FROM r
"""
)


@_register("dickey_fuller_unit_root", _DF_ORACLE)
def dickey_fuller_unit_root(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dickey-Fuller unit-root test on daily revenue: regress the day
    change on the lagged level (with intercept, via demeaned moments),
    gamma < 0 with t^2 = Sxy^2 (m-2) / (Sxx Syy - Sxy^2) beyond the
    squared 5% DF critical value (2.86^2 = 8.180, a literal both
    engines compare) rejects the random-walk null — the
    STATIONARITY gate every forecasting member of the catalog
    implicitly assumes (yule_walker, theta, holt fits mean-revert;
    this entry is the test that says fitting them to a random walk is
    spurious, the Granger-Newbold lesson). Quadratic forms ride the
    reduce-by-1000 lanes so the 128-bit products stay in range at 5x
    volume. Scale shape: day rollup, one lag window, one moment
    aggregate — constants after."""
    daily = _daily(spark, sf_dir)
    idx = daily.select(F.row_number().over(W.orderBy("d")).alias("t"), "x")
    pairs = idx.select(
        (F.col("x") - F.lag("x").over(W.orderBy("t"))).alias("dy"),
        F.lag("x").over(W.orderBy("t")).alias("z"),
    ).filter(F.col("z").isNotNull())
    mo = pairs.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("z").alias("sz"),
        F.sum("dy").alias("sd"),
        F.sum(F.expr("CAST(z AS DECIMAL(38,0)) * z")).alias("qzz"),
        F.sum(F.expr("CAST(dy AS DECIMAL(38,0)) * dy")).alias("qdd"),
        F.sum(F.expr("CAST(z AS DECIMAL(38,0)) * dy")).alias("qzd"),
    )
    c = mo.select(
        "m",
        F.expr("m * qzz - CAST(sz AS DECIMAL(38,0)) * sz").alias("sxx"),
        F.expr("m * qdd - CAST(sd AS DECIMAL(38,0)) * sd").alias("syy"),
        F.expr("m * qzd - CAST(sz AS DECIMAL(38,0)) * sd").alias("sxy"),
    )
    r = c.select(
        "m",
        "sxx",
        "sxy",
        F.expr("CAST(sxx div 1000 AS DECIMAL(38,0))").alias("rxx"),
        F.expr("CAST(syy div 1000 AS DECIMAL(38,0))").alias("ryy"),
        F.expr("CAST(sxy div 1000 AS DECIMAL(38,0))").alias("rxy"),
    )
    return r.select(
        F.col("m").cast("long").alias("n_diffs"),
        F.expr("CAST(1000 * sxy div sxx AS BIGINT)").alias("gamma_milli"),
        F.expr(
            "CAST(1000 * rxy * rxy * (m - 2)"
            " div nullif(rxx * ryy - rxy * rxy, 0) AS BIGINT)"
        ).alias("t2_milli"),
        F.expr(
            "CAST(CASE WHEN 1000 * sxy div sxx < 0"
            " AND 1000 * rxy * rxy * (m - 2)"
            "     div nullif(rxx * ryy - rxy * rxy, 0) > 8180"
            " THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("unit_root_rejected"),
    )


# ===========================================================================
# Nonparametric scale test: Ansari-Bradley
# ===========================================================================

_AB_ORACLE = """
WITH s AS (
  SELECT event_id, CAST(round(value * 100) AS BIGINT) AS v,
         CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_a
  FROM events WHERE event_type IN ('click', 'view')
),
rk AS (
  SELECT is_a,
         row_number() OVER (ORDER BY v, event_id) AS i,
         count(*) OVER () AS nn
  FROM s
),
ab AS (
  SELECT max(nn) AS nn,
         CAST(sum(is_a) AS BIGINT) AS na,
         CAST(sum(CASE WHEN is_a = 1
                       THEN least(i, nn + 1 - i) ELSE 0 END) AS BIGINT)
           AS ab_stat
  FROM rk
),
z AS (
  SELECT nn, na, nn - na AS nb, ab_stat,
         CASE WHEN nn % 2 = 0
              THEN 1000 * CAST(4 * ab_stat - na * (nn + 2) AS HUGEINT)
                   * (4 * ab_stat - na * (nn + 2)) * 3 * (nn - 1)
                   // (CAST(na AS HUGEINT) * (nn - na) * (nn + 2)
                       * (nn - 2))
              ELSE 1000 * CAST(4 * nn * ab_stat
                               - na * (nn + 1) * (nn + 1) AS HUGEINT)
                   * (4 * nn * ab_stat - na * (nn + 1) * (nn + 1)) * 3
                   // (CAST(na AS HUGEINT) * (nn - na) * (nn + 1)
                       * (3 + CAST(nn AS HUGEINT) * nn))
         END AS z2_milli
  FROM ab
)
SELECT CAST(na AS BIGINT) AS n_a,
       CAST(nb AS BIGINT) AS n_b,
       ab_stat,
       CAST(z2_milli AS BIGINT) AS z2_milli,
       CAST(CASE WHEN z2_milli > 3841 THEN 1 ELSE 0 END AS BIGINT)
         AS scale_differs_5pct
FROM z
"""


@_register("ansari_bradley_scale_test", _AB_ORACLE)
def ansari_bradley_scale_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ansari-Bradley rank test for SCALE (dispersion) difference
    between click and view values: pooled ranks scored from both ends
    (a_i = min(i, N+1-i) — small scores at the extremes), summed over
    group A; a group with larger spread collects more extreme ranks
    and a LOWER AB statistic. This is the dispersion member of the
    two-sample family (rank_sum_auc tests location, ks/cvm/ad the
    whole distribution, levene_brown_forsythe scale via deviations —
    AB is the pure-rank scale test, valid with no moment assumptions).
    z^2 against the exact null moments (even/odd-N closed forms as a
    CASE both engines evaluate identically) rides one 128-bit
    division; ties break deterministically by event_id. Scale shape:
    the pooled rank is computed without a single-partition window —
    tiered_global_rank over contiguous 128-cent value bands (exact
    (v, event_id) order preserved within and across tiers), one
    aggregate."""
    s = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "view"))
        .select(
            "event_id",
            _cents("value").alias("v"),
            F.when(F.col("event_type") == "click", 1).otherwise(0).alias(
                "is_a"
            ),
        )
    )
    rk = tiered_global_rank(
        s,
        F.expr("v div 128"),
        ["v", "event_id"],
        rank_name="i",
        total_name="nn",
    ).select("is_a", "i", "nn")
    ab = rk.agg(
        F.max("nn").alias("nn"),
        F.sum("is_a").cast("long").alias("na"),
        F.sum(
            F.expr(
                "CASE WHEN is_a = 1 THEN least(i, nn + 1 - i) ELSE 0 END"
            )
        )
        .cast("long")
        .alias("ab_stat"),
    )
    z = ab.select(
        "nn",
        "na",
        F.expr("nn - na").alias("nb"),
        "ab_stat",
        F.expr(
            "CASE WHEN nn % 2 = 0"
            " THEN 1000 * CAST(4 * ab_stat - na * (nn + 2) AS DECIMAL(38,0))"
            "      * (4 * ab_stat - na * (nn + 2)) * 3 * (nn - 1)"
            "      div (CAST(na AS DECIMAL(38,0)) * (nn - na) * (nn + 2)"
            "           * (nn - 2))"
            " ELSE 1000 * CAST(4 * nn * ab_stat"
            "                  - na * (nn + 1) * (nn + 1) AS DECIMAL(38,0))"
            "      * (4 * nn * ab_stat - na * (nn + 1) * (nn + 1)) * 3"
            "      div (CAST(na AS DECIMAL(38,0)) * (nn - na) * (nn + 1)"
            "           * (3 + CAST(nn AS DECIMAL(38,0)) * nn))"
            " END"
        ).alias("z2_milli"),
    )
    return z.select(
        F.col("na").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        "ab_stat",
        F.col("z2_milli").cast("long").alias("z2_milli"),
        F.expr(
            "CAST(CASE WHEN z2_milli > 3841 THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("scale_differs_5pct"),
    )


# ===========================================================================
# Economics: arc price elasticity of demand
# ===========================================================================

_ELASTICITY_ORACLE = """
WITH li AS (
  SELECT p.p_brand,
         CAST(l.l_quantity AS BIGINT) AS q,
         CAST(round(l.l_extendedprice * 100) AS BIGINT) AS rev,
         (CAST(round(l.l_extendedprice * 100) AS BIGINT) * 1000)
           // CAST(l.l_quantity AS BIGINT) AS pu,
         l.l_orderkey, l.l_linenumber
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
),
rk AS (
  SELECT p_brand, q, rev, pu,
         row_number() OVER (PARTITION BY p_brand
                            ORDER BY pu, l_orderkey, l_linenumber) AS rn,
         count(*) OVER (PARTITION BY p_brand) AS n
  FROM li
),
halves AS (
  SELECT p_brand, max(n) AS n,
         CAST(sum(CASE WHEN rn * 2 <= n THEN q END) AS BIGINT) AS q_lo,
         CAST(sum(CASE WHEN rn * 2 > n THEN q END) AS BIGINT) AS q_hi,
         CAST(sum(CASE WHEN rn * 2 <= n THEN rev END)
              // sum(CASE WHEN rn * 2 <= n THEN q END) AS BIGINT) AS p_lo,
         CAST(sum(CASE WHEN rn * 2 > n THEN rev END)
              // sum(CASE WHEN rn * 2 > n THEN q END) AS BIGINT) AS p_hi
  FROM rk GROUP BY p_brand
)
SELECT p_brand,
       CAST(n AS BIGINT) AS n,
       p_lo AS p_low_cents, p_hi AS p_high_cents,
       q_lo AS q_low_units, q_hi AS q_high_units,
       CAST(1000 * (q_hi - q_lo) * (p_hi + p_lo)
            // nullif((q_hi + q_lo) * (p_hi - p_lo), 0) AS BIGINT)
         AS arc_elasticity_milli
FROM halves
ORDER BY p_brand
"""


@_register("arc_price_elasticity", _ELASTICITY_ORACLE)
def arc_price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arc price elasticity of demand per part brand: order each
    brand's line items by unit price (an integer milli key — rev*1000
    div qty — so the split needs no float division), compare the
    low-price and high-price halves' average unit price and total
    quantity, and read the midpoint-formula elasticity
    (dq/q̄)/(dp/p̄) as one cross-multiplied division — the demand-curve
    member of the pricing family (price_index_fisher aggregates price
    LEVELS; elasticity reads the quantity RESPONSE, the number margin
    optimization needs). On this lake quantity is independent of
    price, so elasticities hover near zero — the executed no-response
    baseline that distinguishes 'we measured nothing' from 'demand is
    inelastic'. Scale shape: one broadcast dim join, one per-brand
    rank window, one rollup."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .join(
            # unhinted: part scales with the lake (AQE decides)
            _t(spark, sf_dir, "part").select("p_partkey", "p_brand"),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .select(
            "p_brand",
            F.col("l_quantity").cast("long").alias("q"),
            _cents("l_extendedprice").alias("rev"),
            F.expr(
                "(CAST(round(l_extendedprice * 100) AS BIGINT) * 1000)"
                " div CAST(l_quantity AS BIGINT)"
            ).alias("pu"),
            "l_orderkey",
            "l_linenumber",
        )
    )
    rk = li.select(
        "p_brand",
        "q",
        "rev",
        F.row_number()
        .over(
            W.partitionBy("p_brand").orderBy(
                "pu", "l_orderkey", "l_linenumber"
            )
        )
        .alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy("p_brand")).alias("n"),
    )
    halves = rk.groupBy("p_brand").agg(
        F.max("n").alias("n"),
        F.expr("CAST(sum(CASE WHEN rn * 2 <= n THEN q END) AS BIGINT)").alias(
            "q_lo"
        ),
        F.expr("CAST(sum(CASE WHEN rn * 2 > n THEN q END) AS BIGINT)").alias(
            "q_hi"
        ),
        F.expr(
            "CAST(sum(CASE WHEN rn * 2 <= n THEN rev END)"
            " div sum(CASE WHEN rn * 2 <= n THEN q END) AS BIGINT)"
        ).alias("p_lo"),
        F.expr(
            "CAST(sum(CASE WHEN rn * 2 > n THEN rev END)"
            " div sum(CASE WHEN rn * 2 > n THEN q END) AS BIGINT)"
        ).alias("p_hi"),
    )
    return halves.select(
        "p_brand",
        F.col("n").cast("long").alias("n"),
        F.col("p_lo").alias("p_low_cents"),
        F.col("p_hi").alias("p_high_cents"),
        F.col("q_lo").alias("q_low_units"),
        F.col("q_hi").alias("q_high_units"),
        F.expr(
            "CAST(1000 * (q_hi - q_lo) * (p_hi + p_lo)"
            " div nullif((q_hi + q_lo) * (p_hi - p_lo), 0) AS BIGINT)"
        ).alias("arc_elasticity_milli"),
    ).orderBy("p_brand")


# ===========================================================================
# Model evaluation: k-fold cross-validation of a group-median predictor
# ===========================================================================

_KFOLD_ORACLE = """
WITH s AS (
  SELECT event_type,
         CAST(round(value * 100) AS BIGINT) AS v,
         event_id,
         CAST(CONCAT('0x',
              substr(md5(CAST(event_id AS VARCHAR) || ':cv:42'), 1, 15))
              AS BIGINT) % 5 AS fold
  FROM events
),
grid AS (SELECT CAST(unnest(range(0, 5)) AS BIGINT) AS f),
train AS (
  SELECT g.f, s.event_type, s.v,
         row_number() OVER (PARTITION BY g.f, s.event_type
                            ORDER BY s.v, s.event_id) AS rn,
         count(*) OVER (PARTITION BY g.f, s.event_type) AS nt
  FROM grid g JOIN s ON s.fold != g.f
),
model AS (
  SELECT f, event_type,
         CAST(max(CASE WHEN rn = (nt + 1) // 2 THEN v END) AS BIGINT)
           AS med
  FROM train GROUP BY f, event_type
)
SELECT s.fold,
       CAST(count(*) AS BIGINT) AS n_test,
       CAST(1000 * sum(abs(s.v - m.med)) // count(*) AS BIGINT)
         AS mae_milli
FROM s JOIN model m ON m.f = s.fold AND m.event_type = s.event_type
GROUP BY s.fold
ORDER BY s.fold
"""


@_register("cross_validation_kfold", _KFOLD_ORACLE)
def cross_validation_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-fold cross-validation of the per-event-type median predictor:
    folds are a pure function of md5(event_id) (the train_val_test
    device, so membership is engine- and rerun-stable), each fold's
    model is the out-of-fold median (exact rank selection), and the
    out-of-sample MAE per fold is the deliverable — the GENERALIZATION
    estimate the eval family reads before trusting any score
    (confusion_matrix/roc grade ONE split; CV grades the protocol, and
    the fold-to-fold MAE spread is the variance a single split hides).
    Scale shape: a 5-row fold grid joins the scan (each row processed
    k-1 times for training, once for test — the k-fold cost identity),
    one rank window per (fold, type), two rollups."""
    bucket = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":", F.col("event_id"), F.lit("cv"), F.lit("42")
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint")
        % 5
    )
    s = _t(spark, sf_dir, "events").select(
        "event_type",
        _cents("value").alias("v"),
        "event_id",
        bucket.alias("fold"),
    ).localCheckpoint(eager=False)
    grid = spark.range(0, 5).select(F.col("id").alias("f"))
    train = (
        F.broadcast(grid)
        .join(s, F.col("fold") != F.col("f"))
        .select(
            "f",
            "event_type",
            "v",
            F.row_number()
            .over(
                W.partitionBy("f", "event_type").orderBy("v", "event_id")
            )
            .alias("rn"),
            F.count(F.lit(1))
            .over(W.partitionBy("f", "event_type"))
            .alias("nt"),
        )
    )
    model = train.groupBy("f", "event_type").agg(
        F.expr(
            "CAST(max(CASE WHEN rn = (nt + 1) div 2 THEN v END) AS BIGINT)"
        ).alias("med")
    )
    return (
        s.join(
            F.broadcast(model),
            (F.col("f") == F.col("fold"))
            & (model["event_type"] == s["event_type"]),
        )
        .groupBy("fold")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.expr(
                "CAST(1000 * sum(abs(v - med)) div count(*) AS BIGINT)"
            ).alias("mae_milli"),
        )
        .orderBy("fold")
    )


# ===========================================================================
# SPC: X-bar / R control chart (subgrouped, literal constants)
# ===========================================================================

_XBARR_ORACLE = """
WITH sub AS (
  SELECT CAST(ts AS DATE) AS d,
         CAST(round(value * 100) AS BIGINT) AS v,
         row_number() OVER (PARTITION BY CAST(ts AS DATE)
                            ORDER BY ts, event_id) AS rn
  FROM events WHERE event_type = 'purchase'
),
g AS (
  SELECT d,
         CAST(sum(v) AS BIGINT) AS xs,
         CAST(max(v) - min(v) AS BIGINT) AS r
  FROM sub WHERE rn <= 5
  GROUP BY d
  HAVING count(*) = 5
),
cl AS (
  SELECT count(*) AS n,
         CAST(200 * sum(xs) // count(*) AS BIGINT) AS xbb_milli,
         CAST(1000 * sum(r) // count(*) AS BIGINT) AS rbar_milli
  FROM g
)
SELECT CAST(cl.n AS BIGINT) AS n_subgroups,
       cl.xbb_milli,
       cl.rbar_milli,
       CAST(cl.xbb_milli + 577 * cl.rbar_milli // 1000 AS BIGINT)
         AS ucl_x_milli,
       CAST(cl.xbb_milli - 577 * cl.rbar_milli // 1000 AS BIGINT)
         AS lcl_x_milli,
       CAST(2114 * cl.rbar_milli // 1000 AS BIGINT) AS ucl_r_milli,
       CAST(sum(CASE WHEN 200 * g.xs > cl.xbb_milli
                          + 577 * cl.rbar_milli // 1000
                      OR 200 * g.xs < cl.xbb_milli
                          - 577 * cl.rbar_milli // 1000
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_xbar_violations,
       CAST(sum(CASE WHEN 1000 * g.r > 2114 * cl.rbar_milli // 1000
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_r_violations
FROM g, cl
GROUP BY cl.n, cl.xbb_milli, cl.rbar_milli
"""


@_register("xbar_r_control_chart", _XBARR_ORACLE)
def xbar_r_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shewhart X-bar / R control chart over daily purchase subgroups
    (the first 5 purchases per day, deterministic (ts, id) order):
    center lines from subgroup means and ranges, limits from the
    CLASSIC tabulated constants for n=5 as milli literals (A2 = 0.577,
    D4 = 2.114, D3 = 0 — the same literal-table device as the chi2 and
    Elo ladders), violations counted on both charts — the SUBGROUPED
    member of the SPC family (western_electric runs rules on
    individual points, cusum/ewma track drifts; X-bar/R is the
    factory-floor standard that separates within-subgroup noise from
    between-subgroup shifts). Subgroup means hit exact milli via
    200*sum (1000/5). Scale shape: one rank window bounded to 5 rows
    per day, one rollup, a 1-row center-line broadcast."""
    sub = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("ts").cast("date").alias("d"),
            _cents("value").alias("v"),
            F.row_number()
            .over(
                W.partitionBy(F.col("ts").cast("date")).orderBy(
                    "ts", "event_id"
                )
            )
            .alias("rn"),
        )
        .filter(F.col("rn") <= 5)
    )
    g = (
        sub.groupBy("d")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("v").alias("xs"),
            F.expr("CAST(max(v) - min(v) AS BIGINT)").alias("r"),
        )
        .filter(F.col("cnt") == 5)
        .localCheckpoint(eager=False)
    )
    cl = g.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("CAST(200 * sum(xs) div count(*) AS BIGINT)").alias(
            "xbb_milli"
        ),
        F.expr("CAST(1000 * sum(r) div count(*) AS BIGINT)").alias(
            "rbar_milli"
        ),
    )
    return (
        g.crossJoin(F.broadcast(cl))
        .groupBy("n", "xbb_milli", "rbar_milli")
        .agg(
            F.expr(
                "CAST(sum(CASE WHEN 200 * xs > xbb_milli"
                " + 577 * rbar_milli div 1000"
                " OR 200 * xs < xbb_milli - 577 * rbar_milli div 1000"
                " THEN 1 ELSE 0 END) AS BIGINT)"
            ).alias("n_xbar_violations"),
            F.expr(
                "CAST(sum(CASE WHEN 1000 * r > 2114 * rbar_milli div 1000"
                " THEN 1 ELSE 0 END) AS BIGINT)"
            ).alias("n_r_violations"),
        )
        .select(
            F.col("n").cast("long").alias("n_subgroups"),
            "xbb_milli",
            "rbar_milli",
            F.expr(
                "CAST(xbb_milli + 577 * rbar_milli div 1000 AS BIGINT)"
            ).alias("ucl_x_milli"),
            F.expr(
                "CAST(xbb_milli - 577 * rbar_milli div 1000 AS BIGINT)"
            ).alias("lcl_x_milli"),
            F.expr("CAST(2114 * rbar_milli div 1000 AS BIGINT)").alias(
                "ucl_r_milli"
            ),
            "n_xbar_violations",
            "n_r_violations",
        )
    )


# ===========================================================================
# Scheduling: weighted interval scheduling (exact DP on a session panel)
# ===========================================================================

_WIS_ORACLE = """
WITH RECURSIVE ev AS (
  SELECT user_id, epoch_us(ts) AS tu,
         CAST(round(value * 100) AS BIGINT) AS v
  FROM events
),
flagged AS (
  SELECT user_id, tu, v,
         CASE WHEN tu - lag(tu) OVER (PARTITION BY user_id ORDER BY tu)
                   > 1800000000
               OR lag(tu) OVER (PARTITION BY user_id ORDER BY tu) IS NULL
              THEN 1 ELSE 0 END AS new_s
  FROM ev
),
sess AS (
  SELECT user_id,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY tu) AS sid,
         tu, v
  FROM flagged
),
ivals AS (
  SELECT user_id, sid,
         CAST(min(tu) AS BIGINT) AS s,
         CAST(max(tu) AS BIGINT) AS e,
         CAST(sum(v) AS BIGINT) AS val
  FROM sess GROUP BY user_id, sid
),
panel AS (
  SELECT s, e, val,
         row_number() OVER (ORDER BY val DESC, user_id, sid) AS pr
  FROM ivals
),
arrs AS (
  SELECT list(s ORDER BY e, s, val) AS ss,
         list(e ORDER BY e, s, val) AS es,
         list(val ORDER BY e, s, val) AS vs,
         count(*) AS k,
         (SELECT count(*) FROM ivals) AS n_total,
         (SELECT max(val) FROM ivals) AS top1,
         CAST(sum(val) AS BIGINT) AS panel_sum
  FROM panel WHERE pr <= 40
),
rec(i, cl) AS (
  SELECT 0, [CAST(0 AS BIGINT)] FROM arrs
  UNION ALL
  SELECT r.i + 1,
         list_append(r.cl, greatest(
           r.cl[r.i + 1],
           a.vs[r.i + 1] + r.cl[coalesce(list_max(
             [CASE WHEN a.es[j] <= a.ss[r.i + 1] THEN j ELSE 0 END
              for j in range(1, r.i + 1)]), 0) + 1]))
  FROM rec r, arrs a WHERE r.i < a.k
)
SELECT CAST(a.n_total AS BIGINT) AS n_sessions_total,
       CAST(a.k AS BIGINT) AS n_panel,
       CAST(r.cl[CAST(a.k + 1 AS INT)] AS BIGINT) AS best_total_cents,
       CAST(a.top1 AS BIGINT) AS top1_value_cents,
       a.panel_sum AS panel_value_cents
FROM rec r, arrs a WHERE r.i = a.k
"""


@_register("weighted_interval_scheduling", _WIS_ORACLE)
def weighted_interval_scheduling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted interval scheduling over user sessions (30-minute-gap
    sessionization; value = session revenue): pick the non-overlapping
    set of the top-40 most valuable sessions maximizing total value —
    the classic predecessor-DP c_i = max(c_{i-1}, v_i + c_{p(i)}) with
    p(i) the last end-sorted interval ending at or before i starts,
    solved EXACTLY by one bounded list-state fold (the knapsack/
    interval-family completion: knapsack_greedy packs by density,
    interval_islands merges overlaps; WIS OPTIMIZES over them — the
    booking/auction/batch-window allocator). Panel pinning (top-40 by
    value) keeps the O(k^2) predecessor scan constant-size at any data
    volume — the same fixed-panel rule as the ANN brute baselines. The
    DP optimum is bounded by [max single value, panel sum], both
    executed columns. Scale shape: sessionization windows (partitioned
    by user), a panel pick via orderBy().limit() = TakeOrderedAndProject
    (parallel per-partition top-k, no single-partition rank window),
    then bounded array math."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.expr("unix_micros(ts)").alias("tu"),
        _cents("value").alias("v"),
    )
    wu = W.partitionBy("user_id").orderBy("tu")
    flagged = ev.select(
        "user_id",
        "tu",
        "v",
        F.expr(
            "CASE WHEN tu - lag(tu) OVER (PARTITION BY user_id ORDER BY tu)"
            " > 1800000000"
            " OR lag(tu) OVER (PARTITION BY user_id ORDER BY tu) IS NULL"
            " THEN 1 ELSE 0 END"
        ).alias("new_s"),
    )
    sess = flagged.select(
        "user_id", F.sum("new_s").over(wu).alias("sid"), "tu", "v"
    )
    ivals = sess.groupBy("user_id", "sid").agg(
        F.min("tu").cast("long").alias("s"),
        F.max("tu").cast("long").alias("e"),
        F.sum("v").cast("long").alias("val"),
    ).localCheckpoint(eager=False)
    tot = ivals.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.max("val").alias("top1"),
    )
    panel = (
        ivals.orderBy(F.col("val").desc(), "user_id", "sid")
        .limit(40)
        .select("s", "e", "val")
    )
    arrs = panel.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(e, s, val))),"
            " x -> x.s)"
        ).alias("ss"),
        F.expr(
            "transform(array_sort(collect_list(struct(e, s, val))),"
            " x -> x.e)"
        ).alias("es"),
        F.expr(
            "transform(array_sort(collect_list(struct(e, s, val))),"
            " x -> x.val)"
        ).alias("vs"),
        F.count(F.lit(1)).alias("k"),
        F.sum("val").cast("long").alias("panel_sum"),
    )
    dp = (
        "aggregate(sequence(1, CAST(k AS INT)), array(CAST(0 AS BIGINT)),"
        " (cl, i) -> array_append(cl, greatest("
        "   element_at(cl, i),"
        "   element_at(vs, i) + element_at(cl,"
        "     CAST(IF(i = 1, 0, array_max(transform(sequence(1, i - 1),"
        "       j -> IF(element_at(es, CAST(j AS INT))"
        "               <= element_at(ss, i), j, 0)))) + 1 AS INT)))))"
    )
    return arrs.crossJoin(F.broadcast(tot)).select(
        F.col("n_total").cast("long").alias("n_sessions_total"),
        F.col("k").cast("long").alias("n_panel"),
        F.expr(
            f"CAST(element_at({dp}, CAST(k + 1 AS INT)) AS BIGINT)"
        ).alias("best_total_cents"),
        F.col("top1").cast("long").alias("top1_value_cents"),
        F.col("panel_sum").alias("panel_value_cents"),
    )
