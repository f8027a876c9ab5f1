"""Catalog wave 25 (round 7): exact global order statistics, done
scale-safely — the round-6 verdict's "harden the engine" direction.

Every entry here needs an EXACT global rank / quantile / running
statistic, and every one computes it WITHOUT a single-partition window:
tiered_global_rank (per-tier parallel ranks over contiguous value bands
+ broadcast cumsum offsets) is the only order-statistic device used, so
this wave is a standing exercise of the round-7 plan audit
(tools/audit_common.py + tests/test_plans.py). The DuckDB oracles use
the literal global windows — the semantic spec the tiered plans must
match value-for-value.

Same contract as every plans/ module: full DuckDB value oracles,
every computed column aliased identically in both lanes, integer
arithmetic (bigint/int128 + truncating division) wherever an exact
cross-engine value is feasible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nyc_taxi_data_pipeline_spark.plans._base import (
    _register,
    _t,
    tiered_global_rank,
)

__all__: list[str] = []


def _cents(col: str) -> F.Column:
    """value -> integer cents, half away from zero (cross-engine exact)."""
    return F.expr(
        f"CAST(CASE WHEN {col} >= 0 THEN floor({col} * 100 + 0.5)"
        f" ELSE -floor(-({col}) * 100 + 0.5) END AS BIGINT)"
    )


# ===========================================================================
# Siegel-Tukey rank test for scale (alternating extreme ranks)
# ===========================================================================

# Siegel-Tukey rank from the ascending position i of n: depth d from the
# nearer end; low end gets 1,4,5,8,9,..., high end 2,3,6,7,10,11,...,
# the odd-n middle gets n. A pure formula of (i, n) — no second pass.
_ST_RANK = """
CASE
  WHEN 2 * i <= n THEN
    CASE WHEN i % 2 = 1 THEN 2 * i - 1 ELSE 2 * i END
  WHEN 2 * (n + 1 - i) <= n THEN
    CASE WHEN (n + 1 - i) % 2 = 1 THEN 2 * (n + 1 - i)
         ELSE 2 * (n + 1 - i) - 1 END
  ELSE n
END
"""

_SIEGEL_TUKEY_ORACLE = f"""
WITH s AS (
  SELECT event_id, CAST(round(value * 100) AS BIGINT) AS v,
         CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_a
  FROM events WHERE event_type IN ('click', 'view')
),
rk AS (
  SELECT is_a, row_number() OVER (ORDER BY v, event_id) AS i,
         count(*) OVER () AS n
  FROM s
),
st AS (SELECT is_a, n, {_ST_RANK} AS r FROM rk),
ab AS (
  SELECT CAST(max(n) AS BIGINT) AS nn,
         CAST(sum(is_a) AS BIGINT) AS na,
         CAST(sum(CASE WHEN is_a = 1 THEN r ELSE 0 END) AS BIGINT) AS w
  FROM st
)
SELECT na AS n_a,
       CAST(nn - na AS BIGINT) AS n_b,
       w AS st_rank_sum,
       CAST(3000 * CAST(2 * w - na * (nn + 1) AS HUGEINT)
                 * (2 * w - na * (nn + 1))
            // (CAST(na AS HUGEINT) * (nn - na) * (nn + 1))
            AS BIGINT) AS z2_milli,
       CAST(CASE WHEN 3000 * CAST(2 * w - na * (nn + 1) AS HUGEINT)
                      * (2 * w - na * (nn + 1))
                      // (CAST(na AS HUGEINT) * (nn - na) * (nn + 1))
                      > 3841 THEN 1 ELSE 0 END AS BIGINT)
         AS scale_differs_5pct
FROM ab
"""


@_register("siegel_tukey_scale_test", _SIEGEL_TUKEY_ORACLE)
def siegel_tukey_scale_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Siegel-Tukey rank test for scale between click and view values:
    ranks are assigned ALTERNATING FROM BOTH ENDS of the pooled sort
    (1 to the minimum, 2-3 to the two maxima, 4-5 to the next two
    minima, ...), so a group with larger spread collects the SMALL
    extreme ranks and a plain Wilcoxon rank-sum on these ranks becomes
    a scale test — the from-the-ends twin of ansari_bradley_scale_test
    (AB scores min(i, n+1-i); ST permutes 1..n, so the EXACT Wilcoxon
    null moments E[W] = na(n+1)/2, Var = na*nb*(n+1)/12 apply with no
    new closed form). The ST rank is a pure (position, n) formula, ties
    broken deterministically by event_id; z^2 rides one 128-bit lane
    (DECIMAL(38,0) / HUGEINT). Scale shape: the pooled position comes
    from tiered_global_rank over contiguous 128-cent bands — no
    single-partition window; one aggregate after."""
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
        total_name="n",
    )
    st = rk.select("is_a", "n", F.expr(_ST_RANK).alias("r"))
    ab = st.agg(
        F.max("n").cast("long").alias("nn"),
        F.sum("is_a").cast("long").alias("na"),
        F.sum(F.when(F.col("is_a") == 1, F.col("r")).otherwise(0))
        .cast("long")
        .alias("w"),
    )
    z2 = (
        "3000 * CAST(2 * w - na * (nn + 1) AS DECIMAL(38,0))"
        " * (2 * w - na * (nn + 1))"
        " div (CAST(na AS DECIMAL(38,0)) * (nn - na) * (nn + 1))"
    )
    return ab.select(
        F.col("na").alias("n_a"),
        F.expr("CAST(nn - na AS BIGINT)").alias("n_b"),
        F.col("w").alias("st_rank_sum"),
        F.expr(f"CAST({z2} AS BIGINT)").alias("z2_milli"),
        F.expr(
            f"CAST(CASE WHEN {z2} > 3841 THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("scale_differs_5pct"),
    )


# ===========================================================================
# Exact latency percentile table (p50 / p90 / p99 / p99.9)
# ===========================================================================

_LATENCY_PCT_ORACLE = """
WITH t AS (
  SELECT CAST(date_diff('minute', o.o_orderdate, l.l_shipdate) AS BIGINT)
           AS tt
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  WHERE l.l_shipdate > o.o_orderdate
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM t),
rk AS (
  SELECT tt, row_number() OVER (ORDER BY tt) AS rn FROM t
),
tgt AS (
  SELECT CAST(pm AS BIGINT) AS pct_milli,
         (CAST(pm AS BIGINT) * tot.n + 999) // 1000 AS target_rank,
         tot.n AS n
  FROM (SELECT unnest([500, 900, 990, 999]) AS pm), tot
)
SELECT g.pct_milli,
       CAST(g.n AS BIGINT) AS n_obs,
       CAST(g.target_rank AS BIGINT) AS target_rank,
       r.tt AS latency_minutes
FROM tgt g JOIN rk r ON r.rn = g.target_rank
ORDER BY g.pct_milli
"""


@_register("latency_percentiles_exact", _LATENCY_PCT_ORACLE)
def latency_percentiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SRE latency table — EXACT p50/p90/p99/p99.9 of the
    order-to-ship lead time in minutes, as type-1 (ceiling-rank) order
    statistics: target_rank = ceil(p*n), value = the rank-th smallest.
    Exact tail percentiles are exactly where approx-quantile sketches
    are weakest (p99.9 sits in the sketch's coarsest band), and the
    catalog's approx entries (approx_quantile_*) are the CONTRAST:
    this entry prices what exactness costs — one tiered rank + a
    4-row broadcast probe instead of one sketch pass. Ranks-at-ties
    are arbitrary but the VALUE at a rank is tie-order invariant, so
    the table is deterministic. Scale shape: tiered_global_rank over
    contiguous 256-minute lead-time bands (no single-partition
    window), then a broadcast equi-join on the 4 target ranks."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    t = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .filter(F.col("l_shipdate") > F.col("o_orderdate"))
        .select(
            F.expr(
                "CAST(timestampdiff(MINUTE, o_orderdate, l_shipdate)"
                " AS BIGINT)"
            ).alias("tt")
        )
    )
    rk = tiered_global_rank(
        t, F.expr("tt div 256"), ["tt"], rank_name="rn", total_name="n"
    ).localCheckpoint(eager=False)
    tot = rk.select("n").limit(1)
    tgt = tot.select(
        F.explode(
            F.expr("array(CAST(500 AS BIGINT), 900, 990, 999)")
        ).alias("pct_milli"),
        "n",
    ).select(
        "pct_milli",
        F.expr("(pct_milli * n + 999) div 1000").alias("target_rank"),
    )
    return (
        rk.join(
            F.broadcast(tgt), rk["rn"] == tgt["target_rank"]
        )
        .select(
            "pct_milli",
            rk["n"].alias("n_obs"),
            F.col("target_rank"),
            F.col("tt").alias("latency_minutes"),
        )
        .orderBy("pct_milli")
    )


# ===========================================================================
# Robust location: trimmed and winsorized means (exact rank cutoffs)
# ===========================================================================

_TRIMMED_ORACLE = """
WITH v AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS x FROM orders
),
rk AS (
  SELECT x, row_number() OVER (ORDER BY x) AS rn, count(*) OVER () AS n
  FROM v
),
kk AS (SELECT max(n) AS n, max(n) // 10 AS k FROM rk),
cuts AS (
  SELECT CAST(max(CASE WHEN r.rn = kk.k + 1 THEN r.x END) AS BIGINT)
           AS xlo,
         CAST(max(CASE WHEN r.rn = kk.n - kk.k THEN r.x END) AS BIGINT)
           AS xhi
  FROM rk r, kk
),
sums AS (
  SELECT CAST(sum(CASE WHEN r.rn > kk.k AND r.rn <= kk.n - kk.k
                       THEN r.x ELSE 0 END) AS BIGINT) AS s_mid,
         CAST(sum(r.x) AS BIGINT) AS s_all
  FROM rk r, kk
)
SELECT CAST(kk.n AS BIGINT) AS n_orders,
       CAST(kk.k AS BIGINT) AS k_cut,
       c.xlo AS lower_cut_cents,
       c.xhi AS upper_cut_cents,
       CAST(s.s_all // kk.n AS BIGINT) AS mean_cents,
       CAST(s.s_mid // (kk.n - 2 * kk.k) AS BIGINT) AS trimmed_mean_cents,
       CAST((s.s_mid + kk.k * (c.xlo + c.xhi)) // kk.n AS BIGINT)
         AS winsorized_mean_cents
FROM kk, cuts c, sums s
"""


@_register("trimmed_winsorized_means", _TRIMMED_ORACLE)
def trimmed_winsorized_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust location readouts of order totals under the boxplot
    family's two classic tail treatments, at exact k = n div 10 rank
    cutoffs per side: the 10% TRIMMED mean (drop the k smallest and k
    largest) and the WINSORIZED mean (clamp them to the cut values
    x_(k+1) / x_(n-k)) beside the raw mean — the standard robustness
    ladder (mean -> winsorized -> trimmed -> median) with every rung an
    exact integer (sums of cents, one truncating division each).
    Complements outlier_zscore (detection) and mad_robust_scale
    (dispersion) with ESTIMATION under contamination. Scale shape: one
    tiered_global_rank over contiguous 65536-cent price bands (no
    single-partition window), two aggregates against broadcast
    cut-rank rows."""
    v = _t(spark, sf_dir, "orders").select(_cents("o_totalprice").alias("x"))
    rk = tiered_global_rank(
        v, F.expr("x div 65536"), ["x"], rank_name="rn", total_name="n"
    ).localCheckpoint(eager=False)
    kk = rk.select("n").limit(1).select("n", F.expr("n div 10").alias("k"))
    j = rk.crossJoin(F.broadcast(kk).withColumnRenamed("n", "nn"))
    cuts = j.agg(
        F.expr("CAST(max(CASE WHEN rn = k + 1 THEN x END) AS BIGINT)").alias(
            "xlo"
        ),
        F.expr(
            "CAST(max(CASE WHEN rn = nn - k THEN x END) AS BIGINT)"
        ).alias("xhi"),
    )
    sums = j.agg(
        F.expr(
            "CAST(sum(CASE WHEN rn > k AND rn <= nn - k THEN x ELSE 0 END)"
            " AS BIGINT)"
        ).alias("s_mid"),
        F.expr("CAST(sum(x) AS BIGINT)").alias("s_all"),
    )
    return (
        kk.crossJoin(F.broadcast(cuts))
        .crossJoin(F.broadcast(sums))
        .select(
            F.col("n").cast("long").alias("n_orders"),
            F.col("k").cast("long").alias("k_cut"),
            F.col("xlo").alias("lower_cut_cents"),
            F.col("xhi").alias("upper_cut_cents"),
            F.expr("CAST(s_all div n AS BIGINT)").alias("mean_cents"),
            F.expr("CAST(s_mid div (n - 2 * k) AS BIGINT)").alias(
                "trimmed_mean_cents"
            ),
            F.expr(
                "CAST((s_mid + k * (xlo + xhi)) div n AS BIGINT)"
            ).alias("winsorized_mean_cents"),
        )
    )


# ===========================================================================
# Robust dispersion: median absolute deviation (two chained exact medians)
# ===========================================================================

_MAD_ORACLE = """
WITH v AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS x FROM orders
),
rk AS (
  SELECT x, row_number() OVER (ORDER BY x) AS rn, count(*) OVER () AS n
  FROM v
),
med AS (
  SELECT CAST(max(CASE WHEN rn = (n + 1) // 2 THEN x END)
              + max(CASE WHEN rn = n // 2 + 1 THEN x END) AS BIGINT)
           AS med2,
         CAST(max(n) AS BIGINT) AS n
  FROM rk
),
d AS (SELECT abs(2 * v.x - m.med2) AS dv FROM v, med m),
rk2 AS (
  SELECT dv, row_number() OVER (ORDER BY dv) AS rn, count(*) OVER () AS n
  FROM d
),
mad AS (
  SELECT CAST(max(CASE WHEN rn = (n + 1) // 2 THEN dv END)
              + max(CASE WHEN rn = n // 2 + 1 THEN dv END) AS BIGINT)
           AS mad4
  FROM rk2
)
SELECT m.n AS n_orders,
       CAST(m.med2 // 2 AS BIGINT) AS median_cents,
       CAST(a.mad4 // 4 AS BIGINT) AS mad_cents,
       CAST(1000 * a.mad4 // (2 * m.med2) AS BIGINT)
         AS mad_over_median_milli
FROM med m, mad a
"""


@_register("mad_robust_scale", _MAD_ORACLE)
def mad_robust_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation of order totals — TWO chained exact
    medians (the median of |x - median(x)|), the 50%-breakdown scale
    estimator that anchors robust z-scores (x - med)/(1.4826*MAD) where
    stddev-based zscores (outlier_zscore) are dragged by the outliers
    they hunt. Both medians ride the catalog's doubled-integer lane
    (med2 = x_(ceil(n/2)) + x_(n div 2 + 1); deviations are doubled so
    dv = |2x - med2| stays integral; mad4 is the doubled median of
    doubled deviations), and the friendly readouts halve by truncation
    identically on both engines (all values nonnegative). Scale shape:
    two tiered_global_ranks (65536-cent bands for x, 131072 for the
    doubled deviations — both widths keep the offsets frame bounded by
    range/width) — the device CHAINS: the second rank's input depends
    on the first's broadcast result, and neither stage has a
    single-partition window."""
    v = _t(spark, sf_dir, "orders").select(
        _cents("o_totalprice").alias("x")
    ).localCheckpoint(eager=False)
    rk = tiered_global_rank(
        v, F.expr("x div 65536"), ["x"], rank_name="rn", total_name="n"
    )
    med = rk.agg(
        F.expr(
            "CAST(max(CASE WHEN rn = (n + 1) div 2 THEN x END)"
            " + max(CASE WHEN rn = n div 2 + 1 THEN x END) AS BIGINT)"
        ).alias("med2"),
        F.max("n").cast("long").alias("n"),
    )
    d = v.crossJoin(F.broadcast(med)).select(
        F.expr("abs(2 * x - med2)").alias("dv")
    )
    rk2 = tiered_global_rank(
        d, F.expr("dv div 131072"), ["dv"], rank_name="rn", total_name="n"
    )
    mad = rk2.agg(
        F.expr(
            "CAST(max(CASE WHEN rn = (n + 1) div 2 THEN dv END)"
            " + max(CASE WHEN rn = n div 2 + 1 THEN dv END) AS BIGINT)"
        ).alias("mad4")
    )
    return med.crossJoin(F.broadcast(mad)).select(
        F.col("n").alias("n_orders"),
        F.expr("CAST(med2 div 2 AS BIGINT)").alias("median_cents"),
        F.expr("CAST(mad4 div 4 AS BIGINT)").alias("mad_cents"),
        F.expr("CAST(1000 * mad4 div (2 * med2) AS BIGINT)").alias(
            "mad_over_median_milli"
        ),
    )


# ===========================================================================
# Quantile skewness: Bowley (quartile) and Kelly (decile) coefficients
# ===========================================================================

_QSKEW_ORACLE = """
WITH s AS (
  SELECT CAST(round(value * 100) AS BIGINT) AS v FROM events
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM s),
rk AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM s),
q AS (
  SELECT max(CASE WHEN rn = (100 * n + 999) // 1000 THEN v END) AS p10,
         max(CASE WHEN rn = (250 * n + 999) // 1000 THEN v END) AS q1,
         max(CASE WHEN rn = (500 * n + 999) // 1000 THEN v END) AS q2,
         max(CASE WHEN rn = (750 * n + 999) // 1000 THEN v END) AS q3,
         max(CASE WHEN rn = (900 * n + 999) // 1000 THEN v END) AS p90
  FROM rk, tot
)
SELECT (SELECT n FROM tot) AS n_events,
       CAST(q1 AS BIGINT) AS q1_cents,
       CAST(q2 AS BIGINT) AS q2_cents,
       CAST(q3 AS BIGINT) AS q3_cents,
       CAST(p10 AS BIGINT) AS p10_cents,
       CAST(p90 AS BIGINT) AS p90_cents,
       CAST(1000 * (q3 + q1 - 2 * q2) // nullif(q3 - q1, 0) AS BIGINT)
         AS bowley_skew_milli,
       CAST(1000 * (p90 + p10 - 2 * q2) // nullif(p90 - p10, 0) AS BIGINT)
         AS kelly_skew_milli
FROM q
"""


@_register("bowley_kelly_quantile_skew", _QSKEW_ORACLE)
def bowley_kelly_quantile_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-based skewness of event values — Bowley's quartile
    coefficient (Q3 + Q1 - 2*Q2)/(Q3 - Q1) and Kelly's decile variant
    (P90 + P10 - 2*Q2)/(P90 - P10) — the robust complements to the
    moment skewness in distribution_moments_summary: outlier-immune
    (quantiles move by rank, not value) and bounded in [-1, 1], at the
    cost of reading only 2-3 points of the distribution. All five
    order statistics are exact type-1 ranks from ONE tiered rank pass;
    the milli ratios divide once (truncation toward zero agrees across
    engines on the possibly-negative numerators). Scale shape: one
    tiered_global_rank over contiguous 128-cent bands (no
    single-partition window), one 5-point aggregate, constant algebra."""
    s = _t(spark, sf_dir, "events").select(_cents("value").alias("v"))
    rk = tiered_global_rank(
        s, F.expr("v div 128"), ["v"], rank_name="rn", total_name="n"
    )
    q = rk.agg(
        F.max("n").cast("long").alias("n"),
        *[
            F.expr(
                f"max(CASE WHEN rn = ({pm} * n + 999) div 1000"
                " THEN v END)"
            ).alias(nm)
            for pm, nm in (
                (100, "p10"),
                (250, "q1"),
                (500, "q2"),
                (750, "q3"),
                (900, "p90"),
            )
        ],
    )
    return q.select(
        F.col("n").alias("n_events"),
        F.col("q1").cast("long").alias("q1_cents"),
        F.col("q2").cast("long").alias("q2_cents"),
        F.col("q3").cast("long").alias("q3_cents"),
        F.col("p10").cast("long").alias("p10_cents"),
        F.col("p90").cast("long").alias("p90_cents"),
        F.expr(
            "CAST(1000 * (q3 + q1 - 2 * q2) div nullif(q3 - q1, 0)"
            " AS BIGINT)"
        ).alias("bowley_skew_milli"),
        F.expr(
            "CAST(1000 * (p90 + p10 - 2 * q2) div nullif(p90 - p10, 0)"
            " AS BIGINT)"
        ).alias("kelly_skew_milli"),
    )


# ===========================================================================
# Two-sample Q-Q table at the deciles
# ===========================================================================

_QQ_ORACLE = """
WITH s AS (
  SELECT event_id, CAST(round(value * 100) AS BIGINT) AS v,
         CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_a
  FROM events WHERE event_type IN ('click', 'view')
),
rk AS (
  SELECT is_a, v,
         row_number() OVER (PARTITION BY is_a ORDER BY v, event_id) AS rn,
         count(*) OVER (PARTITION BY is_a) AS n
  FROM s
),
dec AS (SELECT CAST(unnest(range(1, 10)) AS BIGINT) AS decile),
pick AS (
  SELECT d.decile, r.is_a, max(r.v) AS q
  FROM dec d JOIN rk r ON r.rn = (d.decile * r.n + 9) // 10
  GROUP BY d.decile, r.is_a
)
SELECT a.decile,
       CAST(a.q AS BIGINT) AS q_click_cents,
       CAST(b.q AS BIGINT) AS q_view_cents,
       CAST(b.q - a.q AS BIGINT) AS qq_gap_cents
FROM pick a JOIN pick b ON b.decile = a.decile
WHERE a.is_a = 1 AND b.is_a = 0
ORDER BY a.decile
"""


@_register("qq_decile_two_sample", _QQ_ORACLE)
def qq_decile_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Q-Q table at the interior deciles: for d = 1..9, the
    exact type-1 d-th decile of click values against the same decile of
    view values, plus the gap — the TABLE behind a Q-Q plot, reading
    WHERE two distributions differ (a constant gap = location shift, a
    gap growing with d = scale/tail difference) where the scalar EDF
    tests (ks/cvm/ad) only say THAT they differ. Per-group ranks come
    from one tiered_global_rank per sample (the device applies
    per-partition too — each group's rank is global within the group,
    no single-partition window anywhere); decile ranks are
    ceil(d*n/10), values at ranks are tie-order invariant. Scale
    shape: two tiered ranks + a 9-row broadcast decile probe each,
    one 9x2 join."""
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
        .localCheckpoint(eager=False)
    )

    def decile_table(flag: int, out: str) -> DataFrame:
        rk = tiered_global_rank(
            s.filter(F.col("is_a") == flag),
            F.expr("v div 128"),
            ["v", "event_id"],
            rank_name="rn",
            total_name="n",
        )
        dec = (
            rk.select("n")
            .limit(1)
            .select(
                F.explode(F.expr("sequence(CAST(1 AS BIGINT), 9)")).alias(
                    "decile"
                ),
                "n",
            )
            .select(
                "decile",
                F.expr("(decile * n + 9) div 10").alias("target_rank"),
            )
        )
        return (
            rk.join(
                F.broadcast(dec), rk["rn"] == dec["target_rank"]
            )
            .groupBy("decile")
            .agg(F.max("v").cast("long").alias(out))
        )

    a = decile_table(1, "q_click_cents")
    b = decile_table(0, "q_view_cents")
    return (
        a.join(b, "decile")
        .select(
            "decile",
            "q_click_cents",
            "q_view_cents",
            (F.col("q_view_cents") - F.col("q_click_cents")).alias(
                "qq_gap_cents"
            ),
        )
        .orderBy("decile")
    )


# ===========================================================================
# Cliff's delta effect size (distinct-value grid + tiered prefix sums)
# ===========================================================================

_CLIFFS_ORACLE = """
WITH s AS (
  SELECT CAST(round(value * 100) AS BIGINT) AS v,
         CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_a
  FROM events WHERE event_type IN ('click', 'view')
),
g AS (
  SELECT v, CAST(sum(is_a) AS BIGINT) AS ca,
         CAST(sum(1 - is_a) AS BIGINT) AS cb
  FROM s GROUP BY v
),
c AS (
  SELECT ca, cb,
         CAST(sum(cb) OVER (ORDER BY v) AS BIGINT) AS cum_b
  FROM g
),
tot AS (
  SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb
  FROM g
),
pairs AS (
  SELECT CAST(sum(CAST(ca AS HUGEINT) * (cum_b - cb)) AS DECIMAL(38,0)) AS gt,
         CAST(sum(CAST(ca AS HUGEINT) * ((SELECT nb FROM tot) - cum_b))
              AS DECIMAL(38,0)) AS lt
  FROM c
)
SELECT t.na AS n_a,
       t.nb AS n_b,
       p.gt AS n_greater,
       p.lt AS n_less,
       CAST(CAST(t.na AS HUGEINT) * t.nb - CAST(p.gt AS HUGEINT)
            - CAST(p.lt AS HUGEINT) AS DECIMAL(38,0)) AS n_ties,
       CAST(1000 * CAST(p.gt - p.lt AS HUGEINT) // (CAST(t.na AS HUGEINT) * t.nb)
            AS BIGINT) AS cliffs_delta_milli,
       CASE
         WHEN abs(1000 * CAST(p.gt - p.lt AS HUGEINT)
                  // (CAST(t.na AS HUGEINT) * t.nb)) < 147 THEN 'negligible'
         WHEN abs(1000 * CAST(p.gt - p.lt AS HUGEINT)
                  // (CAST(t.na AS HUGEINT) * t.nb)) < 330 THEN 'small'
         WHEN abs(1000 * CAST(p.gt - p.lt AS HUGEINT)
                  // (CAST(t.na AS HUGEINT) * t.nb)) < 474 THEN 'medium'
         ELSE 'large'
       END AS magnitude
FROM tot t, pairs p
"""


@_register("cliffs_delta_effect_size", _CLIFFS_ORACLE)
def cliffs_delta_effect_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cliff's delta ordinal effect size between click and view values:
    delta = (#(x>y) - #(x<y)) / (na*nb) over all cross pairs — the
    EFFECT-SIZE companion to the rank tests (rank_sum_auc says the
    groups differ; delta says by HOW MUCH on the probability scale,
    delta = 2*AUC - 1 with ties at half weight), with Romano's
    magnitude bands (|d| < .147 negligible / .33 small / .474 medium)
    as executed CASE thresholds in milli. The pair counts come from
    the DISTINCT-VALUE grid (contingency collapse — never row pairs):
    #(a>b) = sum_v ca(v) * cumB(<v), one prefix sum over the grid.
    Scale shape: one hash agg to the value grid, tiered_global_rank
    prefix sums over contiguous 128-cent bands (the grid saturates at
    the value domain but is data-sized before that — no
    single-partition window), 128-bit milli division. The PAIR COUNTS
    themselves (gt/lt/n_ties ~ na*nb/2) cross 2^63 around na,nb ~ 3e9
    — well inside the 100 TB target — where non-ANSI Spark would wrap
    silently while DuckDB's HUGEINT lane stays exact (ADVICE r7), so
    both lanes accumulate them in wide exact arithmetic and emit
    DECIMAL(38,0) (Spark DECIMAL / DuckDB HUGEINT→DECIMAL), same
    device as p_chart_attribute_control's squared deviation."""
    s = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "view"))
        .select(
            _cents("value").alias("v"),
            F.when(F.col("event_type") == "click", 1).otherwise(0).alias(
                "is_a"
            ),
        )
    )
    g = s.groupBy("v").agg(
        F.sum("is_a").cast("long").alias("ca"),
        F.sum(1 - F.col("is_a")).cast("long").alias("cb"),
    )
    c = tiered_global_rank(
        g,
        F.expr("v div 128"),
        ["v"],
        rank_name="__ri",
        cumsum={"cb": "cum_b"},
        totals={"ca": "na", "cb": "nb"},
    )
    pairs = c.agg(
        F.expr(
            "CAST(sum(CAST(ca AS DECIMAL(38,0)) * (cum_b - cb))"
            " AS DECIMAL(38,0))"
        ).alias("gt"),
        F.expr(
            "CAST(sum(CAST(ca AS DECIMAL(38,0)) * (nb - cum_b))"
            " AS DECIMAL(38,0))"
        ).alias("lt"),
        F.max("na").alias("na"),
        F.max("nb").alias("nb"),
    )
    dmilli = (
        "1000 * CAST(gt - lt AS DECIMAL(38,0))"
        " div (CAST(na AS DECIMAL(38,0)) * nb)"
    )
    return pairs.select(
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        F.col("gt").alias("n_greater"),
        F.col("lt").alias("n_less"),
        F.expr(
            "CAST(CAST(na AS DECIMAL(38,0)) * nb - gt - lt"
            " AS DECIMAL(38,0))"
        ).alias("n_ties"),
        F.expr(f"CAST({dmilli} AS BIGINT)").alias("cliffs_delta_milli"),
        F.expr(
            f"CASE WHEN abs({dmilli}) < 147 THEN 'negligible'"
            f" WHEN abs({dmilli}) < 330 THEN 'small'"
            f" WHEN abs({dmilli}) < 474 THEN 'medium'"
            " ELSE 'large' END"
        ).alias("magnitude"),
    )


# ===========================================================================
# Brunner-Munzel test (three tiered ranks: pooled + both within-group)
# ===========================================================================

_BM_ORACLE = """
WITH s AS (
  SELECT event_id, CAST(round(value * 100) AS BIGINT) AS v,
         CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_a
  FROM events WHERE event_type IN ('click', 'view')
),
rk AS (
  SELECT event_id, is_a,
         row_number() OVER (ORDER BY v, event_id) AS big_r,
         row_number() OVER (PARTITION BY is_a ORDER BY v, event_id) AS in_r
  FROM s
),
gs AS (
  SELECT is_a,
         CAST(count(*) AS BIGINT) AS n_g,
         CAST(sum(big_r) AS BIGINT) AS sr,
         CAST(sum(big_r - in_r) AS BIGINT) AS sc,
         CAST(sum(CAST(big_r - in_r AS HUGEINT) * (big_r - in_r))
              AS HUGEINT) AS scc
  FROM rk GROUP BY is_a
),
w AS (
  SELECT a.n_g AS n1, b.n_g AS n2,
         CAST(a.sr AS DOUBLE) / a.n_g AS rb1,
         CAST(b.sr AS DOUBLE) / b.n_g AS rb2,
         (CAST(a.scc AS DOUBLE) - CAST(a.sc AS DOUBLE) * a.sc / a.n_g)
           / (a.n_g - 1) AS s1sq,
         (CAST(b.scc AS DOUBLE) - CAST(b.sc AS DOUBLE) * b.sc / b.n_g)
           / (b.n_g - 1) AS s2sq
  FROM gs a, gs b WHERE a.is_a = 1 AND b.is_a = 0
)
SELECT CAST(n1 AS BIGINT) AS n_click,
       CAST(n2 AS BIGINT) AS n_view,
       round((rb2 - (n2 + 1) / 2.0) / n1, 6) AS p_hat_view_exceeds,
       round((rb2 - rb1)
             / sqrt(n1 * n2
                    * (s1sq / (n1 * CAST(n2 AS DOUBLE) * n2)
                       + s2sq / (n2 * CAST(n1 AS DOUBLE) * n1))), 4)
         AS bm_w_stat,
       CAST(CASE WHEN abs(round((rb2 - rb1)
             / sqrt(n1 * n2
                    * (s1sq / (n1 * CAST(n2 AS DOUBLE) * n2)
                       + s2sq / (n2 * CAST(n1 AS DOUBLE) * n1))), 4))
                 > 1.96 THEN 1 ELSE 0 END AS BIGINT) AS reject_5pct
FROM w
"""


@_register("brunner_munzel_test", _BM_ORACLE)
def brunner_munzel_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brunner-Munzel test for stochastic equality of click vs view
    values — the two-sample rank test that stays valid under UNEQUAL
    VARIANCES and shapes (the rank analog of welch_t_test, and the
    modern recommended default over plain Mann-Whitney when groups may
    differ in spread): p_hat = P(view > click) from mean pooled ranks,
    with the placement-based variance S_i^2 over c_ij = (pooled rank -
    within-group rank), whose exact integer power sums (sc, scc) both
    engines accumulate identically before ONE closed-form double solve
    (the welch/power-sum recipe; the statistic algebra is written as
    the same literal expression in both lanes, so rounding agrees).
    Ties break deterministically by event_id. Scale shape: THREE
    tiered_global_ranks (the pooled order plus each group's own order,
    contiguous 128-cent bands each) joined on event_id — no
    single-partition window anywhere; one group aggregate; 2-row
    algebra."""
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
        .localCheckpoint(eager=False)
    )
    pooled = tiered_global_rank(
        s, F.expr("v div 128"), ["v", "event_id"], rank_name="big_r"
    ).select("event_id", "is_a", "big_r")

    def within(flag: int) -> DataFrame:
        return tiered_global_rank(
            s.filter(F.col("is_a") == flag),
            F.expr("v div 128"),
            ["v", "event_id"],
            rank_name="in_r",
        ).select("event_id", "in_r")

    rk = pooled.join(within(1).unionAll(within(0)), "event_id")
    gs = rk.groupBy("is_a").agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.sum("big_r").cast("long").alias("sr"),
        F.sum(F.expr("big_r - in_r")).cast("long").alias("sc"),
        F.expr(
            "sum(CAST(big_r - in_r AS DECIMAL(38,0)) * (big_r - in_r))"
        ).alias("scc"),
    )
    a = gs.filter(F.col("is_a") == 1).alias("a")
    b = gs.filter(F.col("is_a") == 0).alias("b")
    w = a.crossJoin(F.broadcast(b)).select(
        F.col("a.n_g").alias("n1"),
        F.col("b.n_g").alias("n2"),
        F.expr("CAST(a.sr AS DOUBLE) / a.n_g").alias("rb1"),
        F.expr("CAST(b.sr AS DOUBLE) / b.n_g").alias("rb2"),
        F.expr(
            "(CAST(a.scc AS DOUBLE) - CAST(a.sc AS DOUBLE) * a.sc / a.n_g)"
            " / (a.n_g - 1)"
        ).alias("s1sq"),
        F.expr(
            "(CAST(b.scc AS DOUBLE) - CAST(b.sc AS DOUBLE) * b.sc / b.n_g)"
            " / (b.n_g - 1)"
        ).alias("s2sq"),
    )
    wexpr = (
        "(rb2 - rb1) / sqrt(n1 * n2"
        " * (s1sq / (n1 * CAST(n2 AS DOUBLE) * n2)"
        " + s2sq / (n2 * CAST(n1 AS DOUBLE) * n1)))"
    )
    return w.select(
        F.col("n1").cast("long").alias("n_click"),
        F.col("n2").cast("long").alias("n_view"),
        F.expr("round((rb2 - (n2 + 1) / 2.0) / n1, 6)").alias(
            "p_hat_view_exceeds"
        ),
        F.expr(f"round({wexpr}, 4)").alias("bm_w_stat"),
        F.expr(
            f"CAST(CASE WHEN abs(round({wexpr}, 4)) > 1.96"
            " THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("reject_5pct"),
    )


# ===========================================================================
# Dixon-style extreme-gap ratios (TakeOrdered panels, no window at all)
# ===========================================================================

_DIXON_ORACLE = """
WITH v AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS x FROM orders
),
top2 AS (SELECT x FROM v ORDER BY x DESC LIMIT 2),
bot2 AS (SELECT x FROM v ORDER BY x ASC LIMIT 2),
p AS (
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM v) AS n,
         (SELECT max(x) FROM top2) AS x_max,
         (SELECT min(x) FROM top2) AS x_2nd,
         (SELECT min(x) FROM bot2) AS x_min,
         (SELECT max(x) FROM bot2) AS x_2nd_low
)
SELECT n AS n_orders,
       x_max AS max_cents,
       x_min AS min_cents,
       CAST(1000000 * (x_max - x_2nd) // nullif(x_max - x_min, 0)
            AS BIGINT) AS q_upper_ppm,
       CAST(1000000 * (x_2nd_low - x_min) // nullif(x_max - x_min, 0)
            AS BIGINT) AS q_lower_ppm,
       CAST(CASE WHEN x_max - x_2nd > x_2nd_low - x_min THEN 1
                 WHEN x_max - x_2nd < x_2nd_low - x_min THEN -1
                 ELSE 0 END AS BIGINT) AS wider_tail_sign
FROM p
"""


@_register("dixon_q_extreme_gap", _DIXON_ORACLE)
def dixon_q_extreme_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dixon-style Q ratios at both extremes of the order-total
    distribution: q_upper = (x_(n) - x_(n-1)) / range and q_lower =
    (x_(2) - x_(1)) / range, in exact ppm — the gap-based outlier
    screen (Dixon's r10 numerators) that reads whether an extreme
    value is DETACHED from the sample rather than merely far from the
    mean (outlier_zscore) or outside rank fences
    (tukey_fences_outliers); wider_tail_sign reports which end is more
    detached. No decision threshold is emitted: Dixon critical values
    are small-n tables, and at lake cardinalities the ratios are
    monitoring readouts. Scale shape: NO window of any kind — two
    TakeOrderedAndProject panels (orderBy().limit(2) each way) and one
    count; the order-statistic device at its degenerate k=2 best."""
    v = _t(spark, sf_dir, "orders").select(
        _cents("o_totalprice").alias("x")
    ).localCheckpoint(eager=False)
    top2 = v.orderBy(F.col("x").desc()).limit(2)
    bot2 = v.orderBy(F.col("x").asc()).limit(2)
    p = (
        v.agg(F.count(F.lit(1)).cast("long").alias("n"))
        .crossJoin(
            F.broadcast(
                top2.agg(
                    F.max("x").alias("x_max"), F.min("x").alias("x_2nd")
                )
            )
        )
        .crossJoin(
            F.broadcast(
                bot2.agg(
                    F.min("x").alias("x_min"),
                    F.max("x").alias("x_2nd_low"),
                )
            )
        )
    )
    return p.select(
        F.col("n").alias("n_orders"),
        F.col("x_max").alias("max_cents"),
        F.col("x_min").alias("min_cents"),
        F.expr(
            "CAST(1000000 * (x_max - x_2nd) div nullif(x_max - x_min, 0)"
            " AS BIGINT)"
        ).alias("q_upper_ppm"),
        F.expr(
            "CAST(1000000 * (x_2nd_low - x_min) div nullif(x_max - x_min, 0)"
            " AS BIGINT)"
        ).alias("q_lower_ppm"),
        F.expr(
            "CAST(CASE WHEN x_max - x_2nd > x_2nd_low - x_min THEN 1"
            " WHEN x_max - x_2nd < x_2nd_low - x_min THEN -1"
            " ELSE 0 END AS BIGINT)"
        ).alias("wider_tail_sign"),
    )


# ===========================================================================
# Tukey boxplot fences (exact quartiles -> IQR outlier counts)
# ===========================================================================

_TUKEY_ORACLE = """
WITH v AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS x FROM orders
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v),
rk AS (SELECT x, row_number() OVER (ORDER BY x) AS rn FROM v),
q AS (
  SELECT max(CASE WHEN rn = (250 * n + 999) // 1000 THEN x END) AS q1,
         max(CASE WHEN rn = (750 * n + 999) // 1000 THEN x END) AS q3
  FROM rk, tot
),
f AS (
  SELECT q1, q3, q3 - q1 AS iqr,
         q1 - (3 * (q3 - q1)) // 2 AS lo_fence,
         q3 + (3 * (q3 - q1)) // 2 AS hi_fence
  FROM q
)
SELECT (SELECT n FROM tot) AS n_orders,
       f.q1 AS q1_cents,
       f.q3 AS q3_cents,
       CAST(f.iqr AS BIGINT) AS iqr_cents,
       CAST(f.lo_fence AS BIGINT) AS lo_fence_cents,
       CAST(f.hi_fence AS BIGINT) AS hi_fence_cents,
       CAST(sum(CASE WHEN v.x < f.lo_fence THEN 1 ELSE 0 END) AS BIGINT)
         AS n_below,
       CAST(sum(CASE WHEN v.x > f.hi_fence THEN 1 ELSE 0 END) AS BIGINT)
         AS n_above,
       CAST(1000000 * sum(CASE WHEN v.x < f.lo_fence OR v.x > f.hi_fence
                               THEN 1 ELSE 0 END)
            // (SELECT n FROM tot) AS BIGINT) AS outlier_ppm
FROM v, f
GROUP BY 1, 2, 3, 4, 5, 6
"""


@_register("tukey_fences_outliers", _TUKEY_ORACLE)
def tukey_fences_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The boxplot rule executed exactly: Q1/Q3 as type-1 order
    statistics, fences at Q1 - 1.5*IQR / Q3 + 1.5*IQR (the half-IQR
    multiple as an integer 3*IQR div 2, truncating identically on both
    engines), and the count of points outside — the RANK-based outlier
    screen beside the moment-based outlier_zscore and the gap-based
    dixon_q_extreme_gap: fences move with quartiles, so contamination
    cannot drag the threshold the way it inflates a stddev. On this
    synthetic lake the order-total body is compact, so the executed
    counts are small-or-zero — the VALUES of the fences and quartiles
    still check exactly. Scale shape: one tiered_global_rank over
    contiguous 65536-cent bands for the quartiles, then one broadcast
    of the 1-row fence frame onto a plain filter-count pass — no
    single-partition window."""
    v = _t(spark, sf_dir, "orders").select(
        _cents("o_totalprice").alias("x")
    ).localCheckpoint(eager=False)
    rk = tiered_global_rank(
        v, F.expr("x div 65536"), ["x"], rank_name="rn", total_name="n"
    )
    q = rk.agg(
        F.max("n").cast("long").alias("n"),
        F.expr(
            "max(CASE WHEN rn = (250 * n + 999) div 1000 THEN x END)"
        ).alias("q1"),
        F.expr(
            "max(CASE WHEN rn = (750 * n + 999) div 1000 THEN x END)"
        ).alias("q3"),
    ).select(
        "n",
        "q1",
        "q3",
        F.expr("q3 - q1").alias("iqr"),
        F.expr("q1 - (3 * (q3 - q1)) div 2").alias("lo_fence"),
        F.expr("q3 + (3 * (q3 - q1)) div 2").alias("hi_fence"),
    )
    return (
        v.crossJoin(F.broadcast(q))
        .groupBy("n", "q1", "q3", "iqr", "lo_fence", "hi_fence")
        .agg(
            F.expr(
                "CAST(sum(CASE WHEN x < lo_fence THEN 1 ELSE 0 END)"
                " AS BIGINT)"
            ).alias("n_below"),
            F.expr(
                "CAST(sum(CASE WHEN x > hi_fence THEN 1 ELSE 0 END)"
                " AS BIGINT)"
            ).alias("n_above"),
            F.expr(
                "CAST(1000000 * sum(CASE WHEN x < lo_fence OR x > hi_fence"
                " THEN 1 ELSE 0 END) div max(n) AS BIGINT)"
            ).alias("outlier_ppm"),
        )
        .select(
            F.col("n").alias("n_orders"),
            F.col("q1").alias("q1_cents"),
            F.col("q3").alias("q3_cents"),
            F.col("iqr").cast("long").alias("iqr_cents"),
            F.col("lo_fence").cast("long").alias("lo_fence_cents"),
            F.col("hi_fence").cast("long").alias("hi_fence_cents"),
            "n_below",
            "n_above",
            "outlier_ppm",
        )
    )
