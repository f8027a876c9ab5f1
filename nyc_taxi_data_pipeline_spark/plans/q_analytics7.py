"""Catalog wave 21 (round 6): voting/apportionment, scale/variance tests,
heavy-tail & power-law fits, attribute control charts, sequence DP,
classifier-apply curation, synthetic control, and sampled betweenness.

Same contract as every plans/ module: DataFrame-first Spark plans with
full DuckDB value oracles, every computed column aliased identically in
both lanes, doubles rounded on both sides, integer arithmetic (bigint +
truncating division) wherever an exact cross-engine value is feasible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from nyc_taxi_data_pipeline_spark.operators.graph import (
    pagerank_fixed_iterations,
    undirected,
)
from nyc_taxi_data_pipeline_spark.plans._base import (
    _register,
    _t,
    tiered_global_rank,
    trade_edges,
)

__all__: list[str] = []


def _cents(col: str) -> F.Column:
    """value -> integer cents, half away from zero (cross-engine exact)."""
    return F.expr(
        f"CAST(CASE WHEN {col} >= 0 THEN floor({col} * 100 + 0.5)"
        f" ELSE -floor(-({col}) * 100 + 0.5) END AS BIGINT)"
    )


# ===========================================================================
# Apportionment: D'Hondt and Sainte-Lague highest-averages methods
# ===========================================================================

_SEATS = 60

_DHONDT_ORACLE = f"""
WITH votes AS (
  SELECT r.r_name AS party, CAST(count(*) AS BIGINT) AS v
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  JOIN region r ON r.r_regionkey = n.n_regionkey
  GROUP BY 1
),
ks AS (SELECT unnest(range(1, {_SEATS} + 1)) AS k),
dq AS (
  SELECT party, v, k, v * 1000000 // k AS q
  FROM votes CROSS JOIN ks
),
dtop AS (
  SELECT party FROM dq
  ORDER BY q DESC, party, k LIMIT {_SEATS}
),
sq AS (
  SELECT party, v, k, v * 1000000 // (2 * k - 1) AS q
  FROM votes CROSS JOIN ks
),
stop AS (
  SELECT party FROM sq
  ORDER BY q DESC, party, k LIMIT {_SEATS}
)
SELECT v.party, v.v AS votes,
       CAST(coalesce(d.s, 0) AS BIGINT) AS seats_dhondt,
       CAST(coalesce(s.s, 0) AS BIGINT) AS seats_sainte_lague
FROM votes v
LEFT JOIN (SELECT party, count(*) AS s FROM dtop GROUP BY 1) d
  ON d.party = v.party
LEFT JOIN (SELECT party, count(*) AS s FROM stop GROUP BY 1) s
  ON s.party = v.party
ORDER BY v.party
"""


@_register("dhondt_seat_apportionment", _DHONDT_ORACLE)
def dhondt_seat_apportionment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Highest-averages seat apportionment — D'Hondt (divisors 1,2,3,..)
    and Sainte-Lague (1,3,5,..) side by side — allocating 60 seats to
    the five regions by order count. The divisor table is a 60-row
    literal sequence cross-joined onto the 5-row vote tally (bounded:
    parties x seats rows total, never data-sized); the seat winners are
    the top-S quotients with a fully deterministic tie-break
    (quotient, party, divisor). Quotients are scaled-integer
    (v*10^6 // k) so both engines rank identical bigints — the
    companion to quota_allocation_largest_remainder, covering the
    OTHER family of proportional-allocation methods (divisor vs quota;
    Sainte-Lague's odd divisors favor small parties, D'Hondt large).
    Scale shape: one count aggregate over the fact join, then
    constant-size arithmetic."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    votes = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy(F.col("r_name").alias("party"))
        .agg(F.count(F.lit(1)).cast("long").alias("v"))
    )
    ks = spark.range(1, _SEATS + 1).select(F.col("id").alias("k"))
    dq = votes.crossJoin(F.broadcast(ks))

    def _seats(quot: str) -> DataFrame:
        top = (
            dq.select("party", F.expr(quot).alias("q"), "k")
            .orderBy(F.col("q").desc(), "party", "k")
            .limit(_SEATS)
        )
        return top.groupBy("party").agg(F.count(F.lit(1)).alias("s"))

    d = _seats("v * 1000000 div k")
    s = _seats("v * 1000000 div (2 * k - 1)")
    return (
        votes.join(d.withColumnRenamed("s", "sd"), "party", "left")
        .join(s.withColumnRenamed("s", "ss"), "party", "left")
        .select(
            "party",
            F.col("v").alias("votes"),
            F.coalesce("sd", F.lit(0)).cast("long").alias("seats_dhondt"),
            F.coalesce("ss", F.lit(0)).cast("long").alias("seats_sainte_lague"),
        )
        .orderBy("party")
    )


# ===========================================================================
# Attribute control chart: p-chart with exact integer 3-sigma test
# ===========================================================================

_PCHART_ORACLE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
              AS BIGINT) AS x
  FROM events GROUP BY 1
),
tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(x) AS BIGINT) AS xx
  FROM daily
)
SELECT d.d AS day,
       d.n AS n_events,
       d.x AS n_defect,
       CAST(1000000 * d.x // d.n AS BIGINT) AS p_ppm,
       CAST(1000000 * t.xx // t.nn AS BIGINT) AS pbar_ppm,
       CAST(CASE WHEN CAST(d.x * t.nn - t.xx * d.n AS HUGEINT)
                      * CAST(d.x * t.nn - t.xx * d.n AS HUGEINT)
                 > CAST(9 * t.xx AS HUGEINT) * (t.nn - t.xx) * d.n
            THEN CASE WHEN d.x * t.nn > t.xx * d.n THEN 1 ELSE -1 END
            ELSE 0 END AS BIGINT) AS ooc_sign
FROM daily d CROSS JOIN tot t
ORDER BY d.d
"""


@_register("p_chart_attribute_control", _PCHART_ORACLE)
def p_chart_attribute_control(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p-chart (attribute control chart) over the daily error-event
    fraction: centerline pbar from the pooled totals, per-day 3-sigma
    limits with the classic binomial sigma sqrt(pbar(1-pbar)/n_i) —
    the ATTRIBUTE-data member of the SPC family (xbar_r_control_chart
    covers variables data, western_electric_rules the run rules,
    cusum/ewma the memory charts). The out-of-control test is kept
    EXACT by clearing denominators: |p_i - pbar| > 3*sigma_i is
    equivalent to (x_i*N - X*n_i)^2 > 9*X*(N-X)*n_i — no sqrt, no
    floats, so the flag carries a full value oracle. The UNSQUARED
    deviation x_i*N - X*n_i fits int64 to beyond sf100 (|dev| <=
    n_i*N ~ 6e13 at sf10), but its SQUARE crosses 2^63 around sf1-10,
    so both lanes square in wide exact arithmetic: Spark routes the
    square and the 9*X*(N-X)*n_i bound through DECIMAL(38,0) (holds
    ~1e38 >> the ~1e34 worst case at sf100); the DuckDB oracle uses
    HUGEINT (int128). Scale shape: one daily aggregate, a 1-row total
    broadcast onto it."""
    daily = (
        _t(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("d"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
            .cast("long")
            .alias("x"),
        )
    )
    tot = daily.agg(
        F.sum("n").cast("long").alias("nn"), F.sum("x").cast("long").alias("xx")
    )
    return (
        daily.crossJoin(F.broadcast(tot))
        .select(
            F.col("d").alias("day"),
            F.col("n").alias("n_events"),
            F.col("x").alias("n_defect"),
            F.expr("CAST(1000000 * x div n AS BIGINT)").alias("p_ppm"),
            F.expr("CAST(1000000 * xx div nn AS BIGINT)").alias("pbar_ppm"),
            F.expr(
                "CAST(CASE WHEN CAST(x * nn - xx * n AS DECIMAL(38,0))"
                " * CAST(x * nn - xx * n AS DECIMAL(38,0))"
                " > CAST(9 * xx AS DECIMAL(38,0)) * (nn - xx) * n"
                " THEN CASE WHEN x * nn > xx * n THEN 1 ELSE -1 END"
                " ELSE 0 END AS BIGINT)"
            ).alias("ooc_sign"),
        )
        .orderBy("day")
    )


# ===========================================================================
# Curation: apply a fixed logistic quality classifier to documents
# ===========================================================================

_LOGREG_ORACLE = """
WITH feat AS (
  SELECT doc_id, source,
         CAST(1000 * length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
              // greatest(length(text), 1) AS BIGINT) AS alpha_milli,
         CAST(1000 * length(regexp_replace(text, '[^0-9]', '', 'g'))
              // greatest(length(text), 1) AS BIGINT) AS digit_milli,
         CAST(1000 * (length(text) - length(replace(text, ' ', '')))
              // greatest(length(text), 1) AS BIGINT) AS space_milli,
         CAST(least(length(text), 4000) AS BIGINT) AS len_capped
  FROM documents WHERE text IS NOT NULL
),
scored AS (
  SELECT doc_id, source,
         -2000 + 4 * alpha_milli - 6 * digit_milli
         + 2 * space_milli + len_capped // 4 AS logit_micro
  FROM feat
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN logit_micro > 1000 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_keep,
       CAST(sum(CASE WHEN logit_micro <= -1000 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_discard,
       CAST(sum(logit_micro) // count(*) AS BIGINT) AS mean_logit_micro
FROM scored
GROUP BY source ORDER BY source
"""


@_register("quality_classifier_logreg_apply", _LOGREG_ORACLE)
def quality_classifier_logreg_apply(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Apply an offline-trained logistic quality classifier to the corpus
    — the fastText/logreg quality-gate step of an LLM curation pipeline
    (CCNet-style): engineered features (alphabetic ratio, digit ratio,
    whitespace ratio, capped length) are combined with a FIXED integer
    weight vector into a logit, and documents bucket into
    keep / review / discard by logit thresholds. Weights live in the
    plan as literals — the model is "broadcast" at codegen time, the
    way a production scorer ships coefficient files to executors; only
    the decision thresholds and per-source rollup leave the map side.
    All features and the logit are scaled integers (regexp counts,
    floor division), so the gate carries a full value oracle. Scale
    shape: pure narrow map over documents + one small aggregate —
    JVM-codegen regexps, no Python lane."""
    d = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    feat = d.select(
        "doc_id",
        "source",
        F.expr(
            "CAST(1000 * length(regexp_replace(text, '[^a-zA-Z]', ''))"
            " div greatest(length(text), 1) AS BIGINT)"
        ).alias("alpha_milli"),
        F.expr(
            "CAST(1000 * length(regexp_replace(text, '[^0-9]', ''))"
            " div greatest(length(text), 1) AS BIGINT)"
        ).alias("digit_milli"),
        F.expr(
            "CAST(1000 * (length(text) - length(replace(text, ' ', '')))"
            " div greatest(length(text), 1) AS BIGINT)"
        ).alias("space_milli"),
        F.expr("CAST(least(length(text), 4000) AS BIGINT)").alias("len_capped"),
    )
    scored = feat.select(
        "source",
        F.expr(
            "-2000 + 4 * alpha_milli - 6 * digit_milli"
            " + 2 * space_milli + len_capped div 4"
        ).alias("logit_micro"),
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(F.col("logit_micro") > 1000, 1).otherwise(0))
            .cast("long")
            .alias("n_keep"),
            F.sum(F.when(F.col("logit_micro") <= -1000, 1).otherwise(0))
            .cast("long")
            .alias("n_discard"),
            F.expr("CAST(sum(logit_micro) div count(*) AS BIGINT)").alias(
                "mean_logit_micro"
            ),
        )
        .orderBy("source")
    )


# ===========================================================================
# Parametric scale homogeneity: Bartlett's test
# ===========================================================================

_BARTLETT_ORACLE = """
WITH s AS (
  SELECT l_returnflag AS grp,
         CAST(round(l_quantity * 100) AS BIGINT) AS v
  FROM lineitem
),
g AS (
  SELECT grp,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(v) AS BIGINT) AS s1,
         CAST(sum(v * v) AS BIGINT) AS s2
  FROM s GROUP BY grp
),
v AS (
  SELECT grp, n,
         (CAST(n AS DOUBLE) * s2 - CAST(s1 AS DOUBLE) * s1)
           / (CAST(n AS DOUBLE) * (n - 1)) AS s2i
  FROM g
),
tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS nn,
         CAST(count(*) AS BIGINT) AS k,
         CAST(sum(CAST(round((n - 1) * s2i, 4) AS DECIMAL(38,8)))
              AS DOUBLE) AS pooled_num,
         CAST(sum(CAST(round((n - 1) * ln(s2i), 8) AS DECIMAL(38,8)))
              AS DOUBLE) AS sum_ln,
         CAST(sum(CAST(round(1.0 / (n - 1), 12) AS DECIMAL(38,12)))
              AS DOUBLE) AS sum_inv
  FROM v
)
SELECT nn AS n_total,
       k AS n_groups,
       round((nn - k) * ln(pooled_num / (nn - k)) - sum_ln, 4) AS bartlett_b,
       round(1.0 + (sum_inv - 1.0 / (nn - k)) / (3.0 * (k - 1)), 6)
         AS correction_c,
       round(((nn - k) * ln(pooled_num / (nn - k)) - sum_ln)
             / (1.0 + (sum_inv - 1.0 / (nn - k)) / (3.0 * (k - 1))), 4)
         AS bartlett_stat,
       CAST(CASE WHEN ((nn - k) * ln(pooled_num / (nn - k)) - sum_ln)
                      / (1.0 + (sum_inv - 1.0 / (nn - k))
                               / (3.0 * (k - 1))) > 5.991
                 THEN 1 ELSE 0 END AS BIGINT) AS reject_equal_var_5pct
FROM tot
"""


@_register("bartlett_variance_homogeneity", _BARTLETT_ORACLE)
def bartlett_variance_homogeneity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Bartlett's test for homogeneity of variances across the three
    return-flag groups of l_quantity — the PARAMETRIC member of the
    scale-test family (levene_brown_forsythe is the robust deviation
    version, ansari_bradley_scale_test the pure-rank version): B =
    ((N-k) ln Sp^2 - sum (n_i-1) ln s_i^2) / C with Bartlett's
    correction C. Group variances are derived from exact integer
    power sums (cents-scaled), so the only doubles are the final ln
    ratios — both engines divide identical exact integers before the
    log, and results round at 4 decimals. Scale shape: one hash
    aggregate to k rows of (n, S1, S2) mergeable partials, constant
    arithmetic after; chi2(k-1) threshold 5.991 at k=3."""
    s = _t(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("grp"), _cents("l_quantity").alias("v")
    )
    g = s.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v").cast("long").alias("s1"),
        F.sum(F.expr("v * v")).cast("long").alias("s2"),
    )
    v = g.select(
        "grp",
        "n",
        F.expr(
            "(CAST(n AS DOUBLE) * s2 - CAST(s1 AS DOUBLE) * s1)"
            " / (CAST(n AS DOUBLE) * (n - 1))"
        ).alias("s2i"),
    )
    tot = v.agg(
        F.sum("n").cast("long").alias("nn"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.expr(
            "CAST(sum(CAST(round((n - 1) * s2i, 4) AS DECIMAL(38,8)))"
            " AS DOUBLE)"
        ).alias("pooled_num"),
        F.expr(
            "CAST(sum(CAST(round((n - 1) * ln(s2i), 8) AS DECIMAL(38,8)))"
            " AS DOUBLE)"
        ).alias("sum_ln"),
        F.expr(
            "CAST(sum(CAST(round(1.0 / (n - 1), 12) AS DECIMAL(38,12)))"
            " AS DOUBLE)"
        ).alias("sum_inv"),
    )
    return tot.select(
        F.col("nn").alias("n_total"),
        F.col("k").alias("n_groups"),
        F.round(
            F.expr("(nn - k) * ln(pooled_num / (nn - k)) - sum_ln"), 4
        ).alias("bartlett_b"),
        F.round(
            F.expr("1.0 + (sum_inv - 1.0 / (nn - k)) / (3.0 * (k - 1))"), 6
        ).alias("correction_c"),
        F.round(
            F.expr(
                "((nn - k) * ln(pooled_num / (nn - k)) - sum_ln)"
                " / (1.0 + (sum_inv - 1.0 / (nn - k)) / (3.0 * (k - 1)))"
            ),
            4,
        ).alias("bartlett_stat"),
        F.expr(
            "CAST(CASE WHEN ((nn - k) * ln(pooled_num / (nn - k)) - sum_ln)"
            " / (1.0 + (sum_inv - 1.0 / (nn - k)) / (3.0 * (k - 1))) > 5.991"
            " THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("reject_equal_var_5pct"),
    )


# ===========================================================================
# Taylor's law: variance-mean power scaling of daily event counts
# ===========================================================================

_TAYLOR_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
g AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_days,
         CAST(sum(c) AS BIGINT) AS s1,
         CAST(sum(c * c) AS BIGINT) AS s2
  FROM daily GROUP BY 1
),
mv AS (
  SELECT event_type, n_days,
         CAST(s1 AS DOUBLE) / n_days AS mean_c,
         (CAST(n_days AS DOUBLE) * s2 - CAST(s1 AS DOUBLE) * s1)
           / (CAST(n_days AS DOUBLE) * (n_days - 1)) AS var_c
  FROM g
),
fit AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         CAST(sum(CAST(round(ln(mean_c), 10) AS DECIMAL(38,10)))
              AS DOUBLE) AS sx,
         CAST(sum(CAST(round(ln(var_c), 10) AS DECIMAL(38,10)))
              AS DOUBLE) AS sy,
         CAST(sum(CAST(round(ln(mean_c) * ln(mean_c), 10)
                       AS DECIMAL(38,10))) AS DOUBLE) AS sxx,
         CAST(sum(CAST(round(ln(mean_c) * ln(var_c), 10)
                       AS DECIMAL(38,10))) AS DOUBLE) AS sxy
  FROM mv
)
SELECT m.event_type,
       m.n_days,
       round(m.mean_c, 4) AS mean_daily,
       round(m.var_c, 4) AS var_daily,
       round((f.k * f.sxy - f.sx * f.sy)
             / (f.k * f.sxx - f.sx * f.sx), 6) AS taylor_slope_b,
       round((f.sy - f.sx * (f.k * f.sxy - f.sx * f.sy)
                     / (f.k * f.sxx - f.sx * f.sx)) / f.k, 6)
         AS taylor_intercept_ln_a
FROM mv m CROSS JOIN fit f
ORDER BY m.event_type
"""


@_register("taylors_law_powerfit", _TAYLOR_ORACLE)
def taylors_law_powerfit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Taylor's power law (variance = a * mean^b) fitted across the five
    event types' daily-count distributions: per-type mean/variance of
    the 30 daily counts from exact integer sums, then the OLS slope of
    ln(var) on ln(mean) over the k=5 (mean, var) points — the classic
    ecology/operations fluctuation-scaling diagnostic (b=1 Poisson,
    b=2 clustered/bursty; complements overdispersion_fano_burstiness,
    which tests ONE series, by fitting the cross-series scaling law).
    Every per-type moment comes from int64 partials; only the final
    ln/OLS step is double, rounded on both sides. Scale shape: one
    (type, day) aggregate, then a k-row regression — constant."""
    daily = (
        _t(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    g = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("c").cast("long").alias("s1"),
        F.sum(F.expr("c * c")).cast("long").alias("s2"),
    )
    mv = g.select(
        "event_type",
        "n_days",
        F.expr("CAST(s1 AS DOUBLE) / n_days").alias("mean_c"),
        F.expr(
            "(CAST(n_days AS DOUBLE) * s2 - CAST(s1 AS DOUBLE) * s1)"
            " / (CAST(n_days AS DOUBLE) * (n_days - 1))"
        ).alias("var_c"),
    )
    fit = mv.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.expr(
            "CAST(sum(CAST(round(ln(mean_c), 10) AS DECIMAL(38,10)))"
            " AS DOUBLE)"
        ).alias("sx"),
        F.expr(
            "CAST(sum(CAST(round(ln(var_c), 10) AS DECIMAL(38,10)))"
            " AS DOUBLE)"
        ).alias("sy"),
        F.expr(
            "CAST(sum(CAST(round(ln(mean_c) * ln(mean_c), 10)"
            " AS DECIMAL(38,10))) AS DOUBLE)"
        ).alias("sxx"),
        F.expr(
            "CAST(sum(CAST(round(ln(mean_c) * ln(var_c), 10)"
            " AS DECIMAL(38,10))) AS DOUBLE)"
        ).alias("sxy"),
    )
    return (
        mv.crossJoin(F.broadcast(fit))
        .select(
            "event_type",
            "n_days",
            F.round("mean_c", 4).alias("mean_daily"),
            F.round("var_c", 4).alias("var_daily"),
            F.round(
                F.expr("(k * sxy - sx * sy) / (k * sxx - sx * sx)"), 6
            ).alias("taylor_slope_b"),
            F.round(
                F.expr(
                    "(sy - sx * (k * sxy - sx * sy) / (k * sxx - sx * sx)) / k"
                ),
                6,
            ).alias("taylor_intercept_ln_a"),
        )
        .orderBy("event_type")
    )


# ===========================================================================
# Extreme values: peaks-over-threshold GPD moment fit
# ===========================================================================

_GPD_ORACLE = """
WITH v AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS x FROM orders
),
rk AS (
  SELECT x, row_number() OVER (ORDER BY x DESC, x) AS r,
         count(*) OVER () AS n
  FROM v
),
thr AS (
  SELECT min(x) AS u FROM rk WHERE r <= (n + 19) // 20
),
exc AS (
  SELECT v.x - t.u AS y FROM v CROSS JOIN thr t WHERE v.x > t.u
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         CAST(sum(y) AS BIGINT) AS s1,
         CAST(sum(y * y) AS BIGINT) AS s2
  FROM exc
),
fit AS (
  SELECT k, s1,
         CAST(s1 AS DOUBLE) / k AS ybar,
         (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / k) / (k - 1)
           AS s2y
  FROM m
)
SELECT f.k AS n_exceed,
       t.u AS threshold_cents,
       round(f.ybar / 100.0, 4) AS mean_excess,
       round(0.5 * (1.0 - f.ybar * f.ybar / f.s2y), 6) AS gpd_shape_xi,
       round(0.5 * f.ybar * (f.ybar * f.ybar / f.s2y + 1.0) / 100.0, 4)
         AS gpd_scale_beta,
       CAST(CASE WHEN 0.5 * (1.0 - f.ybar * f.ybar / f.s2y) > 0
                 THEN 1 ELSE 0 END AS BIGINT) AS heavy_tail_flag
FROM fit f CROSS JOIN thr t
"""


@_register("pot_gpd_moment_fit", _GPD_ORACLE)
def pot_gpd_moment_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peaks-over-threshold extreme-value fit: take the top-5% order
    totals (rank-based threshold, exact over integer cents), model the
    excesses above the threshold with a Generalized Pareto and estimate
    (shape xi, scale beta) by the method of moments — xi = (1 -
    ybar^2/s^2)/2, beta = ybar(ybar^2/s^2 + 1)/2. This is the
    THRESHOLD member of the EVT family (block_maxima_return_levels is
    the block-maxima/GEV member; POT uses the data above u instead of
    one maximum per block, the estimator actuaries and SREs actually
    fit). The threshold is an exact order statistic (rank over cents,
    no percentile interpolation); moments come from int64 sums
    (the square sum in double to stay in range, identically on both
    engines); xi > 0 flags a heavy tail. Scale shape: the threshold
    rank is computed WITHOUT a single-partition window — ascending
    tiered_global_rank over contiguous 65536-cent price bands, the
    descending top-5% selected as ascending rank > n - k (exactly k
    rows either way; at a tie boundary the tie-member CHOICE can
    differ from the oracle's arbitrary order, but min(x) over the set
    is tie-order invariant) — then one aggregate over the 5% tail."""
    v = _t(spark, sf_dir, "orders").select(_cents("o_totalprice").alias("x"))
    rk = tiered_global_rank(
        v, F.expr("x div 65536"), ["x"], rank_name="rn", total_name="n"
    )
    thr = rk.filter(F.expr("n - rn + 1 <= (n + 19) div 20")).agg(
        F.min("x").alias("u")
    )
    exc = (
        v.crossJoin(F.broadcast(thr))
        .filter(F.col("x") > F.col("u"))
        .select((F.col("x") - F.col("u")).alias("y"))
    )
    m = exc.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("y").cast("long").alias("s1"),
        F.sum(F.expr("y * y")).cast("long").alias("s2"),
    )
    fit = m.select(
        "k",
        "s1",
        F.expr("CAST(s1 AS DOUBLE) / k").alias("ybar"),
        F.expr(
            "(CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / k) / (k - 1)"
        ).alias("s2y"),
    )
    return fit.crossJoin(F.broadcast(thr)).select(
        F.col("k").alias("n_exceed"),
        F.col("u").alias("threshold_cents"),
        F.round(F.expr("ybar / 100.0"), 4).alias("mean_excess"),
        F.round(F.expr("0.5 * (1.0 - ybar * ybar / s2y)"), 6).alias(
            "gpd_shape_xi"
        ),
        F.round(
            F.expr("0.5 * ybar * (ybar * ybar / s2y + 1.0) / 100.0"), 4
        ).alias("gpd_scale_beta"),
        F.expr(
            "CAST(CASE WHEN 0.5 * (1.0 - ybar * ybar / s2y) > 0"
            " THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("heavy_tail_flag"),
    )


# ===========================================================================
# Reliability: Weibull fit by median-ranks regression
# ===========================================================================

_WEIBULL_ORACLE = """
WITH t AS (
  SELECT CAST(date_diff('minute', o.o_orderdate, l.l_shipdate) AS BIGINT)
           AS tt
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  WHERE l.l_shipdate > o.o_orderdate
),
rk AS (
  SELECT tt, row_number() OVER (ORDER BY tt, tt) AS i,
         count(*) OVER () AS n
  FROM t
),
xy AS (
  SELECT round(ln(CAST(tt AS DOUBLE)), 8) AS x,
         round(ln(-ln(1.0 - (i - 0.3) / (n + 0.4))), 8) AS y
  FROM rk
),
fit AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(x AS DECIMAL(38,8))) AS DOUBLE) AS sx,
         CAST(sum(CAST(y AS DECIMAL(38,8))) AS DOUBLE) AS sy,
         CAST(sum(CAST(round(x * x, 12) AS DECIMAL(38,12))) AS DOUBLE)
           AS sxx,
         CAST(sum(CAST(round(x * y, 12) AS DECIMAL(38,12))) AS DOUBLE)
           AS sxy
  FROM xy
)
SELECT n AS n_failures,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
         AS weibull_shape_k,
       round(exp(-((sy - sx * (n * sxy - sx * sy) / (n * sxx - sx * sx)) / n)
                 / ((n * sxy - sx * sy) / (n * sxx - sx * sx))) / 1440.0, 4)
         AS weibull_scale_days,
       CAST(CASE WHEN (n * sxy - sx * sy) / (n * sxx - sx * sx) > 1.0
                 THEN 1 ELSE 0 END AS BIGINT) AS wearout_flag
FROM fit
"""


@_register("weibull_median_ranks_fit", _WEIBULL_ORACLE)
def weibull_median_ranks_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weibull (shape, scale) fit by median-ranks regression over
    order-to-ship lead times: each observed minute-level lead time gets
    Benard's median-rank plotting position F_i = (i-0.3)/(n+0.4), and
    OLS of y = ln(-ln(1-F_i)) on x = ln(t_i) gives shape k (slope) and
    scale (exp(-intercept/slope)) — the graphical-estimation method
    reliability engineers use before an MLE pass, complementing
    kaplan_meier/nelson_aalen (non-parametric survival) with the
    PARAMETRIC lifetime model; k > 1 reads as wear-out, k < 1 as
    infant mortality. Ranks are exact (row_number over integer
    minutes; ties permute rank values within a tie group but the
    (x, y) MULTISET is tie-order invariant, so the OLS sums are
    deterministic), and both engines feed identical points into the
    closed-form solve; doubles round at the end. Scale shape: the
    global rank is computed WITHOUT a single-partition window —
    per-tier parallel ranks over contiguous 256-minute lead-time
    bands + broadcast cumsum offsets (tiered_global_rank; the oracle's
    literal global window is the semantic spec, not the plan), then
    one regression aggregate."""
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    t = (
        o.join(l, o["o_orderkey"] == l["l_orderkey"])
        .filter(F.col("l_shipdate") > F.col("o_orderdate"))
        .select(
            F.expr(
                "CAST(timestampdiff(MINUTE, o_orderdate, l_shipdate)"
                " AS BIGINT)"
            ).alias("tt")
        )
    )
    rk = tiered_global_rank(
        t, F.expr("tt div 256"), ["tt"], rank_name="i", total_name="n"
    )
    xy = rk.select(
        F.expr("round(ln(CAST(tt AS DOUBLE)), 8)").alias("x"),
        F.expr("round(ln(-ln(1.0 - (i - 0.3) / (n + 0.4))), 8)").alias("y"),
    )
    fit = xy.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.expr("CAST(sum(CAST(x AS DECIMAL(38,8))) AS DOUBLE)").alias("sx"),
        F.expr("CAST(sum(CAST(y AS DECIMAL(38,8))) AS DOUBLE)").alias("sy"),
        F.expr(
            "CAST(sum(CAST(round(x * x, 12) AS DECIMAL(38,12))) AS DOUBLE)"
        ).alias("sxx"),
        F.expr(
            "CAST(sum(CAST(round(x * y, 12) AS DECIMAL(38,12))) AS DOUBLE)"
        ).alias("sxy"),
    )
    return fit.select(
        F.col("n").alias("n_failures"),
        F.round(
            F.expr("(n * sxy - sx * sy) / (n * sxx - sx * sx)"), 6
        ).alias("weibull_shape_k"),
        F.round(
            F.expr(
                "exp(-((sy - sx * (n * sxy - sx * sy) / (n * sxx - sx * sx))"
                " / n) / ((n * sxy - sx * sy) / (n * sxx - sx * sx)))"
                " / 1440.0"
            ),
            4,
        ).alias("weibull_scale_days"),
        F.expr(
            "CAST(CASE WHEN (n * sxy - sx * sy) / (n * sxx - sx * sx) > 1.0"
            " THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("wearout_flag"),
    )


# ===========================================================================
# Voting: Schulze beatpath method over brand preferences
# ===========================================================================

def _schulze_oracle() -> str:
    """Unrolled Floyd-Warshall widest-path (5 candidates -> 5 relax
    rounds); the k-th round's pivot is the k-th candidate by brand
    order. FW output is pivot-order independent, so fixing the order
    only pins determinism, not the result."""
    its = []
    prev = "p0"
    for k in range(1, 6):
        its.append(f"""
p{k} AS MATERIALIZED (
  SELECT p.a, p.b,
         greatest(p.p, least(coalesce(x.p, 0), coalesce(y.p, 0))) AS p
  FROM {prev} p
  LEFT JOIN {prev} x
    ON x.a = p.a AND x.b = (SELECT brand FROM cands WHERE rn = {k})
  LEFT JOIN {prev} y
    ON y.a = (SELECT brand FROM cands WHERE rn = {k}) AND y.b = p.b
)""")
        prev = f"p{k}"
    its_sql = ",".join(its)
    return f"""
WITH byrev AS (
  SELECT p.p_brand AS brand,
         CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
              AS BIGINT) AS rev
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  GROUP BY 1
),
cands AS MATERIALIZED (
  SELECT brand, row_number() OVER (ORDER BY brand) AS rn
  FROM (SELECT brand FROM byrev ORDER BY rev DESC, brand LIMIT 5)
),
spend AS MATERIALIZED (
  SELECT o.o_custkey AS cust, p.p_brand AS brand,
         CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
              AS BIGINT) AS s
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN part p ON p.p_partkey = l.l_partkey
  JOIN cands c ON c.brand = p.p_brand
  GROUP BY 1, 2
),
grid AS MATERIALIZED (
  SELECT v.cust, c.brand, coalesce(s.s, 0) AS s
  FROM (SELECT DISTINCT cust FROM spend) v
  CROSS JOIN cands c
  LEFT JOIN spend s ON s.cust = v.cust AND s.brand = c.brand
),
d AS MATERIALIZED (
  SELECT ga.brand AS a, gb.brand AS b,
         CAST(sum(CASE WHEN ga.s > gb.s THEN 1 ELSE 0 END) AS BIGINT) AS d
  FROM grid ga
  JOIN grid gb ON gb.cust = ga.cust AND gb.brand <> ga.brand
  GROUP BY 1, 2
),
p0 AS MATERIALIZED (
  SELECT x.a, x.b, CASE WHEN x.d > y.d THEN x.d ELSE 0 END AS p
  FROM d x JOIN d y ON y.a = x.b AND y.b = x.a
),{its_sql}
SELECT f.a AS candidate,
       CAST(sum(CASE WHEN f.p > g.p THEN 1 ELSE 0 END) AS BIGINT) AS wins,
       CAST(row_number() OVER (
         ORDER BY sum(CASE WHEN f.p > g.p THEN 1 ELSE 0 END) DESC, f.a)
         AS BIGINT) AS schulze_rank
FROM {prev} f JOIN {prev} g ON g.a = f.b AND g.b = f.a
GROUP BY f.a
ORDER BY schulze_rank
"""


@_register("schulze_beatpath_ranking", _schulze_oracle())
def schulze_beatpath_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schulze beatpath (widest-path) election over the top-5 brands by
    revenue: every customer is a voter whose ballot ranks the five
    candidate brands by their spend on each (missing = 0, strict
    preferences only), the pairwise matrix d[a][b] counts voters
    preferring a to b, and the Schulze winner relation compares
    STRONGEST PATHS p[a][b] (Floyd-Warshall with max/min instead of
    min/+, 5 relax rounds over the 5x5 matrix). This is the
    Condorcet-completion member of the preference-aggregation family
    (copeland_condorcet_ranking does direct pairwise wins; Schulze
    resolves its cycles via beatpaths). All counts are int64; the
    matrix never exceeds candidates^2 rows regardless of data volume.
    Scale shape: one (customer, brand) aggregate, a candidates^2
    pairwise aggregate over a customer-keyed self-join, then
    constant-size relaxation; the 5-row candidate list is collected to
    drive the bounded pivot loop (same bounded-collect pattern as the
    IVF probe lists)."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    o = _t(spark, sf_dir, "orders")
    li = l.join(p, l["l_partkey"] == p["p_partkey"]).select(
        "l_orderkey", "p_brand", _cents("l_extendedprice").alias("c")
    )
    byrev = li.groupBy(F.col("p_brand").alias("brand")).agg(
        F.sum("c").cast("long").alias("rev")
    )
    cands_rows = (
        byrev.orderBy(F.col("rev").desc(), "brand").limit(5).collect()
    )
    cand_names = sorted(r["brand"] for r in cands_rows)
    cands = spark.createDataFrame(
        [(b, i + 1) for i, b in enumerate(cand_names)], "brand string, rn int"
    )
    spend = (
        li.join(F.broadcast(cands), li["p_brand"] == cands["brand"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy(F.col("o_custkey").alias("cust"), "brand")
        .agg(F.sum("c").cast("long").alias("s"))
    )
    voters = spend.select("cust").distinct()
    grid = (
        voters.crossJoin(F.broadcast(cands.select("brand")))
        .join(spend, ["cust", "brand"], "left")
        .select("cust", "brand", F.coalesce("s", F.lit(0)).alias("s"))
    )
    ga = grid.select(
        F.col("cust").alias("cu"), F.col("brand").alias("a"), F.col("s").alias("sa")
    )
    gb = grid.select(
        F.col("cust").alias("cu"), F.col("brand").alias("b"), F.col("s").alias("sb")
    )
    d = (
        ga.join(gb, "cu")
        .filter(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(
            F.sum(F.when(F.col("sa") > F.col("sb"), 1).otherwise(0))
            .cast("long")
            .alias("d")
        )
    )
    dr = d.select(F.col("a").alias("b"), F.col("b").alias("a"), F.col("d").alias("dr"))
    pmat = (
        d.join(dr, ["a", "b"])
        .select(
            "a",
            "b",
            F.when(F.col("d") > F.col("dr"), F.col("d"))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("p"),
        )
        .localCheckpoint(eager=False)
    )
    for kb in cand_names:
        x = pmat.filter(F.col("b") == kb).select(
            F.col("a").alias("xa"), F.col("p").alias("xp")
        )
        y = pmat.filter(F.col("a") == kb).select(
            F.col("b").alias("yb"), F.col("p").alias("yp")
        )
        pmat = (
            pmat.join(F.broadcast(x), pmat["a"] == x["xa"], "left")
            .join(F.broadcast(y), pmat["b"] == y["yb"], "left")
            .select(
                "a",
                "b",
                F.greatest(
                    F.col("p"),
                    F.least(
                        F.coalesce("xp", F.lit(0)), F.coalesce("yp", F.lit(0))
                    ),
                ).alias("p"),
            )
            .localCheckpoint(eager=False)
        )
    rev = pmat.select(
        F.col("a").alias("b"), F.col("b").alias("a"), F.col("p").alias("pr")
    )
    wins = (
        pmat.join(rev, ["a", "b"])
        .groupBy(F.col("a").alias("candidate"))
        .agg(
            F.sum(F.when(F.col("p") > F.col("pr"), 1).otherwise(0))
            .cast("long")
            .alias("wins")
        )
    )
    return wins.select(
        "candidate",
        "wins",
        F.row_number()
        .over(W.orderBy(F.col("wins").desc(), "candidate"))
        .cast("long")
        .alias("schulze_rank"),
    ).orderBy("schulze_rank")


# ===========================================================================
# Causal: synthetic control via inverse-distance donor weights
# ===========================================================================

_SYNTH_ORACLE = """
WITH monthly AS (
  SELECT c.c_nationkey AS nk, date_trunc('month', o.o_orderdate) AS m,
         CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) // 100000
              AS BIGINT) AS rev
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  GROUP BY 1, 2
),
months AS (
  SELECT m, row_number() OVER (ORDER BY m) AS i, count(*) OVER () AS mm
  FROM (SELECT DISTINCT m FROM monthly)
),
pre AS (SELECT m FROM months WHERE i <= (mm * 3) // 5),
post AS (SELECT m FROM months WHERE i > (mm * 3) // 5),
treated AS (
  SELECT m, rev FROM monthly WHERE nk = 0
),
ssd AS (
  SELECT d.nk,
         CAST(sum((t.rev - d.rev) * (t.rev - d.rev)) AS BIGINT) AS ssd
  FROM monthly d
  JOIN treated t ON t.m = d.m
  JOIN pre p ON p.m = d.m
  WHERE d.nk <> 0
  GROUP BY 1
),
inv AS (
  SELECT nk, CAST(1000000000000 // (1000000 + ssd) AS BIGINT) AS iv
  FROM ssd
),
w AS (
  SELECT nk, CAST(1000000 * iv // (SELECT sum(iv) FROM inv) AS BIGINT)
           AS w_ppm
  FROM inv
),
synth AS (
  SELECT d.m, CAST(sum(w.w_ppm * d.rev) // 1000000 AS BIGINT) AS synth_rev
  FROM monthly d JOIN w ON w.nk = d.nk
  GROUP BY 1
)
SELECT CAST(t.m AS DATE) AS month,
       t.rev AS treated_rev_k,
       s.synth_rev AS synth_rev_k,
       t.rev - s.synth_rev AS gap_k
FROM treated t
JOIN synth s ON s.m = t.m
JOIN post p ON p.m = t.m
ORDER BY month
"""


@_register("synthetic_control_distance_weights", _SYNTH_ORACLE)
def synthetic_control_distance_weights(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Synthetic-control counterfactual for nation 0's monthly revenue:
    donor nations are weighted by inverse squared pre-period distance
    to the treated series (the deterministic distance-weighted variant
    of Abadie's estimator — the constrained-regression weight solve is
    replaced by w_j proportional to 1/(1+SSD_j), normalized to ppm),
    and the post-period gap treated - synthetic is the effect read-out.
    Complements difference_in_differences (which uses an unweighted
    donor mean) by letting pre-period FIT pick the comparison units.
    Revenue is bucketed to integer k$, distances/weights are bigint
    ratios, so the whole estimator carries a value oracle. Scale
    shape: one (nation, month) aggregate; every later frame is bounded
    by donors x months."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    monthly = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy(
            F.col("c_nationkey").alias("nk"),
            F.date_trunc("month", "o_orderdate").alias("m"),
        )
        .agg(
            F.expr(
                "CAST(sum(CAST(CASE WHEN o_totalprice >= 0"
                " THEN floor(o_totalprice * 100 + 0.5)"
                " ELSE -floor(-(o_totalprice) * 100 + 0.5) END AS BIGINT))"
                " div 100000 AS BIGINT)"
            ).alias("rev")
        )
        .localCheckpoint(eager=False)
    )
    months = (
        monthly.select("m")
        .distinct()
        .select(
            "m",
            F.row_number().over(W.orderBy("m")).alias("i"),
            F.count(F.lit(1)).over(W.partitionBy()).alias("mm"),
        )
    )
    pre = months.filter(F.expr("i <= (mm * 3) div 5")).select("m")
    post = months.filter(F.expr("i > (mm * 3) div 5")).select("m")
    treated = monthly.filter(F.col("nk") == 0).select(
        "m", F.col("rev").alias("trev")
    )
    ssd = (
        monthly.filter(F.col("nk") != 0)
        .join(F.broadcast(treated), "m")
        .join(F.broadcast(pre), "m")
        .groupBy("nk")
        .agg(
            F.sum(F.expr("(trev - rev) * (trev - rev)"))
            .cast("long")
            .alias("ssd")
        )
    )
    inv = ssd.select(
        "nk", F.expr("CAST(1000000000000 div (1000000 + ssd) AS BIGINT)").alias("iv")
    )
    tot = inv.agg(F.sum("iv").cast("long").alias("tiv"))
    w = inv.crossJoin(F.broadcast(tot)).select(
        "nk", F.expr("CAST(1000000 * iv div tiv AS BIGINT)").alias("w_ppm")
    )
    synth = (
        monthly.join(F.broadcast(w), "nk")
        .groupBy("m")
        .agg(
            F.expr("CAST(sum(w_ppm * rev) div 1000000 AS BIGINT)").alias(
                "synth_rev"
            )
        )
    )
    return (
        treated.join(synth, "m")
        .join(F.broadcast(post), "m")
        .select(
            F.col("m").cast("date").alias("month"),
            F.col("trev").alias("treated_rev_k"),
            F.col("synth_rev").alias("synth_rev_k"),
            (F.col("trev") - F.col("synth_rev")).alias("gap_k"),
        )
        .orderBy("month")
    )


# ===========================================================================
# Long-range dependence: rescaled-range (R/S) Hurst exponent
# ===========================================================================

_HURST_ORACLE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) // 100 AS BIGINT)
           AS x
  FROM events WHERE event_type = 'purchase'
  GROUP BY 1
),
idx AS (
  SELECT x, row_number() OVER (ORDER BY d) AS i FROM daily
),
sizes AS (SELECT unnest([5, 10, 15]) AS s),
cells AS (
  SELECT z.s, (i.i - 1) // z.s AS b, (i.i - 1) % z.s + 1 AS k, i.x,
         sum(i.x) OVER (PARTITION BY z.s, (i.i - 1) // z.s
                        ORDER BY i.i) AS cumx
  FROM idx i CROSS JOIN sizes z
  WHERE i.i <= ((SELECT count(*) FROM idx) // z.s) * z.s
),
blk AS (
  SELECT s, b, CAST(sum(x) AS BIGINT) AS sb,
         CAST(sum(x * x) AS BIGINT) AS qb
  FROM cells GROUP BY 1, 2
),
dev AS (
  SELECT c.s, c.b, c.s * c.cumx - c.k * k.sb AS cum, k.sb, k.qb
  FROM cells c JOIN blk k ON k.s = c.s AND k.b = c.b
),
rs AS (
  SELECT s, b,
         CAST(max(cum) - min(cum) AS DOUBLE)
           / sqrt(CAST(max(s) * max(qb) - max(sb) * max(sb) AS DOUBLE))
           AS rsv
  FROM dev GROUP BY 1, 2
),
per AS (
  SELECT s, CAST(count(*) AS BIGINT) AS n_blocks,
         CAST(sum(CAST(round(rsv, 8) AS DECIMAL(38,8))) AS DOUBLE)
           / count(*) AS rs_mean
  FROM rs GROUP BY 1
),
fit AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         CAST(sum(CAST(round(ln(s), 10) AS DECIMAL(38,10))) AS DOUBLE)
           AS sx,
         CAST(sum(CAST(round(ln(rs_mean), 10) AS DECIMAL(38,10)))
              AS DOUBLE) AS sy,
         CAST(sum(CAST(round(ln(s) * ln(s), 10) AS DECIMAL(38,10)))
              AS DOUBLE) AS sxx,
         CAST(sum(CAST(round(ln(s) * ln(rs_mean), 10) AS DECIMAL(38,10)))
              AS DOUBLE) AS sxy
  FROM per
)
SELECT p.s AS block_size,
       p.n_blocks,
       round(p.rs_mean, 4) AS rs_mean,
       round((f.k * f.sxy - f.sx * f.sy)
             / (f.k * f.sxx - f.sx * f.sx), 6) AS hurst_exponent
FROM per p CROSS JOIN fit f
ORDER BY p.s
"""


@_register("rescaled_range_hurst", _HURST_ORACLE)
def rescaled_range_hurst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent by rescaled-range (R/S) analysis of the daily
    purchase-revenue series: for block sizes {5,10,15} the series
    splits into consecutive blocks, each block contributes R/S =
    (range of cumulative mean-deviations) / stddev, and H is the
    log-log OLS slope of mean R/S against block size (H ~ 0.5 random
    walk, > 0.5 persistent/trending, < 0.5 mean-reverting) — the
    long-memory member of the time-series diagnostics family
    (dickey_fuller tests a unit root at lag 1; R/S reads dependence
    across SCALES). The inner sums stay exact: cum_k = s*CumX_k - k*S
    is pure int64 (no mean rounding), s*Q - S^2 likewise, so each
    block's R/S is one deterministic double; block means use
    decimal-rounded sums. Scale shape: one daily aggregate, then
    windows over a 30-row-per-size frame — constant beyond the scan."""
    daily = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("d"))
        .agg(
            F.expr(
                "CAST(sum(CAST(CASE WHEN value >= 0"
                " THEN floor(value * 100 + 0.5)"
                " ELSE -floor(-(value) * 100 + 0.5) END AS BIGINT))"
                " div 100 AS BIGINT)"
            ).alias("x")
        )
    )
    idx = daily.select(
        "x",
        F.row_number().over(W.orderBy("d")).alias("i"),
        F.count(F.lit(1)).over(W.partitionBy()).alias("nd"),
    )
    sizes = spark.createDataFrame([(5,), (10,), (15,)], "s int")
    cells = (
        idx.crossJoin(F.broadcast(sizes))
        .filter(F.expr("i <= (nd div s) * s"))
        .select(
            "s",
            F.expr("(i - 1) div s").alias("b"),
            F.expr("(i - 1) % s + 1").alias("k"),
            "x",
            "i",
        )
    )
    cells = cells.withColumn(
        "cumx",
        F.sum("x").over(W.partitionBy("s", "b").orderBy("i")),
    )
    blk = cells.groupBy("s", "b").agg(
        F.sum("x").cast("long").alias("sb"),
        F.sum(F.expr("x * x")).cast("long").alias("qb"),
    )
    dev = cells.join(blk, ["s", "b"]).select(
        "s", "b", F.expr("s * cumx - k * sb").alias("cum"), "sb", "qb"
    )
    rs = dev.groupBy("s", "b").agg(
        F.expr(
            "CAST(max(cum) - min(cum) AS DOUBLE)"
            " / sqrt(CAST(max(s) * max(qb) - max(sb) * max(sb) AS DOUBLE))"
        ).alias("rsv")
    )
    per = rs.groupBy("s").agg(
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
        F.expr(
            "CAST(sum(CAST(round(rsv, 8) AS DECIMAL(38,8))) AS DOUBLE)"
            " / count(*)"
        ).alias("rs_mean"),
    )
    fit = per.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.expr(
            "CAST(sum(CAST(round(ln(s), 10) AS DECIMAL(38,10))) AS DOUBLE)"
        ).alias("sx"),
        F.expr(
            "CAST(sum(CAST(round(ln(rs_mean), 10) AS DECIMAL(38,10)))"
            " AS DOUBLE)"
        ).alias("sy"),
        F.expr(
            "CAST(sum(CAST(round(ln(s) * ln(s), 10) AS DECIMAL(38,10)))"
            " AS DOUBLE)"
        ).alias("sxx"),
        F.expr(
            "CAST(sum(CAST(round(ln(s) * ln(rs_mean), 10)"
            " AS DECIMAL(38,10))) AS DOUBLE)"
        ).alias("sxy"),
    )
    return (
        per.crossJoin(F.broadcast(fit))
        .select(
            F.col("s").cast("int").alias("block_size"),
            "n_blocks",
            F.round("rs_mean", 4).alias("rs_mean"),
            F.round(
                F.expr("(k * sxy - sx * sy) / (k * sxx - sx * sx)"), 6
            ).alias("hurst_exponent"),
        )
        .orderBy("block_size")
    )


# ===========================================================================
# Sequence alignment: LCS of daily modal-event-type sequences
# ===========================================================================

_LCS_ORACLE = """
WITH RECURSIVE counts AS (
  SELECT user_id % 2 AS g, CAST(ts AS DATE) AS d, event_type,
         count(*) AS c
  FROM events GROUP BY 1, 2, 3
),
modal AS (
  SELECT g, d, event_type,
         row_number() OVER (PARTITION BY g, d
                            ORDER BY c DESC, event_type) AS rn
  FROM counts
),
seqs AS (
  SELECT max(CASE WHEN g = 0 THEN sq END) AS a,
         max(CASE WHEN g = 1 THEN sq END) AS b
  FROM (
    SELECT g, list(event_type ORDER BY d) AS sq
    FROM modal WHERE rn = 1 GROUP BY g
  )
),
dims AS (SELECT a, b, len(a) AS n, len(b) AS m FROM seqs),
rec AS (
  SELECT 0 AS d, CAST([0] AS BIGINT[]) AS cur,
         CAST([] AS BIGINT[]) AS prev, n, m, a, b
  FROM dims
  UNION ALL
  SELECT d + 1,
         [ CASE WHEN i = 0 OR d + 1 - i = 0 THEN CAST(0 AS BIGINT)
                WHEN a[i] = b[d + 1 - i]
                THEN prev[i - 1 - greatest(0, d - 1 - m) + 1] + 1
                ELSE greatest(cur[i - 1 - greatest(0, d - m) + 1],
                              cur[i - greatest(0, d - m) + 1])
           END
           for i in range(greatest(0, d + 1 - m), least(n, d + 1) + 1) ],
         cur, n, m, a, b
  FROM rec WHERE d < n + m
)
SELECT CAST(n AS BIGINT) AS n_a,
       CAST(m AS BIGINT) AS n_b,
       CAST(cur[1] AS BIGINT) AS lcs_len,
       CAST(2000 * cur[1] // (n + m) AS BIGINT) AS similarity_milli
FROM rec WHERE d = n + m
"""


@_register("lcs_event_type_sequences", _LCS_ORACLE)
def lcs_event_type_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest common subsequence between the two cohorts' daily modal
    event-type sequences (users split by id parity; per day, each
    cohort's most frequent event type with deterministic ties): the
    classic O(n*m) alignment DP, run ENTIRELY inside SQL engines with
    no procedural code — the Spark lane folds a DP row across the
    sequence with nested higher-order aggregate() lambdas; the oracle
    walks ANTI-DIAGONALS in a recursive CTE (cells on a diagonal
    depend only on the previous two diagonals, so each level is one
    data-parallel list comprehension — the same wavefront trick GPU
    DP kernels use). Sequence length is calendar-bounded (30), so the
    DP is constant-size; the data-sized work is the (cohort, day,
    type) modal aggregate feeding it. Complements
    fuzzy_join_blocked_levenshtein (edit distance on strings) and
    dtw_alignment_distance (numeric warping) with the subsequence
    member of the alignment family."""
    counts = (
        _t(spark, sf_dir, "events")
        .groupBy(
            (F.col("user_id") % 2).alias("g"),
            F.to_date("ts").alias("d"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    modal = counts.withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("g", "d").orderBy(F.col("c").desc(), "event_type")
        ),
    ).filter(F.col("rn") == 1)
    seq = modal.groupBy("g").agg(
        F.expr(
            "transform(sort_array(collect_list(struct(d, event_type))),"
            " r -> r.event_type)"
        ).alias("sq")
    )
    ab = seq.agg(
        F.max(F.when(F.col("g") == 0, F.col("sq"))).alias("a"),
        F.max(F.when(F.col("g") == 1, F.col("sq"))).alias("b"),
    ).select("a", "b", F.size("a").alias("n"), F.size("b").alias("m"))
    return ab.select(
        F.col("n").cast("long").alias("n_a"),
        F.col("m").cast("long").alias("n_b"),
        F.expr(
            "element_at(aggregate(a,"
            " transform(sequence(0, m), z -> CAST(0 AS BIGINT)),"
            " (prev, el) -> aggregate(sequence(1, m),"
            "   array(CAST(0 AS BIGINT)),"
            "   (nr, j) -> array_append(nr,"
            "     IF(element_at(b, j) = el,"
            "        element_at(prev, j) + 1,"
            "        greatest(element_at(prev, j + 1),"
            "                 element_at(nr, j))))))"
            ", m + 1)"
        ).alias("lcs_len"),
        F.expr(
            "CAST(2000 * element_at(aggregate(a,"
            " transform(sequence(0, m), z -> CAST(0 AS BIGINT)),"
            " (prev, el) -> aggregate(sequence(1, m),"
            "   array(CAST(0 AS BIGINT)),"
            "   (nr, j) -> array_append(nr,"
            "     IF(element_at(b, j) = el,"
            "        element_at(prev, j) + 1,"
            "        greatest(element_at(prev, j + 1),"
            "                 element_at(nr, j))))))"
            ", m + 1) div (n + m) AS BIGINT)"
        ).alias("similarity_milli"),
    )


# ===========================================================================
# Text: TextRank keyword scores over the token co-occurrence graph
# ===========================================================================

def _textrank_oracle(iterations: int = 3) -> str:
    """Same unrolled scaled-integer PageRank CTE ladder as q_graph's
    _pagerank_oracle (leak formulation — the symmetrized co-occurrence
    graph has no dangling sources), over word-adjacency edges."""
    its = []
    prev = "pr0"
    for i in range(1, iterations + 1):
        its.append(f"""
it{i} AS (
  SELECT n2.node,
         (15 * CAST(1000000000000 AS BIGINT)) // (100 * nn.n)
         + (85 * coalesce(s.s, 0)) // 100 AS pr
  FROM nodes n2 CROSS JOIN nn
  LEFT JOIN (SELECT e.dst AS node, sum(p.pr // d.deg) AS s
             FROM edges e
             JOIN {prev} p ON p.node = e.src
             JOIN deg d ON d.src = e.src
             GROUP BY e.dst) s ON s.node = n2.node
)""")
        prev = f"it{i}"
    its_sql = ",".join(its)
    return f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                     t -> length(t) >= 3) AS ts
  FROM documents WHERE text IS NOT NULL
),
e0 AS (
  SELECT DISTINCT p.g.a AS src, p.g.b AS dst
  FROM (
    SELECT unnest([ {{'a': ts[i], 'b': ts[i + 1]}}
                    for i in range(1, len(ts)) ]) AS g
    FROM toks
  ) p
  WHERE p.g.a <> p.g.b
),
edges AS (
  SELECT src, dst FROM e0
  UNION
  SELECT dst AS src, src AS dst FROM e0
),
nodes AS (SELECT DISTINCT src AS node FROM edges),
nn AS (SELECT count(*) AS n FROM nodes),
deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
pr0 AS (
  SELECT node, CAST(1000000000000 AS BIGINT) // nn.n AS pr
  FROM nodes CROSS JOIN nn
),{its_sql}
SELECT node AS keyword, CAST(pr AS BIGINT) AS pr FROM {prev}
ORDER BY pr DESC, node
LIMIT 20
"""


@_register("textrank_keyword_scores", _textrank_oracle())
def textrank_keyword_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau): PageRank over the
    word co-occurrence graph — vertices are corpus tokens (letters
    only, length >= 3), edges link ADJACENT tokens within a document,
    symmetrized and deduplicated — with the catalog's scaled-integer
    3-iteration power method (operators/graph.pagerank_fixed_iterations,
    'leak' treatment: symmetric graph, no dangling mass). The top-20
    ranked tokens are the corpus keywords; unlike tfidf_top_terms
    (frequency-contrast) and rake_keyphrase_scores (degree/frequency
    within phrases), TextRank scores CENTRALITY in the adjacency
    graph, the eigenvector notion the paper showed beats raw counts.
    Scale shape: token bigrams are a narrow zip over each doc's token
    array (no per-token shuffle); the edge list dedups with one
    shuffle; each iteration is edge-join + dst-aggregate; vocabulary,
    not corpus, bounds the rank vector."""
    toks = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select(
            F.expr(
                "filter(split(lower(text), '[^a-z]+'), t -> length(t) >= 3)"
            ).alias("ts")
        )
    )
    e0 = (
        toks.select(
            F.explode(
                F.expr(
                    "zip_with(slice(ts, 1, greatest(size(ts) - 1, 0)),"
                    " slice(ts, 2, greatest(size(ts) - 1, 0)),"
                    " (x, y) -> struct(x AS src, y AS dst))"
                )
            ).alias("g")
        )
        .select("g.src", "g.dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    pr = pagerank_fixed_iterations(undirected(e0).distinct(), dangling="leak")
    return (
        pr.orderBy(F.col("pr").desc(), F.col("node"))
        .limit(20)
        .select(F.col("node").alias("keyword"), F.col("pr"))
    )


# ===========================================================================
# Graph: bounded-depth Brandes betweenness from sampled sources
# ===========================================================================

_BETWEENNESS_ORACLE = """
WITH RECURSIVE e0 AS (
  SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS src,
                  's' || CAST(l.l_suppkey AS VARCHAR) AS dst
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderkey % 10 = 0
),
edges AS (
  SELECT src, dst FROM e0
  UNION
  SELECT dst AS src, src AS dst FROM e0
),
seeds AS (
  SELECT src AS s FROM (
    SELECT DISTINCT src FROM edges WHERE src LIKE 'c%'
    ORDER BY src LIMIT 3
  )
),
walk AS (
  SELECT s AS seed, s AS node, 0 AS d FROM seeds
  UNION ALL
  SELECT w.seed, e.dst, w.d + 1
  FROM walk w JOIN edges e ON e.src = w.node
  WHERE w.d < 4
),
dist AS MATERIALIZED (
  SELECT seed, node, min(d) AS d FROM walk GROUP BY 1, 2
),
sigma AS MATERIALIZED (
  SELECT w.seed, w.node, t.d, CAST(count(*) AS BIGINT) AS sig
  FROM walk w JOIN dist t ON t.seed = w.seed AND t.node = w.node
                          AND t.d = w.d
  GROUP BY 1, 2, 3
),
dag AS MATERIALIZED (
  SELECT s1.seed, s1.node AS v, s2.node AS w2,
         s1.sig AS sv, s2.sig AS sw
  FROM sigma s1
  JOIN edges e ON e.src = s1.node
  JOIN sigma s2 ON s2.seed = s1.seed AND s2.node = e.dst
                AND s2.d = s1.d + 1
),
d3 AS MATERIALIZED (
  SELECT g.seed, g.v, CAST(sum(g.sv * 1000 // g.sw) AS BIGINT) AS delta
  FROM dag g
  JOIN dist t ON t.seed = g.seed AND t.node = g.v AND t.d = 3
  GROUP BY 1, 2
),
d2 AS MATERIALIZED (
  SELECT g.seed, g.v,
         CAST(sum(g.sv * (1000 + coalesce(x.delta, 0)) // g.sw)
              AS BIGINT) AS delta
  FROM dag g
  JOIN dist t ON t.seed = g.seed AND t.node = g.v AND t.d = 2
  LEFT JOIN d3 x ON x.seed = g.seed AND x.v = g.w2
  GROUP BY 1, 2
),
d1 AS MATERIALIZED (
  SELECT g.seed, g.v,
         CAST(sum(g.sv * (1000 + coalesce(x.delta, 0)) // g.sw)
              AS BIGINT) AS delta
  FROM dag g
  JOIN dist t ON t.seed = g.seed AND t.node = g.v AND t.d = 1
  LEFT JOIN d2 x ON x.seed = g.seed AND x.v = g.w2
  GROUP BY 1, 2
),
alldelta AS (
  SELECT seed, v, delta FROM d1
  UNION ALL SELECT seed, v, delta FROM d2
  UNION ALL SELECT seed, v, delta FROM d3
)
SELECT v AS node, CAST(sum(delta) AS BIGINT) AS bc_milli
FROM alldelta
GROUP BY v
ORDER BY bc_milli DESC, node
LIMIT 15
"""


@_register("betweenness_sampled_sources", _BETWEENNESS_ORACLE)
def betweenness_sampled_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled-source, depth-bounded Brandes betweenness centrality over
    the thinned customer<->supplier graph: from 3 deterministic seed
    sources, a BFS computes distance AND shortest-path counts sigma,
    then dependencies accumulate BACKWARD down the shortest-path DAG
    (delta(v) = sum over DAG successors w of sigma_v/sigma_w *
    (1 + delta(w)), here in milli-units with per-edge floor division
    so both engines sum identical bigints). This is Brandes'
    algorithm as published — the sampling (pivot sources) and the
    depth cap (4) are the standard approximations that make
    betweenness tractable at graph scale, and they're what a
    1000-executor run would ship. The oracle enumerates shortest
    paths by bounded-depth walk recursion (sigma = count of minimal-
    depth walk rows — UNION ALL recursion counts paths for free);
    the Spark lane aggregates sigma level-by-level instead (one
    frontier join + sum per level, never materializing paths), so the
    two lanes are genuinely independent implementations of the same
    quantity. Completes the centrality family: degree/pagerank/katz/
    HITS measure connection mass, betweenness measures BROKERAGE.
    Scale shape: 5 bounded frontier joins forward, 3 backward, each
    shuffling on node keys; localCheckpoint per level."""
    edges = undirected(trade_edges(spark, sf_dir, 10)).localCheckpoint(
        eager=False
    )
    seeds = (
        edges.filter(F.col("src").startswith("c"))
        .select("src")
        .distinct()
        .orderBy("src")
        .limit(3)
        .select(F.col("src").alias("seed"))
    )
    # forward: per-level frontier carrying (seed, node, sigma); visited set
    # keeps only the FIRST (minimal) level per (seed, node)
    frontier = seeds.select(
        "seed", F.col("seed").alias("node"), F.lit(1).cast("long").alias("sig")
    ).localCheckpoint(eager=False)
    levels = [frontier.withColumn("d", F.lit(0))]
    visited = frontier.select("seed", "node").localCheckpoint(eager=False)
    for depth in range(1, 5):
        nxt = (
            frontier.join(edges, frontier["node"] == edges["src"])
            .groupBy("seed", F.col("dst").alias("node2"))
            .agg(F.sum("sig").alias("sig"))
            .withColumnRenamed("node2", "node")
            .join(visited, ["seed", "node"], "left_anti")
            .localCheckpoint(eager=False)
        )
        levels.append(nxt.withColumn("d", F.lit(depth)))
        visited = visited.unionByName(nxt.select("seed", "node")).localCheckpoint(
            eager=False
        )
        frontier = nxt
    sigma = levels[0]
    for lv in levels[1:]:
        sigma = sigma.unionByName(lv)
    sigma = sigma.localCheckpoint(eager=False)
    sv = sigma.select("seed", F.col("node").alias("v"), "sig", "d")
    sw = sigma.select(
        "seed",
        F.col("node").alias("w2"),
        F.col("sig").alias("sigw"),
        F.col("d").alias("dw"),
    )
    dag = (
        sv.join(edges, sv["v"] == edges["src"])
        .join(
            sw,
            (sv["seed"] == sw["seed"])
            & (edges["dst"] == sw["w2"])
            & (sw["dw"] == sv["d"] + 1),
        )
        .select(sv["seed"], "v", "d", "w2", "sig", "sigw")
        .localCheckpoint(eager=False)
    )
    delta = None
    for depth in (3, 2, 1):
        lvl = dag.filter(F.col("d") == depth)
        if delta is None:
            cur = lvl.groupBy("seed", "v").agg(
                F.sum(F.expr("sig * 1000 div sigw")).cast("long").alias("delta")
            )
        else:
            dl = delta.select(
                F.col("seed").alias("sd"),
                F.col("v").alias("dv"),
                F.col("delta").alias("dnext"),
            )
            cur = (
                lvl.join(
                    dl,
                    (lvl["seed"] == dl["sd"]) & (lvl["w2"] == dl["dv"]),
                    "left",
                )
                .groupBy("seed", "v")
                .agg(
                    F.sum(
                        F.expr("sig * (1000 + coalesce(dnext, 0)) div sigw")
                    )
                    .cast("long")
                    .alias("delta")
                )
            )
        cur = cur.localCheckpoint(eager=False)
        allcur = cur if depth == 3 else allcur.unionByName(cur)
        delta = cur
    return (
        allcur.groupBy(F.col("v").alias("node"))
        .agg(F.sum("delta").cast("long").alias("bc_milli"))
        .orderBy(F.col("bc_milli").desc(), "node")
        .limit(15)
    )


# ===========================================================================
# Graph: distributed greedy maximal matching (local-minimum rounds)
# ===========================================================================

def _matching_oracle(rounds: int = 3) -> str:
    """Unrolled local-min matching rounds. An edge joins the matching
    when its (priority, src, dst) tuple is rank-1 inside BOTH endpoint
    neighborhoods — two selected edges can never share an endpoint
    (the shared endpoint's rank-1 edge is unique), so each round adds
    an independent edge set, exactly Luby-style symmetry breaking with
    a deterministic md5 priority instead of randomness."""
    blocks = []
    prev = "e1"
    sels = []
    for r in range(1, rounds + 1):
        sels.append(f"m{r}")
        nxt = f"e{r + 1}"
        blocks.append(f"""
m{r} AS MATERIALIZED (
  SELECT src, dst FROM (
    SELECT src, dst,
           row_number() OVER (PARTITION BY src ORDER BY h, src, dst)
             AS rs,
           row_number() OVER (PARTITION BY dst ORDER BY h, src, dst)
             AS rd
    FROM {prev}
  ) WHERE rs = 1 AND rd = 1
),
v{r} AS MATERIALIZED (
  SELECT src AS v FROM m{r} UNION SELECT dst AS v FROM m{r}
),
{nxt} AS MATERIALIZED (
  SELECT e.src, e.dst, e.h FROM {prev} e
  WHERE NOT EXISTS (SELECT 1 FROM v{r} x WHERE x.v = e.src)
    AND NOT EXISTS (SELECT 1 FROM v{r} y WHERE y.v = e.dst)
)""")
        prev = nxt
    blocks_sql = ",".join(blocks)
    per_round = " UNION ALL ".join(
        f"SELECT {r} AS rnd, CAST(count(*) AS BIGINT) AS matched FROM m{r}"
        for r in range(1, rounds + 1)
    )
    return f"""
WITH e0 AS (
  SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS src,
                  's' || CAST(l.l_suppkey AS VARCHAR) AS dst
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderkey % 10 = 0
),
e1 AS MATERIALIZED (
  SELECT src, dst,
         CAST('0x' || substr(md5(src || '|' || dst), 1, 15) AS BIGINT)
           AS h
  FROM e0
),
{blocks_sql},
rounds AS ({per_round}),
finalstate AS (
  SELECT CAST(count(*) AS BIGINT) AS remaining FROM {prev}
)
SELECT r.rnd AS round,
       r.matched AS matched_in_round,
       CAST(sum(r.matched) OVER (ORDER BY r.rnd) AS BIGINT)
         AS matched_cumulative,
       f.remaining AS edges_left_after_all
FROM rounds r CROSS JOIN finalstate f
ORDER BY r.rnd
"""


@_register("greedy_maximal_matching_rounds", _matching_oracle())
def greedy_maximal_matching_rounds(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Distributed greedy maximal matching on the thinned
    customer-supplier bipartite graph, 3 local-minimum rounds: every
    edge gets a deterministic md5 priority, a round selects each edge
    that is rank-1 within BOTH its endpoints' neighborhoods (such
    edges are pairwise non-adjacent — Luby-style symmetry breaking
    with hashes in place of coins, the textbook MIS/matching recipe
    for vertex-centric systems), matched vertices drop out, repeat.
    Complements stable_matching_assortative (preference-list
    matching) with the independent-set flavor a cluster actually
    runs: each round is two rank windows + two anti-joins, no
    sequential augmenting paths. Reports per-round matched counts
    and the leftover edge count (maximality progress). All values
    are exact bigints via the cross-engine md5 priority lane. Scale
    shape: per-round cost is two node-keyed windows over the live
    edge set, which shrinks geometrically in expectation."""
    e = (
        trade_edges(spark, sf_dir, 10)
        .select(
            "src",
            "dst",
            F.expr(
                "CAST(conv(substr(md5(src || '|' || dst), 1, 15), 16, 10)"
                " AS BIGINT)"
            ).alias("h"),
        )
        .localCheckpoint(eager=False)
    )
    per_round = []
    for rnd in range(1, 4):
        ranked = e.select(
            "src",
            "dst",
            "h",
            F.row_number()
            .over(W.partitionBy("src").orderBy("h", "src", "dst"))
            .alias("rs"),
            F.row_number()
            .over(W.partitionBy("dst").orderBy("h", "src", "dst"))
            .alias("rd"),
        )
        m = (
            ranked.filter((F.col("rs") == 1) & (F.col("rd") == 1))
            .select("src", "dst")
            .localCheckpoint(eager=False)
        )
        per_round.append(
            m.agg(F.count(F.lit(1)).cast("long").alias("matched")).select(
                F.lit(rnd).cast("long").alias("round"), "matched"
            )
        )
        v = (
            m.select(F.col("src").alias("v"))
            .unionByName(m.select(F.col("dst").alias("v")))
            .distinct()
        )
        e = (
            e.join(v.withColumnRenamed("v", "src"), "src", "left_anti")
            .join(v.withColumnRenamed("v", "dst"), "dst", "left_anti")
            .select("src", "dst", "h")
            .localCheckpoint(eager=False)
        )
    rounds = per_round[0]
    for pr in per_round[1:]:
        rounds = rounds.unionByName(pr)
    remaining = e.agg(F.count(F.lit(1)).cast("long").alias("remaining"))
    return (
        rounds.crossJoin(F.broadcast(remaining))
        .select(
            "round",
            F.col("matched").alias("matched_in_round"),
            F.sum("matched")
            .over(W.orderBy("round"))
            .cast("long")
            .alias("matched_cumulative"),
            F.col("remaining").alias("edges_left_after_all"),
        )
        .orderBy("round")
    )


# ===========================================================================
# Graph: all-pairs shortest paths by min-plus matrix doubling
# ===========================================================================

_APSP_ORACLE = """
WITH lead AS (
  SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
         CAST(date_diff('day', o.o_orderdate, l.l_shipdate) AS BIGINT)
           AS days
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  WHERE l.l_shipdate > o.o_orderdate
),
d0e AS (
  SELECT src, dst, CAST(sum(days) // count(*) AS BIGINT) AS w
  FROM lead WHERE src <> dst GROUP BY 1, 2
),
nodes AS MATERIALIZED (
  SELECT src AS v FROM d0e UNION SELECT dst AS v FROM d0e
),
d0 AS MATERIALIZED (
  SELECT src, dst, w FROM d0e
  UNION ALL
  SELECT v, v, CAST(0 AS BIGINT) FROM nodes
),
d1 AS MATERIALIZED (
  SELECT a.src, b.dst, CAST(min(a.w + b.w) AS BIGINT) AS w
  FROM d0 a JOIN d0 b ON b.src = a.dst GROUP BY 1, 2
),
d2 AS MATERIALIZED (
  SELECT a.src, b.dst, CAST(min(a.w + b.w) AS BIGINT) AS w
  FROM d1 a JOIN d1 b ON b.src = a.dst GROUP BY 1, 2
),
d3 AS MATERIALIZED (
  SELECT a.src, b.dst, CAST(min(a.w + b.w) AS BIGINT) AS w
  FROM d2 a JOIN d2 b ON b.src = a.dst GROUP BY 1, 2
)
SELECT CAST(src AS BIGINT) AS src_nation,
       CAST(dst AS BIGINT) AS dst_nation,
       w AS dist_days
FROM d3 WHERE src <> dst
ORDER BY dist_days DESC, src_nation, dst_nation
LIMIT 10
"""


@_register("apsp_min_plus_doubling", _APSP_ORACLE)
def apsp_min_plus_doubling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs shortest paths over the nation-level trade network by
    MIN-PLUS MATRIX DOUBLING: edge weight = average supplier-to-customer
    lead time (integer floor-div days), then three squarings of the
    distance matrix in the (min, +) semiring give exact shortest paths
    up to 8 hops — log-many rounds instead of the |V| rounds of the
    per-source frontier walk (sssp_weighted_frontier) and the V^3
    sequential pivots of Floyd-Warshall. Doubling is THE repeated-
    squaring trick for bulk-synchronous engines: each squaring is one
    self-join + min-aggregate on a |V|^2-bounded matrix. Output: the
    10 most-distant nation pairs. All arithmetic int64. Scale shape:
    the data-sized work is the one lead-time aggregate; the matrix is
    nation-bounded (25x25) no matter the corpus."""
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    lead = (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(s, l["l_suppkey"] == s["s_suppkey"])
        .filter(F.col("l_shipdate") > F.col("o_orderdate"))
        .select(
            F.col("s_nationkey").alias("src"),
            F.col("c_nationkey").alias("dst"),
            F.datediff("l_shipdate", "o_orderdate").cast("long").alias("days"),
        )
    )
    d0e = (
        lead.filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.expr("CAST(sum(days) div count(*) AS BIGINT)").alias("w"))
    )
    nodes = (
        d0e.select(F.col("src").alias("v"))
        .unionByName(d0e.select(F.col("dst").alias("v")))
        .distinct()
    )
    d = d0e.unionByName(
        nodes.select(
            F.col("v").alias("src"),
            F.col("v").alias("dst"),
            F.lit(0).cast("long").alias("w"),
        )
    ).localCheckpoint(eager=False)
    for _ in range(3):
        a = d.select(F.col("src"), F.col("dst").alias("mid"), F.col("w").alias("wa"))
        b = d.select(F.col("src").alias("mid"), F.col("dst"), F.col("w").alias("wb"))
        d = (
            a.join(b, "mid")
            .groupBy("src", "dst")
            .agg(F.min(F.expr("wa + wb")).cast("long").alias("w"))
            .localCheckpoint(eager=False)
        )
    return (
        d.filter(F.col("src") != F.col("dst"))
        .select(
            F.col("src").cast("long").alias("src_nation"),
            F.col("dst").cast("long").alias("dst_nation"),
            F.col("w").alias("dist_days"),
        )
        .orderBy(F.col("dist_days").desc(), "src_nation", "dst_nation")
        .limit(10)
    )


# ===========================================================================
# Inequality: Theil T and Atkinson(1) by region
# ===========================================================================

_INEQ_ORACLE = """
WITH spend AS (
  SELECT o.o_custkey AS cust,
         CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS x
  FROM orders o GROUP BY 1
),
tagged AS (
  SELECT r.r_name AS region, s.x
  FROM spend s
  JOIN customer c ON c.c_custkey = s.cust
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  JOIN region r ON r.r_regionkey = n.n_regionkey
  WHERE s.x > 0
),
g AS (
  SELECT region,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(CAST(round(ln(CAST(x AS DOUBLE)), 8) AS DECIMAL(38,8)))
              AS DOUBLE) AS slnx,
         CAST(sum(CAST(round(x * ln(CAST(x AS DOUBLE)), 2)
                       AS DECIMAL(38,2))) AS DOUBLE) AS sxlnx
  FROM tagged GROUP BY region
)
SELECT region, n,
       CAST(sx // n AS BIGINT) AS mean_cents,
       round(sxlnx / sx - ln(CAST(sx AS DOUBLE) / n), 6) AS theil_t,
       round(1.0 - exp(slnx / n) / (CAST(sx AS DOUBLE) / n), 6)
         AS atkinson_1
FROM g
ORDER BY region
"""


@_register("inequality_indices_panel", _INEQ_ORACLE)
def inequality_indices_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-region inequality panel over customer lifetime spend: Theil T
    (entropy-based, T = sum(x/Nmu * ln(x/mu)) = sum(x ln x)/sum(x) -
    ln(mu)) and Atkinson(1) (1 - geometric/arithmetic mean ratio) —
    the two WELFARE-theoretic members of the concentration family the
    catalog already measures positionally (lorenz_curve_deciles, gini,
    hoover_index_by_region, herfindahl): Theil decomposes additively,
    Atkinson has an explicit inequality-aversion parameter. Both
    reduce to three mergeable sums (x, ln x, x ln x), the log terms
    decimal-rounded so partial-aggregation order cannot drift the
    doubles. Scale shape: one per-customer aggregate, one region
    rollup — canonical map-side-combine work."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    spend = o.groupBy(F.col("o_custkey").alias("cust")).agg(
        F.sum(
            F.expr(
                "CAST(CASE WHEN o_totalprice >= 0"
                " THEN floor(o_totalprice * 100 + 0.5)"
                " ELSE -floor(-(o_totalprice) * 100 + 0.5) END AS BIGINT)"
            )
        )
        .cast("long")
        .alias("x")
    )
    tagged = (
        spend.filter(F.col("x") > 0)
        .join(c, spend["cust"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .select(F.col("r_name").alias("region"), "x")
    )
    g = tagged.groupBy("region").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.expr(
            "CAST(sum(CAST(round(ln(CAST(x AS DOUBLE)), 8) AS DECIMAL(38,8)))"
            " AS DOUBLE)"
        ).alias("slnx"),
        F.expr(
            "CAST(sum(CAST(round(x * ln(CAST(x AS DOUBLE)), 2)"
            " AS DECIMAL(38,2))) AS DOUBLE)"
        ).alias("sxlnx"),
    )
    return g.select(
        "region",
        "n",
        F.expr("CAST(sx div n AS BIGINT)").alias("mean_cents"),
        F.round(
            F.expr("sxlnx / sx - ln(CAST(sx AS DOUBLE) / n)"), 6
        ).alias("theil_t"),
        F.round(
            F.expr("1.0 - exp(slnx / n) / (CAST(sx AS DOUBLE) / n)"), 6
        ).alias("atkinson_1"),
    ).orderBy("region")


# ===========================================================================
# Complexity: Bandt-Pompe permutation entropy of the daily series
# ===========================================================================

_PERMENT_ORACLE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
  FROM events WHERE event_type = 'purchase' GROUP BY 1
),
seq AS (
  SELECT x,
         lead(x, 1) OVER (ORDER BY d) AS y,
         lead(x, 2) OVER (ORDER BY d) AS z
  FROM daily
),
pat AS (
  SELECT CAST(4 * (CASE WHEN x <= y THEN 1 ELSE 0 END)
              + 2 * (CASE WHEN y <= z THEN 1 ELSE 0 END)
              + (CASE WHEN x <= z THEN 1 ELSE 0 END) AS BIGINT)
           AS pattern_id
  FROM seq WHERE y IS NOT NULL AND z IS NOT NULL
),
cnt AS (
  SELECT pattern_id, CAST(count(*) AS BIGINT) AS c FROM pat GROUP BY 1
),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cnt),
h AS (
  SELECT CAST(sum(CAST(round(
           -1.0 * c * ln(CAST(c AS DOUBLE) / t.n), 8)
           AS DECIMAL(38,8))) AS DOUBLE) / max(t.n) AS hval
  FROM cnt CROSS JOIN tot t
)
SELECT c.pattern_id, c.c AS n_windows,
       CAST(1000 * c.c // t.n AS BIGINT) AS p_milli,
       round(h.hval, 6) AS perm_entropy_nats,
       round(h.hval / ln(6.0), 6) AS perm_entropy_norm
FROM cnt c CROSS JOIN tot t CROSS JOIN h
ORDER BY c.pattern_id
"""


@_register("permutation_entropy_ordinal", _PERMENT_ORACLE)
def permutation_entropy_ordinal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bandt-Pompe permutation entropy of the daily purchase-revenue
    series: every 3-day window maps to its ORDINAL PATTERN (the rank
    ordering of the three values, ties resolved to earlier-index-
    smaller via <= comparisons — encoded as the 3-bit comparison
    vector, 6 of 8 codes realizable), and the Shannon entropy of the
    pattern distribution, normalized by ln(3!), measures series
    complexity robustly to monotone transforms — the ordinal member
    of the complexity family (lz78_phrase_complexity is symbolic,
    sample/approx entropy metric). Patterns come from two lead()
    windows; entropy terms are exact-count ratios decimal-rounded
    before the 6-term sum. Scale shape: one daily aggregate, one
    6-row pattern rollup."""
    daily = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("d"))
        .agg(
            F.sum(
                F.expr(
                    "CAST(CASE WHEN value >= 0"
                    " THEN floor(value * 100 + 0.5)"
                    " ELSE -floor(-(value) * 100 + 0.5) END AS BIGINT)"
                )
            )
            .cast("long")
            .alias("x")
        )
    )
    w = W.orderBy("d")
    seq = daily.select(
        "x",
        F.lead("x", 1).over(w).alias("y"),
        F.lead("x", 2).over(w).alias("z"),
    )
    pat = seq.filter(
        F.col("y").isNotNull() & F.col("z").isNotNull()
    ).select(
        F.expr(
            "CAST(4 * (CASE WHEN x <= y THEN 1 ELSE 0 END)"
            " + 2 * (CASE WHEN y <= z THEN 1 ELSE 0 END)"
            " + (CASE WHEN x <= z THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("pattern_id")
    )
    cnt = pat.groupBy("pattern_id").agg(F.count(F.lit(1)).cast("long").alias("c"))
    tot = cnt.agg(F.sum("c").cast("long").alias("n"))
    h = (
        cnt.crossJoin(F.broadcast(tot))
        .agg(
            (
                F.expr(
                    "CAST(sum(CAST(round("
                    "-1.0 * c * ln(CAST(c AS DOUBLE) / n), 8)"
                    " AS DECIMAL(38,8))) AS DOUBLE)"
                )
                / F.max("n")
            ).alias("hval")
        )
    )
    return (
        cnt.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(h))
        .select(
            "pattern_id",
            F.col("c").alias("n_windows"),
            F.expr("CAST(1000 * c div n AS BIGINT)").alias("p_milli"),
            F.round("hval", 6).alias("perm_entropy_nats"),
            F.round(F.expr("hval / ln(6.0)"), 6).alias("perm_entropy_norm"),
        )
        .orderBy("pattern_id")
    )


# ===========================================================================
# Complexity: sample entropy (SampEn) of the daily series
# ===========================================================================

_SAMPEN_ORACLE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) // 100 AS BIGINT)
           AS x
  FROM events WHERE event_type = 'purchase' GROUP BY 1
),
idx AS (
  SELECT x, row_number() OVER (ORDER BY d) AS i,
         lead(x, 1) OVER (ORDER BY d) AS x1,
         lead(x, 2) OVER (ORDER BY d) AS x2
  FROM daily
),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS s,
         CAST(sum(x * x) AS BIGINT) AS q
  FROM idx
),
pairs AS (
  SELECT a.i AS i, b.i AS j,
         greatest((a.x - b.x) * (a.x - b.x),
                  (a.x1 - b.x1) * (a.x1 - b.x1)) AS d2m,
         greatest((a.x - b.x) * (a.x - b.x),
                  (a.x1 - b.x1) * (a.x1 - b.x1),
                  (a.x2 - b.x2) * (a.x2 - b.x2)) AS d2m1
  FROM idx a JOIN idx b ON b.i > a.i
  WHERE a.x2 IS NOT NULL AND b.x2 IS NOT NULL
),
cmp AS (
  SELECT CAST(sum(CASE WHEN 4 * s.n * s.n * p.d2m
                            <= s.n * s.q - s.s * s.s
                  THEN 1 ELSE 0 END) AS BIGINT) AS b,
         CAST(sum(CASE WHEN 4 * s.n * s.n * p.d2m1
                            <= s.n * s.q - s.s * s.s
                  THEN 1 ELSE 0 END) AS BIGINT) AS a
  FROM pairs p CROSS JOIN stats s
)
SELECT s.n AS n_days, c.b AS template_m2_matches,
       c.a AS template_m3_matches,
       CASE WHEN c.a > 0
            THEN round(ln(CAST(c.b AS DOUBLE) / c.a), 6) END AS sampen,
       CAST(CASE WHEN c.a = 0 THEN 1 ELSE 0 END AS BIGINT)
         AS undefined_flag
FROM cmp c CROSS JOIN stats s
"""


@_register("sample_entropy_daily", _SAMPEN_ORACLE)
def sample_entropy_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample entropy SampEn(m=2, r=0.5*sigma) of the daily purchase
    revenue series: count template pairs matching within Chebyshev
    tolerance r at length 2 (B) and length 3 (A); SampEn = ln(B/A) —
    low values mean new points are predictable from history, high
    values mean irregularity. The tolerance test stays EXACT by
    comparing squared distances against the exact variance with
    cleared denominators (4*n^2*d2 <= n*q - s^2 is the integer form
    of d <= 0.5*sigma), so A and B are bit-identical bigints in both
    engines and only the final log ratio is a double. The pairwise
    template join is calendar-bounded (30x30), never data-sized —
    the metric-entropy member of the complexity family next to the
    ordinal permutation entropy. Scale shape: one daily aggregate,
    one bounded self-join."""
    daily = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("d"))
        .agg(
            F.expr(
                "CAST(sum(CAST(CASE WHEN value >= 0"
                " THEN floor(value * 100 + 0.5)"
                " ELSE -floor(-(value) * 100 + 0.5) END AS BIGINT))"
                " div 100 AS BIGINT)"
            ).alias("x")
        )
    )
    w = W.orderBy("d")
    idx = daily.select(
        "x",
        F.row_number().over(w).alias("i"),
        F.lead("x", 1).over(w).alias("x1"),
        F.lead("x", 2).over(w).alias("x2"),
    ).localCheckpoint(eager=False)
    stats = idx.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
        F.sum(F.expr("x * x")).cast("long").alias("q"),
    )
    a = idx.select(
        F.col("i").alias("ia"),
        F.col("x").alias("ax"),
        F.col("x1").alias("ax1"),
        F.col("x2").alias("ax2"),
    )
    b = idx.select(
        F.col("i").alias("ib"),
        F.col("x").alias("bx"),
        F.col("x1").alias("bx1"),
        F.col("x2").alias("bx2"),
    )
    pairs = (
        a.crossJoin(F.broadcast(b))
        .filter(
            (F.col("ib") > F.col("ia"))
            & F.col("ax2").isNotNull()
            & F.col("bx2").isNotNull()
        )
        .select(
            F.expr(
                "greatest((ax - bx) * (ax - bx),"
                " (ax1 - bx1) * (ax1 - bx1))"
            ).alias("d2m"),
            F.expr(
                "greatest((ax - bx) * (ax - bx),"
                " (ax1 - bx1) * (ax1 - bx1),"
                " (ax2 - bx2) * (ax2 - bx2))"
            ).alias("d2m1"),
        )
    )
    cmp = pairs.crossJoin(F.broadcast(stats)).agg(
        F.sum(
            F.expr(
                "CASE WHEN 4 * n * n * d2m <= n * q - s * s"
                " THEN 1 ELSE 0 END"
            )
        )
        .cast("long")
        .alias("b"),
        F.sum(
            F.expr(
                "CASE WHEN 4 * n * n * d2m1 <= n * q - s * s"
                " THEN 1 ELSE 0 END"
            )
        )
        .cast("long")
        .alias("a"),
    )
    return cmp.crossJoin(F.broadcast(stats)).select(
        F.col("n").alias("n_days"),
        F.col("b").alias("template_m2_matches"),
        F.col("a").alias("template_m3_matches"),
        F.expr(
            "CASE WHEN a > 0"
            " THEN round(ln(CAST(b AS DOUBLE) / a), 6) END"
        ).alias("sampen"),
        F.expr("CAST(CASE WHEN a = 0 THEN 1 ELSE 0 END AS BIGINT)").alias(
            "undefined_flag"
        ),
    )


# ===========================================================================
# Dependence: lagged mutual information between two daily series
# ===========================================================================

_LAGMI_ORACLE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d,
         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              AS BIGINT) AS clicks,
         CAST(sum(CASE WHEN event_type = 'purchase'
                       THEN CAST(round(value * 100) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS rev
  FROM events GROUP BY 1
),
binned AS (
  SELECT d,
         CAST(ntile(3) OVER (ORDER BY clicks, d) AS BIGINT) AS cb,
         CAST(ntile(3) OVER (ORDER BY rev, d) AS BIGINT) AS rb
  FROM daily
),
lags AS (SELECT unnest([0, 1, 2, 3]) AS lag),
pairs AS MATERIALIZED (
  SELECT l.lag, a.cb, b.rb
  FROM binned a
  JOIN lags l ON TRUE
  JOIN binned b ON b.d = a.d + l.lag * INTERVAL '1 day'
),
joint AS MATERIALIZED (
  SELECT lag, cb, rb, CAST(count(*) AS BIGINT) AS nxy
  FROM pairs GROUP BY 1, 2, 3
),
tot AS (SELECT lag, CAST(sum(nxy) AS BIGINT) AS n FROM joint GROUP BY 1),
marg AS MATERIALIZED (
  SELECT lag, cb, rb, nxy,
         sum(nxy) OVER (PARTITION BY lag, cb) AS nx,
         sum(nxy) OVER (PARTITION BY lag, rb) AS ny
  FROM joint
),
mi AS (
  SELECT m.lag,
         CAST(sum(CAST(round(
           m.nxy * ln(CAST(m.nxy AS DOUBLE) * t.n / (m.nx * m.ny)), 8)
           AS DECIMAL(38,8))) AS DOUBLE) / max(t.n) AS mival
  FROM marg m JOIN tot t ON t.lag = m.lag
  GROUP BY m.lag
)
SELECT m.lag, t.n AS n_pairs, round(m.mival, 6) AS mi_nats
FROM mi m JOIN tot t ON t.lag = m.lag
ORDER BY m.lag
"""


@_register("lagged_mutual_information", _LAGMI_ORACLE)
def lagged_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between daily click volume and daily purchase
    revenue at lags 0-3 days: both series are tertile-binned (rank-
    based ntile with deterministic day tie-breaks), joint/marginal
    counts come from one aligned self-join per lag, and MI =
    sum p(x,y) ln(p(x,y)/(p(x)p(y))) reads NONLINEAR dependence where
    lead_lag_cross_correlation reads only linear — an MI that stays
    high while correlation is flat flags a nonlinear lead-lag
    coupling. All counts are exact bigints; each <=9-cell MI sum is
    decimal-rounded before summing. Scale shape: one daily aggregate;
    everything after is bounded by 4 lags x 9 cells."""
    daily = (
        _t(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("d"))
        .agg(
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
            .cast("long")
            .alias("clicks"),
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.expr(
                        "CAST(CASE WHEN value >= 0"
                        " THEN floor(value * 100 + 0.5)"
                        " ELSE -floor(-(value) * 100 + 0.5) END AS BIGINT)"
                    ),
                ).otherwise(0)
            )
            .cast("long")
            .alias("rev"),
        )
    )
    binned = daily.select(
        "d",
        F.ntile(3).over(W.orderBy("clicks", "d")).cast("long").alias("cb"),
        F.ntile(3).over(W.orderBy("rev", "d")).cast("long").alias("rb"),
    ).localCheckpoint(eager=False)
    lags = spark.createDataFrame([(0,), (1,), (2,), (3,)], "lag int")
    a = binned.select(F.col("d").alias("da"), "cb")
    b = binned.select(F.col("d").alias("db"), "rb")
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(
            F.broadcast(b),
            F.expr("db = date_add(da, lag)"),
        )
        .select("lag", "cb", "rb")
    )
    joint = pairs.groupBy("lag", "cb", "rb").agg(
        F.count(F.lit(1)).cast("long").alias("nxy")
    )
    tot = joint.groupBy("lag").agg(F.sum("nxy").cast("long").alias("n"))
    marg = joint.select(
        "lag",
        "cb",
        "rb",
        "nxy",
        F.sum("nxy").over(W.partitionBy("lag", "cb")).alias("nx"),
        F.sum("nxy").over(W.partitionBy("lag", "rb")).alias("ny"),
    )
    mi = (
        marg.join(F.broadcast(tot), "lag")
        .groupBy("lag")
        .agg(
            (
                F.expr(
                    "CAST(sum(CAST(round("
                    "nxy * ln(CAST(nxy AS DOUBLE) * n / (nx * ny)), 8)"
                    " AS DECIMAL(38,8))) AS DOUBLE)"
                )
                / F.max("n")
            ).alias("mival")
        )
    )
    return (
        mi.join(F.broadcast(tot), "lag")
        .select(
            F.col("lag").cast("int").alias("lag"),
            F.col("n").alias("n_pairs"),
            F.round("mival", 6).alias("mi_nats"),
        )
        .orderBy("lag")
    )


# ===========================================================================
# Rates: two-sample Poisson rate test (weekday vs weekend errors)
# ===========================================================================

_POISSON2_ORACLE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d,
         CASE WHEN isodow(CAST(ts AS DATE)) >= 6 THEN 1 ELSE 0 END
           AS is_weekend,
         CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
              AS BIGINT) AS errs
  FROM events GROUP BY 1, 2
),
agg AS (
  SELECT CAST(sum(CASE WHEN is_weekend = 0 THEN errs ELSE 0 END)
              AS BIGINT) AS n1,
         CAST(sum(CASE WHEN is_weekend = 1 THEN errs ELSE 0 END)
              AS BIGINT) AS n2,
         CAST(sum(CASE WHEN is_weekend = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS t1,
         CAST(sum(CASE WHEN is_weekend = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS t2
  FROM daily
)
SELECT n1 AS weekday_errors, n2 AS weekend_errors,
       t1 AS weekday_days, t2 AS weekend_days,
       CAST(1000 * n1 // t1 AS BIGINT) AS rate1_milli,
       CAST(1000 * n2 // t2 AS BIGINT) AS rate2_milli,
       CAST(1000 * (n1 * (t1 + t2) - (n1 + n2) * t1)
                 * (n1 * (t1 + t2) - (n1 + n2) * t1)
            // ((n1 + n2) * t1 * t2) AS BIGINT) AS z2_milli,
       CAST(CASE WHEN 1000 * (n1 * (t1 + t2) - (n1 + n2) * t1)
                      * (n1 * (t1 + t2) - (n1 + n2) * t1)
                 // ((n1 + n2) * t1 * t2) > 3841
            THEN 1 ELSE 0 END AS BIGINT) AS rates_differ_5pct
FROM agg
"""


@_register("poisson_two_rate_test", _POISSON2_ORACLE)
def poisson_two_rate_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Poisson rate test, weekday vs weekend error events:
    conditional on the total count N, the weekday count is
    Binomial(N, t1/(t1+t2)) under equal rates, and the score statistic
    clears ALL denominators to z^2 = (n1(t1+t2) - N*t1)^2 / (N*t1*t2)
    — pure int64, no float anywhere except nothing: the entry is
    fully integer (milli-scaled), the exact-conditioning trick that
    makes C-tests robust at tiny counts. Completes the rate-comparison
    corner of the testing family (two_proportion_ab_test compares
    binomial fractions; this compares exposures-normalized Poisson
    intensities). Weekday split uses ISO day-of-week computed
    engine-internally (the catalog's dow-gotcha rule: weekday keys
    never cross engines). Scale shape: one daily aggregate, one-row
    arithmetic."""
    daily = (
        _t(spark, sf_dir, "events")
        .groupBy(
            F.to_date("ts").alias("d"),
            F.expr(
                "CASE WHEN weekday(CAST(ts AS DATE)) + 1 >= 6"
                " THEN 1 ELSE 0 END"
            ).alias("is_weekend"),
        )
        .agg(
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
            .cast("long")
            .alias("errs")
        )
    )
    agg = daily.agg(
        F.sum(F.when(F.col("is_weekend") == 0, F.col("errs")).otherwise(0))
        .cast("long")
        .alias("n1"),
        F.sum(F.when(F.col("is_weekend") == 1, F.col("errs")).otherwise(0))
        .cast("long")
        .alias("n2"),
        F.sum(F.when(F.col("is_weekend") == 0, 1).otherwise(0))
        .cast("long")
        .alias("t1"),
        F.sum(F.when(F.col("is_weekend") == 1, 1).otherwise(0))
        .cast("long")
        .alias("t2"),
    )
    return agg.select(
        F.col("n1").alias("weekday_errors"),
        F.col("n2").alias("weekend_errors"),
        F.col("t1").alias("weekday_days"),
        F.col("t2").alias("weekend_days"),
        F.expr("CAST(1000 * n1 div t1 AS BIGINT)").alias("rate1_milli"),
        F.expr("CAST(1000 * n2 div t2 AS BIGINT)").alias("rate2_milli"),
        F.expr(
            "CAST(1000 * (n1 * (t1 + t2) - (n1 + n2) * t1)"
            " * (n1 * (t1 + t2) - (n1 + n2) * t1)"
            " div ((n1 + n2) * t1 * t2) AS BIGINT)"
        ).alias("z2_milli"),
        F.expr(
            "CAST(CASE WHEN 1000 * (n1 * (t1 + t2) - (n1 + n2) * t1)"
            " * (n1 * (t1 + t2) - (n1 + n2) * t1)"
            " div ((n1 + n2) * t1 * t2) > 3841"
            " THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("rates_differ_5pct"),
    )


# ===========================================================================
# Forecasting: SES alpha grid evaluated by an in-engine fold
# ===========================================================================

_SES_ORACLE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) // 100 AS BIGINT)
           AS x
  FROM events WHERE event_type = 'purchase' GROUP BY 1
),
ser AS (
  SELECT list({'e': CAST(0 AS BIGINT), 's': x} ORDER BY d) AS xs,
         CAST(count(*) AS BIGINT) AS n
  FROM daily
),
grid AS (SELECT unnest([2, 5, 8]) AS a10),
-- NOTE: DuckDB's list_reduce rebinds acc FIELD BY FIELD in struct
-- literal order, so the error field (which must read the PRE-update
-- level) is declared before the level update; Spark's aggregate() is
-- purely functional and order-independent, so the shared field order
-- pins both engines to the same left fold.
fold AS (
  SELECT g.a10, s.n,
         list_reduce(s.xs, (acc, x) -> {
           'e': acc.e + (x.s - acc.s) * (x.s - acc.s),
           's': (g.a10 * x.s + (10 - g.a10) * acc.s) // 10
         }) AS r
  FROM ser s CROSS JOIN grid g
),
scored AS (
  SELECT a10, n, r.e AS sse, r.s AS final_level
  FROM fold
)
SELECT CAST(a10 * 10 AS BIGINT) AS alpha_pct,
       n AS n_days,
       CAST(sse AS BIGINT) AS sse,
       CAST(final_level AS BIGINT) AS final_level,
       CAST(CASE WHEN sse = min(sse) OVER () THEN 1 ELSE 0 END AS BIGINT)
         AS is_best
FROM scored
ORDER BY alpha_pct
"""


@_register("ses_alpha_grid_eval", _SES_ORACLE)
def ses_alpha_grid_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simple-exponential-smoothing model selection: evaluate the
    one-step-ahead SSE of SES over an alpha grid {0.2, 0.5, 0.8} on
    the daily purchase-revenue series, selecting the best-fitting
    smoothing constant — the grid-search companion to
    holt_linear_smoothing/holt_winters_additive, which SHIP a fixed
    alpha; this entry measures which one the data wants. The
    recursion s_t = alpha*x_t + (1-alpha)*s_{t-1} runs as an
    IN-ENGINE FOLD over the collected 30-element series (Spark
    aggregate() lambda, DuckDB list_reduce — both seed from the first
    element and fold identically), with tenths-integer arithmetic and
    truncating division each step so every intermediate level is an
    exact bigint in both engines. Scale shape: one daily aggregate;
    the fold is calendar-bounded and runs once per grid point."""
    daily = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("d"))
        .agg(
            F.expr(
                "CAST(sum(CAST(CASE WHEN value >= 0"
                " THEN floor(value * 100 + 0.5)"
                " ELSE -floor(-(value) * 100 + 0.5) END AS BIGINT))"
                " div 100 AS BIGINT)"
            ).alias("x")
        )
    )
    ser = daily.agg(
        F.expr(
            "transform(sort_array(collect_list(struct(d, x))),"
            " r -> struct(CAST(0 AS BIGINT) AS e, r.x AS s))"
        ).alias("xs"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    grid = spark.createDataFrame([(2,), (5,), (8,)], "a10 int")
    fold = ser.crossJoin(F.broadcast(grid)).select(
        "a10",
        "n",
        F.expr(
            "aggregate(slice(xs, 2, size(xs) - 1), xs[0],"
            " (acc, x) -> struct("
            "   acc.e + (x.s - acc.s) * (x.s - acc.s) AS e,"
            "   (a10 * x.s + (10 - a10) * acc.s) div 10 AS s))"
        ).alias("r"),
    )
    scored = fold.select(
        "a10", "n", F.col("r.e").alias("sse"), F.col("r.s").alias("final_level")
    )
    return scored.select(
        F.expr("CAST(a10 * 10 AS BIGINT)").alias("alpha_pct"),
        F.col("n").alias("n_days"),
        F.col("sse").cast("long").alias("sse"),
        F.col("final_level").cast("long").alias("final_level"),
        F.expr(
            "CAST(CASE WHEN sse = min(sse) OVER () THEN 1 ELSE 0 END"
            " AS BIGINT)"
        ).alias("is_best"),
    ).orderBy("alpha_pct")


# ===========================================================================
# Drift: Jensen-Shannon divergence between source length distributions
# ===========================================================================

_JSD_ORACLE = """
WITH pair AS (
  SELECT source, least(length(text) // 100, 9) AS b
  FROM documents
  WHERE text IS NOT NULL
    AND source IN (SELECT source FROM (
      SELECT source, count(*) AS c FROM documents GROUP BY 1
      ORDER BY c DESC, source LIMIT 2))
),
srcs AS (
  SELECT source, row_number() OVER (ORDER BY source) AS sid
  FROM (SELECT DISTINCT source FROM pair)
),
cnt AS (
  SELECT s.sid, p.b, CAST(count(*) AS BIGINT) AS c
  FROM pair p JOIN srcs s ON s.source = p.source
  GROUP BY 1, 2
),
tot AS (SELECT sid, CAST(sum(c) AS BIGINT) AS n FROM cnt GROUP BY 1),
grid AS (
  SELECT b,
         max(CASE WHEN sid = 1 THEN c ELSE 0 END) AS c1,
         max(CASE WHEN sid = 2 THEN c ELSE 0 END) AS c2
  FROM cnt GROUP BY b
),
terms AS (
  SELECT g.b, g.c1, g.c2, t1.n AS n1, t2.n AS n2,
         CAST(g.c1 AS DOUBLE) / t1.n AS p,
         CAST(g.c2 AS DOUBLE) / t2.n AS q
  FROM grid g
  CROSS JOIN (SELECT n FROM tot WHERE sid = 1) t1
  CROSS JOIN (SELECT n FROM tot WHERE sid = 2) t2
),
jsd AS (
  SELECT CAST(sum(CAST(round(
           CASE WHEN p > 0
                THEN 0.5 * p * ln(2.0 * p / (p + q)) ELSE 0 END
           + CASE WHEN q > 0
                  THEN 0.5 * q * ln(2.0 * q / (p + q)) ELSE 0 END, 10)
           AS DECIMAL(38,10))) AS DOUBLE) AS js
  FROM terms
)
SELECT t.b AS length_bucket,
       t.c1 AS n_source_a,
       t.c2 AS n_source_b,
       round(j.js, 6) AS js_divergence_nats,
       round(sqrt(j.js / ln(2.0)), 6) AS js_distance_bits
FROM terms t CROSS JOIN jsd j
ORDER BY t.b
"""


@_register("jensen_shannon_drift", _JSD_ORACLE)
def jensen_shannon_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between the two largest sources'
    document-length distributions (100-char buckets, capped at 10):
    JSD = (KL(P||M) + KL(Q||M))/2 with M the midpoint mixture — the
    BOUNDED, symmetric member of the drift family, whose square root
    (in bits) is a true metric, unlike PSI (unbounded, asymmetric,
    blows up on empty bins — distribution_drift_psi),
    total-variation (ignores where mass moved) and Wasserstein
    (unbounded): this is the one you alarm on when bins can be empty.
    Counts are exact; each bucket's term is decimal-rounded before
    the <=10-term sum. Scale shape: one narrow map to (source,
    bucket), one bounded rollup."""
    d = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    top2 = (
        _t(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), "source")
        .limit(2)
        .select("source")
    )
    pair = d.join(F.broadcast(top2), "source").select(
        "source", F.expr("least(length(text) div 100, 9)").alias("b")
    )
    srcs = (
        pair.select("source")
        .distinct()
        .select(
            "source", F.row_number().over(W.orderBy("source")).alias("sid")
        )
    )
    cnt = (
        pair.join(F.broadcast(srcs), "source")
        .groupBy("sid", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    tot = cnt.groupBy("sid").agg(F.sum("c").cast("long").alias("n"))
    grid = cnt.groupBy("b").agg(
        F.max(F.when(F.col("sid") == 1, F.col("c")).otherwise(0)).alias("c1"),
        F.max(F.when(F.col("sid") == 2, F.col("c")).otherwise(0)).alias("c2"),
    )
    t1 = tot.filter(F.col("sid") == 1).select(F.col("n").alias("n1"))
    t2 = tot.filter(F.col("sid") == 2).select(F.col("n").alias("n2"))
    terms = (
        grid.crossJoin(F.broadcast(t1))
        .crossJoin(F.broadcast(t2))
        .select(
            "b",
            "c1",
            "c2",
            F.expr("CAST(c1 AS DOUBLE) / n1").alias("p"),
            F.expr("CAST(c2 AS DOUBLE) / n2").alias("q"),
        )
    )
    jsd = terms.agg(
        F.expr(
            "CAST(sum(CAST(round("
            "CASE WHEN p > 0 THEN 0.5 * p * ln(2.0 * p / (p + q))"
            " ELSE 0 END"
            " + CASE WHEN q > 0 THEN 0.5 * q * ln(2.0 * q / (p + q))"
            " ELSE 0 END, 10) AS DECIMAL(38,10))) AS DOUBLE)"
        ).alias("js")
    )
    return (
        terms.crossJoin(F.broadcast(jsd))
        .select(
            F.col("b").alias("length_bucket"),
            F.col("c1").alias("n_source_a"),
            F.col("c2").alias("n_source_b"),
            F.round("js", 6).alias("js_divergence_nats"),
            F.round(F.expr("sqrt(js / ln(2.0))"), 6).alias(
                "js_distance_bits"
            ),
        )
        .orderBy("length_bucket")
    )


# ===========================================================================
# Classification: Youden J optimal threshold on a quality score
# ===========================================================================

_YOUDEN_ORACLE = """
WITH top1 AS (
  SELECT source FROM (
    SELECT source, count(*) AS c FROM documents GROUP BY 1
    ORDER BY c DESC, source LIMIT 1)
),
scored AS (
  SELECT CASE WHEN d.source = t.source THEN 1 ELSE 0 END AS y,
         CAST(least(length(d.text) // 10, 2000) AS BIGINT) AS s
  FROM documents d CROSS JOIN top1 t
  WHERE d.text IS NOT NULL
),
tot AS (
  SELECT CAST(sum(y) AS BIGINT) AS np,
         CAST(sum(1 - y) AS BIGINT) AS nn
  FROM scored
),
bys AS (
  SELECT s AS thr,
         CAST(sum(y) AS BIGINT) AS cp,
         CAST(sum(1 - y) AS BIGINT) AS cn
  FROM scored GROUP BY 1
),
conf AS (
  SELECT thr,
         CAST(sum(cp) OVER (ORDER BY thr DESC) AS BIGINT) AS tp,
         CAST(sum(cn) OVER (ORDER BY thr DESC) AS BIGINT) AS fp
  FROM bys
),
j AS (
  SELECT c.thr, c.tp, c.fp, t.np, t.nn,
         CAST(1000 * c.tp // t.np - 1000 * c.fp // t.nn AS BIGINT)
           AS j_milli
  FROM conf c CROSS JOIN tot t
)
SELECT thr AS threshold_milli, tp, fp,
       CAST(1000 * tp // np AS BIGINT) AS tpr_milli,
       CAST(1000 * fp // nn AS BIGINT) AS fpr_milli,
       j_milli
FROM j
ORDER BY j_milli DESC, thr
LIMIT 5
"""


@_register("youden_j_threshold", _YOUDEN_ORACLE)
def youden_j_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Youden J threshold selection: score documents by their length
    (deci-character buckets, capped), label by membership in the
    dominant source, and pick the operating threshold maximizing
    J = TPR - FPR — the step AFTER
    roc_curve_points draws the curve: which cut to ship. Every
    candidate threshold is an observed score value; the confusion
    sweep is one grouped count per score value plus ONE cumulative
    window over the (bounded, <=1001-value) score domain — never a
    thresholds x documents join. Top-5 thresholds by milli-scaled J,
    all integer arithmetic. Completes the eval family's
    threshold-selection corner (cost_threshold_optimization picks by
    asymmetric cost; Youden is the cost-free special case)."""
    top1 = (
        _t(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), "source")
        .limit(1)
        .select(F.col("source").alias("topsrc"))
    )
    scored = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .crossJoin(F.broadcast(top1))
        .select(
            F.when(F.col("source") == F.col("topsrc"), 1)
            .otherwise(0)
            .alias("y"),
            F.expr(
                "CAST(least(length(text) div 10, 2000) AS BIGINT)"
            ).alias("s"),
        )
        .localCheckpoint(eager=False)
    )
    tot = scored.agg(
        F.sum("y").cast("long").alias("np"),
        F.sum(F.expr("1 - y")).cast("long").alias("nn"),
    )
    bys = scored.groupBy(F.col("s").alias("thr")).agg(
        F.sum("y").cast("long").alias("cp"),
        F.sum(F.expr("1 - y")).cast("long").alias("cn"),
    )
    wdesc = W.orderBy(F.col("thr").desc())
    conf = bys.select(
        "thr",
        F.sum("cp").over(wdesc).cast("long").alias("tp"),
        F.sum("cn").over(wdesc).cast("long").alias("fp"),
    )
    return (
        conf.crossJoin(F.broadcast(tot))
        .select(
            F.col("thr").alias("threshold_milli"),
            "tp",
            "fp",
            F.expr("CAST(1000 * tp div np AS BIGINT)").alias("tpr_milli"),
            F.expr("CAST(1000 * fp div nn AS BIGINT)").alias("fpr_milli"),
            F.expr(
                "CAST(1000 * tp div np - 1000 * fp div nn AS BIGINT)"
            ).alias("j_milli"),
        )
        .orderBy(F.col("j_milli").desc(), "threshold_milli")
        .limit(5)
    )


# ===========================================================================
# Heavy tails: Hill estimator of the Pareto tail index
# ===========================================================================

_HILL_ORACLE = """
WITH v AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS x FROM orders
),
rk AS (
  SELECT x, row_number() OVER (ORDER BY x DESC, x) AS r,
         count(*) OVER () AS n
  FROM v
),
ks AS (SELECT unnest([50, 100, 200]) AS k),
sel AS (
  SELECT k.k, rk.x, rk.r
  FROM rk JOIN ks k ON rk.r <= k.k + 1
),
anchor AS (
  SELECT k, max(CASE WHEN r = k + 1 THEN x END) AS xk1 FROM sel GROUP BY k
),
hill AS (
  SELECT s.k,
         CAST(sum(CAST(round(
           ln(CAST(s.x AS DOUBLE) / a.xk1), 10) AS DECIMAL(38,10)))
           AS DOUBLE) / s.k AS hmean
  FROM sel s JOIN anchor a ON a.k = s.k
  WHERE s.r <= s.k
  GROUP BY s.k
)
SELECT k AS tail_k,
       round(hmean, 6) AS hill_mean_log_excess,
       round(1.0 / hmean, 4) AS tail_index_alpha,
       CAST(CASE WHEN 1.0 / hmean < 2.0 THEN 1 ELSE 0 END AS BIGINT)
         AS infinite_variance_flag
FROM hill
ORDER BY k
"""


@_register("hill_tail_index", _HILL_ORACLE)
def hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the Pareto tail index over order totals at
    k in {50, 100, 200} upper order statistics: alpha_hat(k) =
    1 / mean(ln(x_(i) / x_(k+1))) — the MLE for the tail exponent
    conditional on the tail, read across several k to check
    stability (the 'Hill plot' in three points). Completes the EVT
    family: block_maxima fits GEV to maxima, pot_gpd fits excess
    magnitudes, Hill reads the POLYNOMIAL DECAY RATE itself; alpha
    < 2 flags infinite variance. Ranks are exact over integer
    cents; log excesses are decimal-rounded before the k-term sum.
    Scale shape: the top-201 tail comes from orderBy().limit() =
    TakeOrderedAndProject (parallel per-partition top-k, no
    single-partition rank window over the data); the rank window then
    runs on the CONSTANT 201-row frame, constant arithmetic after."""
    v = _t(spark, sf_dir, "orders").select(_cents("o_totalprice").alias("x"))
    top = v.orderBy(F.col("x").desc()).limit(201)
    rk = top.select(
        "x", F.row_number().over(W.orderBy(F.col("x").desc())).alias("r")
    )
    ks = spark.createDataFrame([(50,), (100,), (200,)], "k int")
    sel = rk.crossJoin(F.broadcast(ks)).filter(F.col("r") <= F.col("k") + 1)
    anchor = sel.groupBy("k").agg(
        F.max(F.when(F.col("r") == F.col("k") + 1, F.col("x"))).alias("xk1")
    )
    hill = (
        sel.filter(F.col("r") <= F.col("k"))
        .join(F.broadcast(anchor), "k")
        .groupBy("k")
        .agg(
            (
                F.expr(
                    "CAST(sum(CAST(round("
                    "ln(CAST(x AS DOUBLE) / xk1), 10) AS DECIMAL(38,10)))"
                    " AS DOUBLE)"
                )
                / F.max("k")
            ).alias("hmean")
        )
    )
    return hill.select(
        F.col("k").cast("int").alias("tail_k"),
        F.round("hmean", 6).alias("hill_mean_log_excess"),
        F.round(F.expr("1.0 / hmean"), 4).alias("tail_index_alpha"),
        F.expr(
            "CAST(CASE WHEN 1.0 / hmean < 2.0 THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("infinite_variance_flag"),
    ).orderBy("tail_k")


# ===========================================================================
# Sequences: entropy rate of the per-user event Markov chain
# ===========================================================================

_ENTRATE_ORACLE = """
WITH seq AS (
  SELECT event_type AS a,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS b
  FROM events
),
trans AS (
  SELECT a, b, CAST(count(*) AS BIGINT) AS c
  FROM seq WHERE b IS NOT NULL GROUP BY 1, 2
),
marg AS (
  SELECT a, CAST(sum(c) AS BIGINT) AS ca FROM trans GROUP BY 1
),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM trans),
hrate AS (
  SELECT CAST(sum(CAST(round(
           -1.0 * t.c * ln(CAST(t.c AS DOUBLE) / m.ca), 8)
           AS DECIMAL(38,8))) AS DOUBLE) AS hsum
  FROM trans t JOIN marg m ON m.a = t.a
),
hmarg AS (
  SELECT CAST(sum(CAST(round(
           -1.0 * m.ca * ln(CAST(m.ca AS DOUBLE) / t.n), 8)
           AS DECIMAL(38,8))) AS DOUBLE) AS h0sum
  FROM marg m CROSS JOIN tot t
)
SELECT t.n AS n_transitions,
       round(hr.hsum / t.n, 6) AS entropy_rate_nats,
       round(hm.h0sum / t.n, 6) AS marginal_entropy_nats,
       round(1.0 - (hr.hsum / t.n) / (hm.h0sum / t.n), 6)
         AS predictability_gain
FROM hrate hr CROSS JOIN hmarg hm CROSS JOIN tot t
"""


@_register("markov_entropy_rate", _ENTRATE_ORACLE)
def markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of the per-user event-type Markov chain: H_rate =
    -sum_ab pi(a) P(b|a) ln P(b|a) with the empirical transition
    weights (equivalently sum over transition counts), against the
    order-0 marginal entropy; the gap is how much one step of memory
    buys in predicting the next event — the information-theoretic
    summary of the matrix event_transition_matrix only DISPLAYS.
    Counts are exact; log terms decimal-rounded before the 25-cell
    sum. Scale shape: one lead() window per user (shuffles on
    user_id), a 5x5-bounded rollup, constant arithmetic."""
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = _t(spark, sf_dir, "events").select(
        F.col("event_type").alias("a"),
        F.lead("event_type").over(w).alias("b"),
    )
    trans = (
        seq.filter(F.col("b").isNotNull())
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    marg = trans.groupBy("a").agg(F.sum("c").cast("long").alias("ca"))
    tot = trans.agg(F.sum("c").cast("long").alias("n"))
    hrate = (
        trans.join(F.broadcast(marg), "a")
        .agg(
            F.expr(
                "CAST(sum(CAST(round("
                "-1.0 * c * ln(CAST(c AS DOUBLE) / ca), 8)"
                " AS DECIMAL(38,8))) AS DOUBLE)"
            ).alias("hsum")
        )
    )
    hmarg = marg.crossJoin(F.broadcast(tot)).agg(
        F.expr(
            "CAST(sum(CAST(round("
            "-1.0 * ca * ln(CAST(ca AS DOUBLE) / n), 8)"
            " AS DECIMAL(38,8))) AS DOUBLE)"
        ).alias("h0sum")
    )
    return (
        hrate.crossJoin(F.broadcast(hmarg))
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("n").alias("n_transitions"),
            F.round(F.expr("hsum / n"), 6).alias("entropy_rate_nats"),
            F.round(F.expr("h0sum / n"), 6).alias("marginal_entropy_nats"),
            F.round(
                F.expr("1.0 - (hsum / n) / (h0sum / n)"), 6
            ).alias("predictability_gain"),
        )
    )


# ===========================================================================
# Dispersion: Gini mean difference via order statistics
# ===========================================================================

_GMD_ORACLE = """
WITH v AS (
  SELECT l_returnflag AS grp,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS x
  FROM lineitem
),
rk AS (
  SELECT grp, x,
         row_number() OVER (PARTITION BY grp ORDER BY x, x) AS i,
         count(*) OVER (PARTITION BY grp) AS n
  FROM v
),
agg AS (
  SELECT grp, CAST(max(n) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum((2 * i - n - 1) * x) AS BIGINT) AS wsum
  FROM rk GROUP BY grp
)
SELECT grp AS l_returnflag, n,
       CAST(sx // n AS BIGINT) AS mean_cents,
       CAST(2 * CAST(wsum AS HUGEINT) // (n * (n - 1)) AS BIGINT)
         AS gmd_cents,
       CAST(1000 * CAST(wsum AS HUGEINT) // ((n - 1) * sx) AS BIGINT)
         AS gini_milli
FROM agg
ORDER BY grp
"""


@_register("gini_mean_difference", _GMD_ORACLE)
def gini_mean_difference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini mean difference per return-flag group: GMD = mean |x_i -
    x_j| over all pairs, computed WITHOUT the pairwise join via the
    order-statistics identity sum_pairs |xi-xj| = sum_i (2i-n-1)x_(i)
    — one rank window and one weighted sum turn an O(n^2) statistic
    into O(n log n), exactly the rewrite a 100 TB engine must make.
    Also emits the Gini coefficient as GMD/(2*mean) on the same exact
    integers, tying the catalog's Lorenz-based gini to the pairwise
    definition. Ties are harmless: any rank assignment among equal
    values leaves the weighted sum unchanged. The weighted sum is
    int64 through sf 0.1 headroom; the milli/cent ratios ride
    DECIMAL(38,0) (1000 * wsum crosses 2^63 at sf 0.1 — DuckDB
    auto-promotes to HUGEINT, Spark ANSI throws; production at
    larger groups would carry wsum itself as DECIMAL(38,0)). Scale
    shape: one per-group rank window (sortable shuffle), one
    aggregate."""
    v = _t(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("grp"),
        _cents("l_extendedprice").alias("x"),
    )
    rk = v.select(
        "grp",
        "x",
        F.row_number().over(W.partitionBy("grp").orderBy("x")).alias("i"),
        F.count(F.lit(1)).over(W.partitionBy("grp")).alias("n"),
    )
    agg = rk.groupBy("grp").agg(
        F.max("n").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.expr("(2 * i - n - 1) * x")).cast("long").alias("wsum"),
    )
    return agg.select(
        F.col("grp").alias("l_returnflag"),
        "n",
        F.expr("CAST(sx div n AS BIGINT)").alias("mean_cents"),
        F.expr(
            "CAST(2 * CAST(wsum AS DECIMAL(38,0)) div (n * (n - 1))"
            " AS BIGINT)"
        ).alias("gmd_cents"),
        F.expr(
            "CAST(1000 * CAST(wsum AS DECIMAL(38,0)) div ((n - 1) * sx)"
            " AS BIGINT)"
        ).alias("gini_milli"),
    ).orderBy("l_returnflag")


# ===========================================================================
# Robust decomposition: Tukey median polish (2 sweeps) on region x month
# ===========================================================================

_POLISH_ORACLE = """
WITH cell AS MATERIALIZED (
  SELECT n.n_regionkey AS rg,
         CAST(month(o.o_orderdate) AS BIGINT) AS mo,
         CAST(16 * (sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
                    // 100000) AS BIGINT) AS x
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  GROUP BY 1, 2
),
rmed1 AS MATERIALIZED (
  SELECT rg, CAST(median(x) AS BIGINT) AS rm FROM cell GROUP BY rg
),
r1 AS MATERIALIZED (
  SELECT c.rg, c.mo, c.x - m.rm AS x, m.rm
  FROM cell c JOIN rmed1 m ON m.rg = c.rg
),
cmed1 AS MATERIALIZED (
  SELECT mo, CAST(median(x) AS BIGINT) AS cm FROM r1 GROUP BY mo
),
c1 AS MATERIALIZED (
  SELECT r.rg, r.mo, r.x - m.cm AS x, r.rm, m.cm
  FROM r1 r JOIN cmed1 m ON m.mo = r.mo
),
rmed2 AS MATERIALIZED (
  SELECT rg, CAST(median(x) AS BIGINT) AS rm2 FROM c1 GROUP BY rg
),
r2 AS MATERIALIZED (
  SELECT c.rg, c.mo, c.x - m.rm2 AS x, c.rm + m.rm2 AS rm, c.cm
  FROM c1 c JOIN rmed2 m ON m.rg = c.rg
),
cmed2 AS MATERIALIZED (
  SELECT mo, CAST(median(x) AS BIGINT) AS cm2 FROM r2 GROUP BY mo
),
c2 AS MATERIALIZED (
  SELECT r.rg, r.mo, r.x - m.cm2 AS resid, r.rm, r.cm + m.cm2 AS cm
  FROM r2 r JOIN cmed2 m ON m.mo = r.mo
)
SELECT CAST(rg AS BIGINT) AS region_key,
       CAST(mo AS BIGINT) AS month_num,
       CAST(rm AS BIGINT) AS row_effect_k16,
       CAST(cm AS BIGINT) AS col_effect_k16,
       CAST(resid AS BIGINT) AS residual_k16
FROM c2
ORDER BY abs(resid) DESC, region_key, month_num
LIMIT 12
"""


@_register("median_polish_two_way", _POLISH_ORACLE)
def median_polish_two_way(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey median polish (two full row/column sweeps) of the
    region x calendar-month revenue table: alternately subtract row
    and column MEDIANS, accumulating robust row/column effects; what
    survives is the residual, and the largest |residual| cells are
    the region-month combinations no additive row+column story
    explains — the robust two-way twin of
    revenue_bridge_decomposition (which uses means and is blown
    about by single hot months). Values are pre-scaled by 16 (one
    factor of 2 per median stage: two sweeps x two axes), so every
    even-group median — an average of two integers — stays an exact
    integer through ALL four stages; without the full 2^4 headroom
    the second sweep lands on .5 medians, where DuckDB's
    double->bigint cast rounds but Spark's truncates (caught at
    sf0.01). Scale shape: one (region,
    month) aggregate; each sweep is a bounded-cardinality grouped
    median + join on the 60-cell table."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    cell = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy(
            F.col("n_regionkey").alias("rg"),
            F.month("o_orderdate").cast("long").alias("mo"),
        )
        .agg(
            F.expr(
                "CAST(16 * (sum(CAST(CASE WHEN o_totalprice >= 0"
                " THEN floor(o_totalprice * 100 + 0.5)"
                " ELSE -floor(-(o_totalprice) * 100 + 0.5) END AS BIGINT))"
                " div 100000) AS BIGINT)"
            ).alias("x")
        )
        .localCheckpoint(eager=False)
    )
    cur = cell.withColumn("rm", F.lit(0).cast("long")).withColumn(
        "cm", F.lit(0).cast("long")
    )
    for axis, eff in (("rg", "rm"), ("mo", "cm"), ("rg", "rm"), ("mo", "cm")):
        med = cur.groupBy(axis).agg(
            F.expr("CAST(median(x) AS BIGINT)").alias("m")
        )
        cur = (
            cur.join(F.broadcast(med), axis)
            .select(
                "rg",
                "mo",
                (F.col("x") - F.col("m")).alias("x"),
                (F.col(eff) + F.col("m")).alias(eff)
                if eff == "rm"
                else F.col("rm"),
                (F.col(eff) + F.col("m")).alias(eff)
                if eff == "cm"
                else F.col("cm"),
            )
            .localCheckpoint(eager=False)
        )
    return (
        cur.select(
            F.col("rg").cast("long").alias("region_key"),
            F.col("mo").cast("long").alias("month_num"),
            F.col("rm").alias("row_effect_k16"),
            F.col("cm").alias("col_effect_k16"),
            F.col("x").alias("residual_k16"),
        )
        .orderBy(F.abs(F.col("residual_k16")).desc(), "region_key", "month_num")
        .limit(12)
    )


# ===========================================================================
# Econometrics: Chow test for a structural break
# ===========================================================================

_CHOW_ORACLE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) // 100 AS BIGINT)
           AS y
  FROM events WHERE event_type = 'purchase' GROUP BY 1
),
idx AS (
  SELECT y, row_number() OVER (ORDER BY d) AS t,
         count(*) OVER () AS n
  FROM daily
),
seg AS (
  SELECT CASE WHEN t <= n // 2 THEN 1 ELSE 2 END AS s,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(t) AS BIGINT) AS st, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(t * t) AS BIGINT) AS stt,
         CAST(sum(t * y) AS BIGINT) AS sty,
         CAST(sum(y * y) AS BIGINT) AS syy
  FROM idx GROUP BY 1
),
sse AS (
  SELECT s, n,
         (syy - CAST(sy AS DOUBLE) * sy / n)
         - (sty - CAST(st AS DOUBLE) * sy / n)
           * (sty - CAST(st AS DOUBLE) * sy / n)
           / (stt - CAST(st AS DOUBLE) * st / n) AS e
  FROM seg
),
pool AS (
  SELECT CAST(sum(n) AS BIGINT) AS n,
         CAST(sum(st) AS BIGINT) AS st, CAST(sum(sy) AS BIGINT) AS sy,
         CAST(sum(stt) AS BIGINT) AS stt,
         CAST(sum(sty) AS BIGINT) AS sty,
         CAST(sum(syy) AS BIGINT) AS syy
  FROM seg
),
psse AS (
  SELECT n,
         (syy - CAST(sy AS DOUBLE) * sy / n)
         - (sty - CAST(st AS DOUBLE) * sy / n)
           * (sty - CAST(st AS DOUBLE) * sy / n)
           / (stt - CAST(st AS DOUBLE) * st / n) AS e
  FROM pool
),
f AS (
  SELECT p.n,
         p.e AS sse_pooled,
         (SELECT sum(e) FROM sse) AS sse_split,
         ((p.e - (SELECT sum(e) FROM sse)) / 2)
         / ((SELECT sum(e) FROM sse) / (p.n - 4)) AS fstat
  FROM psse p
)
SELECT n AS n_days,
       round(sse_pooled, 2) AS sse_pooled,
       round(sse_split, 2) AS sse_split,
       round(fstat, 4) AS chow_f,
       CAST(CASE WHEN fstat > 3.37 THEN 1 ELSE 0 END AS BIGINT)
         AS break_detected_5pct
FROM f
"""


@_register("chow_test_structural_break", _CHOW_ORACLE)
def chow_test_structural_break(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chow test for a structural break at the midpoint of the daily
    purchase-revenue trend: fit y ~ t separately on each half and
    pooled, F = ((SSE_pooled - SSE_1 - SSE_2)/k) / ((SSE_1+SSE_2)/
    (n-2k)) — the REGRESSION-STABILITY member of the changepoint
    family (pettitt/binseg/cusum detect level shifts
    nonparametrically; Chow tests whether the fitted LINE's
    coefficients themselves moved at a known date, the
    deploy-day-regression question). Every SSE comes from the
    closed form over exact int64 power sums (dollars-scaled so the
    squares stay in range at sf 1), so both engines divide identical
    integers before the final doubles. The two-segment sums are one
    CASE-keyed aggregate; the pooled sums REUSE the segment partials
    (sum of sums), not a second scan. Scale shape: one daily
    aggregate, 2-row arithmetic."""
    daily = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("d"))
        .agg(
            F.expr(
                "CAST(sum(CAST(CASE WHEN value >= 0"
                " THEN floor(value * 100 + 0.5)"
                " ELSE -floor(-(value) * 100 + 0.5) END AS BIGINT))"
                " div 100 AS BIGINT)"
            ).alias("y")
        )
    )
    idx = daily.select(
        "y",
        F.row_number().over(W.orderBy("d")).alias("t"),
        F.count(F.lit(1)).over(W.partitionBy()).alias("n"),
    )
    seg = (
        idx.groupBy(
            F.expr("CASE WHEN t <= n div 2 THEN 1 ELSE 2 END").alias("s")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("t").cast("long").alias("st"),
            F.sum("y").cast("long").alias("sy"),
            F.sum(F.expr("t * t")).cast("long").alias("stt"),
            F.sum(F.expr("t * y")).cast("long").alias("sty"),
            F.sum(F.expr("y * y")).cast("long").alias("syy"),
        )
        .localCheckpoint(eager=False)
    )
    _sse = (
        "(syy - CAST(sy AS DOUBLE) * sy / n)"
        " - (sty - CAST(st AS DOUBLE) * sy / n)"
        " * (sty - CAST(st AS DOUBLE) * sy / n)"
        " / (stt - CAST(st AS DOUBLE) * st / n)"
    )
    sse = seg.select("s", "n", F.expr(_sse).alias("e"))
    pool = seg.agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("st").cast("long").alias("st"),
        F.sum("sy").cast("long").alias("sy"),
        F.sum("stt").cast("long").alias("stt"),
        F.sum("sty").cast("long").alias("sty"),
        F.sum("syy").cast("long").alias("syy"),
    )
    psse = pool.select("n", F.expr(_sse).alias("e"))
    split = sse.agg(F.sum("e").alias("sse_split"))
    return (
        psse.crossJoin(F.broadcast(split))
        .select(
            F.col("n").alias("n_days"),
            F.round(F.col("e"), 2).alias("sse_pooled"),
            F.round(F.col("sse_split"), 2).alias("sse_split"),
            F.round(
                F.expr(
                    "((e - sse_split) / 2) / (sse_split / (n - 4))"
                ),
                4,
            ).alias("chow_f"),
            F.expr(
                "CAST(CASE WHEN ((e - sse_split) / 2)"
                " / (sse_split / (n - 4)) > 3.37"
                " THEN 1 ELSE 0 END AS BIGINT)"
            ).alias("break_detected_5pct"),
        )
    )


# ===========================================================================
# Econometrics: one-lag Granger causality (clicks -> revenue)
# ===========================================================================

_GRANGER_ORACLE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d,
         CAST(sum(CASE WHEN event_type = 'purchase'
                       THEN CAST(round(value * 100) AS BIGINT)
                       ELSE 0 END) // 100 AS BIGINT) AS y,
         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              AS BIGINT) AS x
  FROM events GROUP BY 1
),
lagged AS (
  SELECT y AS w,
         lag(y) OVER (ORDER BY d) AS u,
         lag(x) OVER (ORDER BY d) AS v
  FROM daily
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(w) AS BIGINT) AS sw, CAST(sum(u) AS BIGINT) AS su,
         CAST(sum(v) AS BIGINT) AS sv,
         CAST(sum(u * u) AS BIGINT) AS suu,
         CAST(sum(v * v) AS BIGINT) AS svv,
         CAST(sum(u * v) AS BIGINT) AS suv,
         CAST(sum(u * w) AS BIGINT) AS suw,
         CAST(sum(v * w) AS BIGINT) AS svw,
         CAST(sum(w * w) AS BIGINT) AS sww
  FROM lagged WHERE u IS NOT NULL AND v IS NOT NULL
),
cen AS (
  SELECT n,
         suu - CAST(su AS DOUBLE) * su / n AS cuu,
         svv - CAST(sv AS DOUBLE) * sv / n AS cvv,
         suv - CAST(su AS DOUBLE) * sv / n AS cuv,
         suw - CAST(su AS DOUBLE) * sw / n AS cuw,
         svw - CAST(sv AS DOUBLE) * sw / n AS cvw,
         sww - CAST(sw AS DOUBLE) * sw / n AS cww
  FROM s
),
fit AS (
  SELECT n, cww,
         cww - cuw * cuw / cuu AS sse_r,
         cww - ((cuw * cvv - cvw * cuv) * cuw
                + (cvw * cuu - cuw * cuv) * cvw)
               / (cuu * cvv - cuv * cuv) AS sse_u
  FROM cen
)
SELECT n AS n_obs,
       round(sse_r, 2) AS sse_restricted,
       round(sse_u, 2) AS sse_unrestricted,
       round((sse_r - sse_u) / (sse_u / (n - 3)), 4) AS granger_f,
       round(1.0 - sse_u / cww, 6) AS r2_unrestricted,
       CAST(CASE WHEN (sse_r - sse_u) / (sse_u / (n - 3)) > 4.23
            THEN 1 ELSE 0 END AS BIGINT) AS clicks_cause_revenue_5pct
FROM fit
"""


@_register("granger_causality_onelag", _GRANGER_ORACLE)
def granger_causality_onelag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-lag Granger causality test of daily click volume on next-day
    purchase revenue: compare SSE of the restricted autoregression
    y_t ~ y_{t-1} against the unrestricted y_t ~ y_{t-1} + x_{t-1}
    (normal equations solved in closed form from centered second
    moments), F = (SSE_r - SSE_u)/(SSE_u/(n-3)) — the
    PREDICTIVE-causality member of the dependence family:
    lead_lag_cross_correlation measures association at a lag,
    lagged_mutual_information nonlinear association, Granger asks
    whether the lag IMPROVES A FORECAST that already knows the
    target's own history. All second moments are exact int64
    (dollar-scaled revenue); only the final solve is doubles. Scale
    shape: one daily aggregate, one lag window, one-row closed
    form."""
    daily = (
        _t(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("d"))
        .agg(
            F.expr(
                "CAST(sum(CASE WHEN event_type = 'purchase'"
                " THEN CAST(CASE WHEN value >= 0"
                " THEN floor(value * 100 + 0.5)"
                " ELSE -floor(-(value) * 100 + 0.5) END AS BIGINT)"
                " ELSE 0 END) div 100 AS BIGINT)"
            ).alias("y"),
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
            .cast("long")
            .alias("x"),
        )
    )
    w = W.orderBy("d")
    lagged = daily.select(
        F.col("y").alias("w"),
        F.lag("y").over(w).alias("u"),
        F.lag("x").over(w).alias("v"),
    ).filter(F.col("u").isNotNull() & F.col("v").isNotNull())
    s = lagged.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("w").cast("long").alias("sw"),
        F.sum("u").cast("long").alias("su"),
        F.sum("v").cast("long").alias("sv"),
        F.sum(F.expr("u * u")).cast("long").alias("suu"),
        F.sum(F.expr("v * v")).cast("long").alias("svv"),
        F.sum(F.expr("u * v")).cast("long").alias("suv"),
        F.sum(F.expr("u * w")).cast("long").alias("suw"),
        F.sum(F.expr("v * w")).cast("long").alias("svw"),
        F.sum(F.expr("w * w")).cast("long").alias("sww"),
    )
    cen = s.select(
        "n",
        F.expr("suu - CAST(su AS DOUBLE) * su / n").alias("cuu"),
        F.expr("svv - CAST(sv AS DOUBLE) * sv / n").alias("cvv"),
        F.expr("suv - CAST(su AS DOUBLE) * sv / n").alias("cuv"),
        F.expr("suw - CAST(su AS DOUBLE) * sw / n").alias("cuw"),
        F.expr("svw - CAST(sv AS DOUBLE) * sw / n").alias("cvw"),
        F.expr("sww - CAST(sw AS DOUBLE) * sw / n").alias("cww"),
    )
    fit = cen.select(
        "n",
        "cww",
        F.expr("cww - cuw * cuw / cuu").alias("sse_r"),
        F.expr(
            "cww - ((cuw * cvv - cvw * cuv) * cuw"
            " + (cvw * cuu - cuw * cuv) * cvw)"
            " / (cuu * cvv - cuv * cuv)"
        ).alias("sse_u"),
    )
    return fit.select(
        F.col("n").alias("n_obs"),
        F.round("sse_r", 2).alias("sse_restricted"),
        F.round("sse_u", 2).alias("sse_unrestricted"),
        F.round(
            F.expr("(sse_r - sse_u) / (sse_u / (n - 3))"), 4
        ).alias("granger_f"),
        F.round(F.expr("1.0 - sse_u / cww"), 6).alias("r2_unrestricted"),
        F.expr(
            "CAST(CASE WHEN (sse_r - sse_u) / (sse_u / (n - 3)) > 4.23"
            " THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("clicks_cause_revenue_5pct"),
    )


# ===========================================================================
# Econometrics: Breusch-Pagan heteroscedasticity test
# ===========================================================================

_BP_ORACLE = """
WITH pts AS (
  SELECT CAST(round(l_quantity * 100) AS BIGINT) AS x,
         CAST(round(l_extendedprice * 100) AS BIGINT) // 100 AS y
  FROM lineitem
),
s1 AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(x * y) AS BIGINT) AS sxy
  FROM pts
),
beta AS (
  SELECT n, sx, sy,
         (sxy - CAST(sx AS DOUBLE) * sy / n)
           / (sxx - CAST(sx AS DOUBLE) * sx / n) AS b
  FROM s1
),
resid AS (
  SELECT p.x,
         CAST(round((p.y - (CAST(b.sy AS DOUBLE) / b.n
                            + b.b * (p.x - CAST(b.sx AS DOUBLE) / b.n)))
                    * (p.y - (CAST(b.sy AS DOUBLE) / b.n
                              + b.b * (p.x - CAST(b.sx AS DOUBLE) / b.n))),
                    4) AS DECIMAL(38,4)) AS g
  FROM pts p CROSS JOIN beta b
),
s2 AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(CAST(sum(x * x) AS BIGINT) AS DOUBLE) AS sxx,
         CAST(sum(g) AS DOUBLE) AS sg,
         CAST(sum(CAST(round(CAST(g AS DOUBLE) * CAST(g AS DOUBLE), 2)
                       AS DECIMAL(38,2))) AS DOUBLE) AS sgg,
         CAST(sum(CAST(round(x * CAST(g AS DOUBLE), 2)
                       AS DECIMAL(38,2))) AS DOUBLE) AS sxg
  FROM resid
),
r2 AS (
  SELECT n,
         (sxg - CAST(sx AS DOUBLE) * sg / n)
         * (sxg - CAST(sx AS DOUBLE) * sg / n)
         / ((sxx - CAST(sx AS DOUBLE) * sx / n)
            * (sgg - sg * sg / n)) AS r2aux
  FROM s2
)
SELECT n AS n_obs,
       round(r2aux, 6) AS aux_r2,
       round(n * r2aux, 4) AS bp_lm_stat,
       CAST(CASE WHEN n * r2aux > 3.841 THEN 1 ELSE 0 END AS BIGINT)
         AS heteroscedastic_5pct
FROM r2
"""


@_register("breusch_pagan_heteroscedasticity", _BP_ORACLE)
def breusch_pagan_heteroscedasticity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Breusch-Pagan (Koenker form) heteroscedasticity test on the
    price ~ quantity regression over lineitem: fit OLS from exact
    integer moments, regress the SQUARED residuals back on the
    predictor, LM = n * R^2_aux ~ chi2(1) — large when the error
    variance moves with x, the assumption-check every OLS entry in
    the catalog (regression_trend_aggregates, ols_two_predictor,
    fixed-effects) silently leans on. The first-stage moments are
    pure int64; the per-row squared residual is one deterministic
    double expression, decimal-rounded BEFORE the second-stage sums
    so partial-aggregation order cannot drift them. Scale shape:
    two scans with mergeable aggregates (the first's 1-row result
    broadcast into the second), no shuffle wider than the scan."""
    pts = _t(spark, sf_dir, "lineitem").select(
        _cents("l_quantity").alias("x"),
        F.expr(
            "CAST(CASE WHEN l_extendedprice >= 0"
            " THEN floor(l_extendedprice * 100 + 0.5)"
            " ELSE -floor(-(l_extendedprice) * 100 + 0.5) END AS BIGINT)"
            " div 100"
        ).alias("y"),
    )
    s1 = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.expr("x * x")).cast("long").alias("sxx"),
        F.sum(F.expr("x * y")).cast("long").alias("sxy"),
    )
    beta = s1.select(
        "n",
        "sx",
        "sy",
        F.expr(
            "(sxy - CAST(sx AS DOUBLE) * sy / n)"
            " / (sxx - CAST(sx AS DOUBLE) * sx / n)"
        ).alias("b"),
    )
    resid = pts.crossJoin(F.broadcast(beta)).select(
        "x",
        F.expr(
            "CAST(round((y - (CAST(sy AS DOUBLE) / n"
            " + b * (x - CAST(sx AS DOUBLE) / n)))"
            " * (y - (CAST(sy AS DOUBLE) / n"
            " + b * (x - CAST(sx AS DOUBLE) / n))), 4) AS DECIMAL(38,4))"
        ).alias("g"),
    )
    s2 = resid.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.expr("CAST(CAST(sum(x * x) AS BIGINT) AS DOUBLE)").alias("sxx"),
        F.expr("CAST(sum(g) AS DOUBLE)").alias("sg"),
        F.expr(
            "CAST(sum(CAST(round(CAST(g AS DOUBLE) * CAST(g AS DOUBLE), 2)"
            " AS DECIMAL(38,2))) AS DOUBLE)"
        ).alias("sgg"),
        F.expr(
            "CAST(sum(CAST(round(x * CAST(g AS DOUBLE), 2)"
            " AS DECIMAL(38,2))) AS DOUBLE)"
        ).alias("sxg"),
    )
    r2 = s2.select(
        "n",
        F.expr(
            "(sxg - CAST(sx AS DOUBLE) * sg / n)"
            " * (sxg - CAST(sx AS DOUBLE) * sg / n)"
            " / ((sxx - CAST(sx AS DOUBLE) * sx / n)"
            " * (sgg - sg * sg / n))"
        ).alias("r2aux"),
    )
    return r2.select(
        F.col("n").alias("n_obs"),
        F.round("r2aux", 6).alias("aux_r2"),
        F.round(F.expr("n * r2aux"), 4).alias("bp_lm_stat"),
        F.expr(
            "CAST(CASE WHEN n * r2aux > 3.841 THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("heteroscedastic_5pct"),
    )


# ===========================================================================
# Randomness: Bartels rank von Neumann ratio test
# ===========================================================================

_BARTELS_ORACLE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
  FROM events WHERE event_type = 'purchase' GROUP BY 1
),
rk AS (
  SELECT row_number() OVER (ORDER BY x, d) AS r, d FROM daily
),
seq AS (
  SELECT r, lead(r) OVER (ORDER BY d) AS rn, count(*) OVER () AS n
  FROM rk
),
agg AS (
  SELECT CAST(max(n) AS BIGINT) AS n,
         CAST(sum((r - rn) * (r - rn)) AS BIGINT) AS nm
  FROM seq WHERE rn IS NOT NULL
)
SELECT n AS n_days,
       nm AS nm_stat,
       CAST(12000 * nm // (n * (n * n - 1)) AS BIGINT) AS rvn_milli,
       CAST((12000 * nm // (n * (n * n - 1)) - 2000)
            * (12000 * nm // (n * (n * n - 1)) - 2000) * n // 4000
            AS BIGINT) AS z2_milli,
       CAST(CASE WHEN (12000 * nm // (n * (n * n - 1)) - 2000)
                      * (12000 * nm // (n * (n * n - 1)) - 2000) * n
                      // 4000 > 3841
            THEN 1 ELSE 0 END AS BIGINT) AS nonrandom_5pct
FROM agg
"""


@_register("bartels_rank_von_neumann", _BARTELS_ORACLE)
def bartels_rank_von_neumann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartels' rank version of the von Neumann ratio test for
    randomness of the daily purchase-revenue sequence: RVN =
    sum (r_i - r_{i+1})^2 / (n(n^2-1)/12) over the day-ordered RANKS
    — E[RVN]=2 under randomness, small values flag trending (slowly
    wandering ranks), large values flag alternation. The rank-based
    member of the randomness family (runs_test_median dichotomizes,
    turning_points counts local extrema, ljung_box needs moments;
    Bartels keeps full ordinal information with no distributional
    assumption). Exact throughout: integer rank differences, the
    ratio and the asymptotic z^2 = (RVN-2)^2 * n / 4 milli-scaled
    with truncating division. Scale shape: one daily aggregate, one
    rank window, one lead window, one-row arithmetic."""
    daily = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("d"))
        .agg(
            F.sum(
                F.expr(
                    "CAST(CASE WHEN value >= 0"
                    " THEN floor(value * 100 + 0.5)"
                    " ELSE -floor(-(value) * 100 + 0.5) END AS BIGINT)"
                )
            )
            .cast("long")
            .alias("x")
        )
    )
    rk = daily.select("d", F.row_number().over(W.orderBy("x", "d")).alias("r"))
    seq = rk.select(
        "r",
        F.lead("r").over(W.orderBy("d")).alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy()).alias("n"),
    )
    agg = seq.filter(F.col("rn").isNotNull()).agg(
        F.max("n").cast("long").alias("n"),
        F.sum(F.expr("(r - rn) * (r - rn)")).cast("long").alias("nm"),
    )
    return agg.select(
        F.col("n").alias("n_days"),
        F.col("nm").alias("nm_stat"),
        F.expr("CAST(12000 * nm div (n * (n * n - 1)) AS BIGINT)").alias(
            "rvn_milli"
        ),
        F.expr(
            "CAST((12000 * nm div (n * (n * n - 1)) - 2000)"
            " * (12000 * nm div (n * (n * n - 1)) - 2000) * n div 4000"
            " AS BIGINT)"
        ).alias("z2_milli"),
        F.expr(
            "CAST(CASE WHEN (12000 * nm div (n * (n * n - 1)) - 2000)"
            " * (12000 * nm div (n * (n * n - 1)) - 2000) * n"
            " div 4000 > 3841"
            " THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("nonrandom_5pct"),
    )
