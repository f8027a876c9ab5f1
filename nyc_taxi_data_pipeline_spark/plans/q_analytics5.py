"""Analytics & statistics catalog, part 5 — the round-5 wave.

Time-series diagnostics (Ljung-Box portmanteau, Theil's U2 vs seasonal
naive, binary-segmentation changepoint), classifier/ranker evaluation
(lift/gain deciles, MAP@k, Brier decomposition), variance-homogeneity
testing (Brown-Forsythe), and referential-integrity / IVM warehouse ops.
Same contract as every other family module: DataFrame-first Spark plans
with full DuckDB value oracles; exact integer/ppm lanes wherever the
statistic is rational (the DECIMAL(38,0) `div` / HUGEINT `//` truncating
idiom for 128-bit intermediates), so every entry value-hashes bit-stably
cross-engine. All final integer output columns are BIGINT on BOTH lanes
(the round-4 HUGEINT lesson: tests/oracle_harness.py now enforces the
canonical dtype lattice).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from nyc_taxi_data_pipeline_spark.operators.graph import undirected
from nyc_taxi_data_pipeline_spark.plans._base import (
    _register,
    _t,
    cosupply_edges,
    exact_ntile,
    tiered_global_rank,
)

__all__: list[str] = []


def _cents(col: str) -> F.Column:
    return F.expr(f"CAST(round({col} * 100) AS BIGINT)")


# Shared daily-revenue frame: purchase events rolled up to one exact
# integer (cents) per day — the same base series bollinger/durbin-watson/
# cusum use, so the diagnostics family reads one consistent hypertable.
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
# Time-series diagnostics
# ===========================================================================

_LJUNG_BOX_ORACLE = (
    "WITH "
    + _DAILY_SQL
    + """,
tot AS (SELECT count(*) AS n, sum(x) AS s FROM daily),
dev AS (
  -- scaled deviation n*x - S  (= n * (x - mean), integer-exact)
  SELECT d, CAST(t.n * daily.x - t.s AS HUGEINT) AS e
  FROM daily, tot t
),
lagd AS (
  SELECT e,
         lag(e, 1) OVER (ORDER BY d) AS e1,
         lag(e, 2) OVER (ORDER BY d) AS e2,
         lag(e, 3) OVER (ORDER BY d) AS e3
  FROM dev
),
ag AS (
  SELECT sum(e * e)  AS den,
         sum(e * e1) AS n1,
         sum(e * e2) AS n2,
         sum(e * e3) AS n3
  FROM lagd
),
acs AS (
  SELECT k.k,
         CAST(1000 * (CASE k.k WHEN 1 THEN a.n1 WHEN 2 THEN a.n2
                               ELSE a.n3 END) // a.den AS BIGINT) AS ac_milli
  FROM ag a, (VALUES (1), (2), (3)) k(k)
)
SELECT a.k AS lag_k,
       a.ac_milli,
       CAST(t.n * (t.n + 2)
            * sum(a.ac_milli * a.ac_milli // (t.n - a.k))
              OVER (ORDER BY a.k)
            // 1000 AS BIGINT) AS q_cum_milli
FROM acs a, tot t
ORDER BY a.k
"""
)


@_register("ljung_box_portmanteau", _LJUNG_BOX_ORACLE)
def ljung_box_portmanteau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau test of daily-revenue autocorrelation at lags
    1..3 — the residual-whiteness diagnostic run after any forecast fit
    (completes the ACF/PACF/Durbin-Watson family with the joint test).
    Autocorrelations are computed on integer-scaled deviations
    e_t = n*x_t - S (so no float mean enters), r_k in exact milli via one
    128-bit division, and Q_k = n(n+2) * cumsum(r_k^2 / (n-k)) on the
    3-row lag frame — every arithmetic step is the same truncating
    integer recipe on both lanes. Scale shape: one day rollup (shuffle to
    ~|days| rows), three lag windows + one aggregate on the tiny daily
    frame; the 1-row totals broadcast."""
    daily = _daily(spark, sf_dir)
    tot = daily.agg(
        F.count(F.lit(1)).alias("n"), F.sum("x").alias("s")
    )
    dev = daily.crossJoin(F.broadcast(tot)).select(
        "d",
        "n",
        F.expr("CAST(n * x - s AS DECIMAL(38,0))").alias("e"),
    )
    w = W.orderBy("d")
    lagd = dev.select(
        "n",
        "e",
        F.lag("e", 1).over(w).alias("e1"),
        F.lag("e", 2).over(w).alias("e2"),
        F.lag("e", 3).over(w).alias("e3"),
    )
    ag = lagd.groupBy("n").agg(
        F.sum(F.expr("e * e")).alias("den"),
        F.sum(F.expr("e * e1")).alias("n1"),
        F.sum(F.expr("e * e2")).alias("n2"),
        F.sum(F.expr("e * e3")).alias("n3"),
    )
    ks = spark.range(1, 4).select(F.col("id").cast("int").alias("k"))
    acs = ks.crossJoin(F.broadcast(ag)).select(
        "k",
        "n",
        F.expr(
            "CAST(1000 * (CASE k WHEN 1 THEN n1 WHEN 2 THEN n2 ELSE n3 END)"
            " div den AS BIGINT)"
        ).alias("ac_milli"),
    )
    wk = W.orderBy("k")
    return acs.select(
        F.col("k").alias("lag_k"),
        "ac_milli",
        F.expr("n * (n + 2)").alias("_nn"),
        F.sum(F.expr("ac_milli * ac_milli div (n - k)")).over(wk).alias("_c"),
    ).select(
        "lag_k",
        "ac_milli",
        F.expr("CAST(_nn * _c div 1000 AS BIGINT)").alias("q_cum_milli"),
    ).orderBy("lag_k")


_THEIL_U2_ORACLE = (
    "WITH "
    + _DAILY_SQL
    + """,
lagd AS (
  SELECT x,
         lag(x, 1) OVER (ORDER BY d) AS x1,
         lag(x, 7) OVER (ORDER BY d) AS x7
  FROM daily
),
ev AS (SELECT * FROM lagd WHERE x7 IS NOT NULL)
SELECT CAST(count(*) AS BIGINT) AS n_eval_days,
       CAST(1000000 * sum(CAST(x - x7 AS HUGEINT) * (x - x7))
            // sum(CAST(x - x1 AS HUGEINT) * (x - x1)) AS BIGINT)
         AS u2_sq_ppm
FROM ev
"""
)


@_register("theil_u2_seasonal", _THEIL_U2_ORACLE)
def theil_u2_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil's U2 forecast-quality ratio of the weekly seasonal-naive
    forecast (x_{t-7}) against the no-change naive (x_{t-1}) on daily
    revenue: U2^2 = sum((x_t - x_{t-7})^2) / sum((x_t - x_{t-1})^2) over
    the days where both lags exist — below 1e6 ppm means the seasonal
    model beats drift, the decision number behind 'is weekly seasonality
    real enough to model'. Squares ride 128-bit lanes; one exact division
    lands the ppm readout. Companion to mase_forecast_eval (absolute
    errors) with the squared-error / relative-to-naive view. Scale shape:
    day rollup + two lag windows on the tiny daily frame, one aggregate."""
    daily = _daily(spark, sf_dir)
    w = W.orderBy("d")
    lagd = daily.select(
        "x",
        F.lag("x", 1).over(w).alias("x1"),
        F.lag("x", 7).over(w).alias("x7"),
    ).filter(F.col("x7").isNotNull())
    return lagd.agg(
        F.count(F.lit(1)).alias("n_eval_days"),
        F.expr(
            "CAST(1000000 * sum(CAST(x - x7 AS DECIMAL(38,0)) * (x - x7))"
            " div sum(CAST(x - x1 AS DECIMAL(38,0)) * (x - x1)) AS BIGINT)"
        ).alias("u2_sq_ppm"),
    )


_BINSEG_ORACLE = (
    "WITH "
    + _DAILY_SQL
    + """,
pre AS (
  SELECT d,
         row_number() OVER (ORDER BY d) AS t,
         sum(x) OVER (ORDER BY d) AS st
  FROM daily
),
tot AS (SELECT count(*) AS n, sum(x) AS s FROM daily),
scores AS (
  SELECT p.d, p.t,
         CAST(CAST(t2.n * p.st - p.t * t2.s AS HUGEINT)
              * (t2.n * p.st - p.t * t2.s)
              // (CAST(t2.n AS HUGEINT) * p.t * (t2.n - p.t))
              AS BIGINT) AS gain_cents2,
         CAST(1000 * p.st // p.t AS BIGINT) AS mean_left_milli,
         CAST(1000 * (t2.s - p.st) // (t2.n - p.t) AS BIGINT)
           AS mean_right_milli
  FROM pre p, tot t2
  WHERE p.t < t2.n
)
SELECT d AS split_day, t AS split_pos, gain_cents2,
       mean_left_milli, mean_right_milli
FROM scores
ORDER BY gain_cents2 DESC, d
LIMIT 1
"""
)


@_register("binseg_changepoint_daily", _BINSEG_ORACLE)
def binseg_changepoint_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-segmentation changepoint detection (one split) on daily
    revenue: the best split t maximizes the between-segment SSE reduction
    gain(t) = (n*S_t - t*S)^2 / (n * t * (n-t)) — the exact integer form
    of t(n-t)/n * (mean_L - mean_R)^2, derived from one prefix-cumsum
    window, no per-split rescan. Reports the argmax day with both segment
    means. The LEVEL-shift complement to pettitt_changepoint_daily's
    rank-based test and cusum's sequential screen; iterating the same
    primitive on each half is full binary segmentation. Scale shape: one
    day rollup, one cumsum window, one TakeOrdered(1) over |days| rows."""
    daily = _daily(spark, sf_dir)
    pre = daily.select(
        "d",
        F.row_number().over(W.orderBy("d")).alias("t"),
        F.sum("x").over(
            W.orderBy("d").rowsBetween(W.unboundedPreceding, W.currentRow)
        ).alias("st"),
    )
    tot = daily.agg(F.count(F.lit(1)).alias("n"), F.sum("x").alias("s"))
    scores = (
        pre.crossJoin(F.broadcast(tot))
        .filter(F.col("t") < F.col("n"))
        .select(
            "d",
            "t",
            F.expr(
                "CAST(CAST(n * st - t * s AS DECIMAL(38,0))"
                " * (n * st - t * s)"
                " div (CAST(n AS DECIMAL(38,0)) * t * (n - t)) AS BIGINT)"
            ).alias("gain_cents2"),
            F.expr("CAST(1000 * st div t AS BIGINT)").alias(
                "mean_left_milli"
            ),
            F.expr(
                "CAST(1000 * (s - st) div (n - t) AS BIGINT)"
            ).alias("mean_right_milli"),
        )
    )
    return (
        scores.orderBy(F.col("gain_cents2").desc(), "d")
        .limit(1)
        .select(
            F.col("d").alias("split_day"),
            F.col("t").alias("split_pos"),
            "gain_cents2",
            "mean_left_milli",
            "mean_right_milli",
        )
    )


# ===========================================================================
# Ranker / classifier evaluation
# ===========================================================================

_LIFT_GAIN_ORACLE = """
WITH scored AS (
  SELECT doc_id, n_chars AS score,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
  FROM documents
),
dec AS (
  SELECT pos, ntile(10) OVER (ORDER BY score DESC, doc_id) AS decile
  FROM scored
),
per AS (
  SELECT decile, count(*) AS n_docs,
         CAST(sum(pos) AS BIGINT) AS n_pos
  FROM dec GROUP BY decile
),
tot AS (SELECT sum(n_docs) AS n, sum(n_pos) AS p FROM per),
cum AS (
  SELECT decile, n_docs, n_pos,
         sum(n_docs) OVER (ORDER BY decile) AS cum_n,
         sum(n_pos)  OVER (ORDER BY decile) AS cum_pos
  FROM per
)
SELECT c.decile, c.n_docs, c.n_pos,
       CAST(c.cum_pos AS BIGINT) AS cum_pos,
       CAST(1000000 * c.cum_pos // t.p AS BIGINT) AS gain_ppm,
       CAST(1000 * c.cum_pos * t.n // (t.p * c.cum_n) AS BIGINT)
         AS lift_milli
FROM cum c, tot t
ORDER BY c.decile
"""


@_register("lift_gain_deciles", _LIFT_GAIN_ORACLE)
def lift_gain_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative gains and lift table — the campaign-targeting view of a
    ranker that pr_curve_points (precision/recall) and roc_curve_points
    (TPR/FPR) don't show: 'mailing the top-k deciles captures gain_ppm of
    all positives, lift_milli times better than random'. Deciles come
    from one ntile window over (score DESC, doc_id) — a total order, so
    both engines bucket identically; gains/lift are exact integer
    rationals. Scale shape: one global-order window at |docs| rows (at
    100 TB: range-partitioned rank, the length_bucket_padding recipe),
    then a 10-row frame."""
    scored = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.col("n_chars").alias("score"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
    )
    dec = scored.select(
        "pos",
        F.ntile(10)
        .over(W.orderBy(F.col("score").desc(), "doc_id"))
        .alias("decile"),
    )
    per = dec.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("pos").cast("long").alias("n_pos"),
    )
    tot = per.agg(F.sum("n_docs").alias("n"), F.sum("n_pos").alias("p"))
    wc = W.orderBy("decile")
    cum = per.select(
        "decile",
        "n_docs",
        "n_pos",
        F.sum("n_docs").over(wc).alias("cum_n"),
        F.sum("n_pos").over(wc).alias("cum_pos"),
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .select(
            "decile",
            "n_docs",
            "n_pos",
            F.col("cum_pos").cast("long").alias("cum_pos"),
            F.expr("CAST(1000000 * cum_pos div p AS BIGINT)").alias(
                "gain_ppm"
            ),
            F.expr(
                "CAST(1000 * cum_pos * n div (p * cum_n) AS BIGINT)"
            ).alias("lift_milli"),
        )
        .orderBy("decile")
    )


_MAP_AT_K_ORACLE = """
WITH ranked AS (
  SELECT doc_id, lang,
         row_number() OVER (ORDER BY n_chars DESC, doc_id) AS rnk
  FROM documents
),
top20 AS (SELECT * FROM ranked WHERE rnk <= 20),
langs AS (SELECT lang, count(*) AS r_total FROM documents GROUP BY lang),
hits AS (
  SELECT l.lang, t.rnk,
         CASE WHEN t.lang = l.lang THEN 1 ELSE 0 END AS rel
  FROM langs l CROSS JOIN top20 t
),
cumhits AS (
  SELECT lang, rnk, rel,
         sum(rel) OVER (PARTITION BY lang ORDER BY rnk) AS cum_rel
  FROM hits
),
ap AS (
  SELECT c.lang,
         CAST(coalesce(sum(CASE WHEN c.rel = 1
                    THEN 1000000 * c.cum_rel // c.rnk END), 0) AS BIGINT)
           AS ap_num_ppm,
         CAST(max(c.cum_rel) AS BIGINT) AS hits_at_20
  FROM cumhits c
  GROUP BY c.lang
)
SELECT a.lang,
       CAST(l.r_total AS BIGINT) AS r_total,
       a.hits_at_20,
       CAST(a.ap_num_ppm // least(l.r_total, 20) AS BIGINT) AS ap_ppm
FROM ap a JOIN langs l ON l.lang = a.lang
ORDER BY a.lang
"""


@_register("map_at_k_retrieval", _MAP_AT_K_ORACLE)
def map_at_k_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average precision at k=20 per language 'query' over one global
    length ranking: AP@20 = (sum over hit positions i of P@i) / min(R, 20)
    in exact ppm (each P@i is one integer division, the sum then divides
    by the recall base) — the order-sensitive companion to
    ndcg_graded_retrieval (graded gains) and reciprocal_rank_fusion
    (first-hit only): AP integrates precision over EVERY hit. The shared
    top-20 panel is computed once and broadcast against the 5-language
    query set. Scale shape: one TakeOrdered(20) over docs, a 5x20
    broadcast cross, windows on 100 rows."""
    docs = _t(spark, sf_dir, "documents")
    ranked = docs.select(
        "doc_id",
        "lang",
        F.row_number()
        .over(W.orderBy(F.col("n_chars").desc(), "doc_id"))
        .alias("rnk"),
    )
    top20 = ranked.filter(F.col("rnk") <= 20).select(
        F.col("lang").alias("doc_lang"), "rnk"
    )
    langs = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("r_total"))
    hits = langs.crossJoin(F.broadcast(top20)).select(
        "lang",
        "r_total",
        "rnk",
        F.when(F.col("doc_lang") == F.col("lang"), 1).otherwise(0).alias(
            "rel"
        ),
    )
    wl = W.partitionBy("lang").orderBy("rnk")
    cumhits = hits.select(
        "lang", "r_total", "rnk", "rel", F.sum("rel").over(wl).alias("cum_rel")
    )
    return (
        cumhits.groupBy("lang", "r_total")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("rel") == 1,
                        F.expr("1000000 * cum_rel div rnk"),
                    )
                ),
                F.lit(0),
            ).alias("ap_num_ppm"),
            F.max("cum_rel").cast("long").alias("hits_at_20"),
        )
        .select(
            "lang",
            F.col("r_total").cast("long").alias("r_total"),
            "hits_at_20",
            F.expr(
                "CAST(ap_num_ppm div least(r_total, 20) AS BIGINT)"
            ).alias("ap_ppm"),
        )
        .orderBy("lang")
    )


_BRIER_ORACLE = """
WITH scored AS (
  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
         ntile(10) OVER (ORDER BY n_chars DESC, doc_id) AS decile
  FROM documents
),
bins AS (
  SELECT decile,
         CAST((11 - decile) * 100000 AS BIGINT) AS p_ppm,
         count(*) AS n_b,
         sum(y) AS pos_b
  FROM scored GROUP BY decile
),
tot AS (
  SELECT sum(n_b) AS n, sum(pos_b) AS p,
         CAST(1000000 * sum(pos_b) // sum(n_b) AS BIGINT) AS obar_ppm
  FROM bins
),
terms AS (
  SELECT b.n_b, b.pos_b, b.p_ppm,
         CAST(1000000 * b.pos_b // b.n_b AS BIGINT) AS o_ppm
  FROM bins b
)
SELECT CAST(t.n AS BIGINT) AS n_docs,
       t.obar_ppm,
       CAST(sum(x.n_b * ((x.p_ppm - x.o_ppm) * (x.p_ppm - x.o_ppm)
                         // 1000000)) // t.n AS BIGINT) AS reliability_ppm,
       CAST(sum(x.n_b * ((x.o_ppm - t.obar_ppm) * (x.o_ppm - t.obar_ppm)
                         // 1000000)) // t.n AS BIGINT) AS resolution_ppm,
       CAST(t.obar_ppm * (1000000 - t.obar_ppm) // 1000000 AS BIGINT)
         AS uncertainty_ppm,
       CAST(sum(x.n_b * CAST(x.p_ppm AS HUGEINT) * x.p_ppm
                - 2000000 * CAST(x.p_ppm AS HUGEINT) * x.pos_b
                + 1000000000000 * CAST(x.pos_b AS HUGEINT))
            // (1000000 * CAST(t.n AS HUGEINT)) AS BIGINT) AS brier_ppm
FROM terms x, tot t
GROUP BY t.n, t.obar_ppm
"""


@_register("brier_score_decomposition", _BRIER_ORACLE)
def brier_score_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of the Brier score over 10 prediction bins
    (reliability - resolution + uncertainty), the diagnostic BEHIND
    calibration_reliability_bins' per-bin diagram: one number each for
    'how miscalibrated', 'how much the bins separate outcomes', and the
    outcome-base-rate floor. Bin forecasts are the decile midpoint ladder
    (11-decile)/10; every term is an exact ppm rational (squares ride the
    ppm grid with explicit //1e6 rescales, identical on both lanes), and
    the direct Brier expansion sum(n_b p^2 - 2e6 p pos_b + 1e12 pos_b)
    / (1e6 N) rides along in ppm as the executed Murphy-identity check
    (pytest pins |REL - RES + UNC - Brier| to grid-truncation error). Scale shape: one ntile
    window, a 10-row frame, 1-row totals broadcast."""
    scored = _t(spark, sf_dir, "documents").select(
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
        F.ntile(10)
        .over(W.orderBy(F.col("n_chars").desc(), "doc_id"))
        .alias("decile"),
    )
    bins = scored.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_b"), F.sum("y").alias("pos_b")
    ).select(
        "decile",
        F.expr("CAST((11 - decile) * 100000 AS BIGINT)").alias("p_ppm"),
        "n_b",
        "pos_b",
    )
    tot = bins.agg(
        F.sum("n_b").alias("n"),
        F.sum("pos_b").alias("p"),
        F.expr(
            "CAST(1000000 * sum(pos_b) div sum(n_b) AS BIGINT)"
        ).alias("obar_ppm"),
    )
    terms = bins.select(
        "n_b",
        "pos_b",
        "p_ppm",
        F.expr("CAST(1000000 * pos_b div n_b AS BIGINT)").alias("o_ppm"),
    )
    return (
        terms.crossJoin(F.broadcast(tot))
        .groupBy("n", "obar_ppm")
        .agg(
            F.expr(
                "CAST(sum(n_b * ((p_ppm - o_ppm) * (p_ppm - o_ppm)"
                " div 1000000)) div n AS BIGINT)"
            ).alias("reliability_ppm"),
            F.expr(
                "CAST(sum(n_b * ((o_ppm - obar_ppm) * (o_ppm - obar_ppm)"
                " div 1000000)) div n AS BIGINT)"
            ).alias("resolution_ppm"),
            F.expr(
                "CAST(max(obar_ppm) * (1000000 - max(obar_ppm))"
                " div 1000000 AS BIGINT)"
            ).alias("uncertainty_ppm"),
            F.expr(
                "CAST(sum(n_b * CAST(p_ppm AS DECIMAL(38,0)) * p_ppm"
                " - 2000000 * CAST(p_ppm AS DECIMAL(38,0)) * pos_b"
                " + 1000000000000 * CAST(pos_b AS DECIMAL(38,0)))"
                " div (1000000 * CAST(max(n) AS DECIMAL(38,0)))"
                " AS BIGINT)"
            ).alias("brier_ppm"),
        )
        .select(
            F.col("n").cast("long").alias("n_docs"),
            "obar_ppm",
            "reliability_ppm",
            "resolution_ppm",
            "uncertainty_ppm",
            "brier_ppm",
        )
    )


# ===========================================================================
# Variance homogeneity + exponential smoothing
# ===========================================================================

_LEVENE_BF_ORACLE = """
WITH s AS (
  SELECT event_type AS grp, CAST(round(value * 100) AS BIGINT) AS v
  FROM events
),
rk AS (
  SELECT grp, v,
         row_number() OVER (PARTITION BY grp ORDER BY v) AS rn,
         count(*) OVER (PARTITION BY grp) AS n_g
  FROM s
),
med AS (
  -- exact doubled median: x_((n+1)//2) + x_(n//2 + 1)
  SELECT grp,
         sum(CASE WHEN rn = (n_g + 1) // 2 THEN v ELSE 0 END)
         + sum(CASE WHEN rn = n_g // 2 + 1 THEN v ELSE 0 END) AS med2
  FROM rk GROUP BY grp
),
z AS (
  SELECT s.grp, abs(2 * s.v - m.med2) AS z
  FROM s JOIN med m ON m.grp = s.grp
),
g AS (
  SELECT grp, count(*) AS n_g, sum(z) AS zg,
         sum(CAST(z AS HUGEINT) * z) AS qg
  FROM z GROUP BY grp
),
gl AS (SELECT count(*) AS k, sum(n_g) AS n, sum(zg) AS ztot FROM g),
f AS (
  SELECT CAST(1000 * (gl.n - gl.k)
              * sum(CAST(gl.n * g.zg - g.n_g * gl.ztot AS HUGEINT)
                    * (gl.n * g.zg - g.n_g * gl.ztot) // g.n_g)
              // ((gl.k - 1) * CAST(gl.n AS HUGEINT) * gl.n
                  * sum((g.n_g * CAST(g.qg AS HUGEINT) - CAST(g.zg AS HUGEINT) * g.zg)
                        // g.n_g))
              AS BIGINT) AS f_milli,
         CAST(gl.k - 1 AS BIGINT) AS df1,
         CAST(gl.n - gl.k AS BIGINT) AS df2
  FROM g, gl GROUP BY gl.n, gl.k, gl.ztot
)
SELECT g.grp AS event_type,
       CAST(g.n_g AS BIGINT) AS n_g,
       CAST(m.med2 AS BIGINT) AS med2_cents,
       CAST(1000 * g.zg // g.n_g AS BIGINT) AS z_mean_milli,
       f.f_milli, f.df1, f.df2
FROM g JOIN med m ON m.grp = g.grp CROSS JOIN f
ORDER BY g.grp
"""


@_register("levene_brown_forsythe", _LEVENE_BF_ORACLE)
def levene_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe variance-homogeneity test across the five event
    types — the gatekeeper assumption check BEFORE trusting pooled-variance
    tests (cohens_d, two-sample t analogs): robust Levene on absolute
    deviations from the per-group MEDIAN. Doubled-median lanes keep the
    median integer-exact (x_(k1) + x_(k2)); the F statistic is one 128-bit
    rational — (N-k)/(k-1) * sum_g((N*Zg - n_g*Z)^2 / n_g) /
    (N^2 * sum_g((n_g*Qg - Zg^2) / n_g)) — in exact milli. Per-group
    deviation means ride along. Scale shape: one rank window per group
    (the single value shuffle), two bounded group aggregates, the 1-row F
    broadcast back onto 5 rows."""
    s = _t(spark, sf_dir, "events").select(
        F.col("event_type").alias("grp"), _cents("value").alias("v")
    )
    wg = W.partitionBy("grp").orderBy("v")
    rk = s.select(
        "grp",
        "v",
        F.row_number().over(wg).alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy("grp")).alias("n_g"),
    )
    med = rk.groupBy("grp").agg(
        (
            F.sum(F.when(F.expr("rn = (n_g + 1) div 2"), F.col("v")).otherwise(0))
            + F.sum(F.when(F.expr("rn = n_g div 2 + 1"), F.col("v")).otherwise(0))
        ).alias("med2")
    )
    z = s.join(med, "grp").select(
        "grp", F.expr("abs(2 * v - med2)").alias("z")
    )
    g = z.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_g"),
        F.sum("z").alias("zg"),
        F.sum(F.expr("CAST(z AS DECIMAL(38,0)) * z")).alias("qg"),
    ).localCheckpoint(eager=False)
    gl = g.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n_g").alias("n"),
        F.sum("zg").alias("ztot"),
    )
    fstat = (
        g.crossJoin(F.broadcast(gl))
        .agg(
            # NB: Spark `div` (IntegralDivide) returns BIGINT even on
            # DECIMAL operands, so the summed A-terms must be cast BACK to
            # DECIMAL before the (N-k) scale-up or the long lane overflows.
            F.expr(
                "CAST(1000 * (max(n) - max(k))"
                " * CAST(sum(CAST(n * zg - n_g * ztot AS DECIMAL(38,0))"
                "       * (n * zg - n_g * ztot) div n_g) AS DECIMAL(38,0))"
                " div ((max(k) - 1) * CAST(max(n) AS DECIMAL(38,0)) * max(n)"
                "      * CAST(sum((n_g * CAST(qg AS DECIMAL(38,0))"
                "             - CAST(zg AS DECIMAL(38,0)) * zg) div n_g)"
                "             AS DECIMAL(38,0)))"
                " AS BIGINT)"
            ).alias("f_milli"),
            F.expr("CAST(max(k) - 1 AS BIGINT)").alias("df1"),
            F.expr("CAST(max(n) - max(k) AS BIGINT)").alias("df2"),
        )
    )
    return (
        g.join(med, "grp")
        .crossJoin(F.broadcast(fstat))
        .select(
            F.col("grp").alias("event_type"),
            F.col("n_g").cast("long").alias("n_g"),
            F.col("med2").cast("long").alias("med2_cents"),
            F.expr("CAST(1000 * zg div n_g AS BIGINT)").alias("z_mean_milli"),
            "f_milli",
            "df1",
            "df2",
        )
        .orderBy("event_type")
    )


_HOLT_ORACLE = (
    "WITH RECURSIVE "
    + _DAILY_SQL.strip().lstrip()
    + """,
idx AS (SELECT row_number() OVER (ORDER BY d) AS t, x FROM daily),
n AS (SELECT count(*) AS n FROM idx),
rec AS (
  SELECT 1 AS t,
         CAST(1000 * (SELECT x FROM idx WHERE t = 1) AS BIGINT) AS l,
         CAST(1000 * ((SELECT x FROM idx WHERE t = 2)
                      - (SELECT x FROM idx WHERE t = 1)) AS BIGINT) AS b
  UNION ALL
  SELECT r.t + 1,
         (200000 * i.x + 800 * (r.l + r.b)) // 1000,
         (100 * ((200000 * i.x + 800 * (r.l + r.b)) // 1000)
          - 100 * r.l + 900 * r.b) // 1000
  FROM rec r JOIN idx i ON i.t = r.t + 1
)
SELECT CAST(n.n AS BIGINT) AS n_days,
       r.l AS level_milli,
       r.b AS trend_milli,
       r.l + 7 * r.b AS forecast_7d_milli
FROM rec r, n WHERE r.t = n.n
"""
)


@_register("holt_linear_smoothing", _HOLT_ORACLE)
def holt_linear_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double exponential smoothing (level + trend, alpha=0.2,
    beta=0.1) over daily revenue, with a 7-day-ahead linear forecast —
    the sequential-state companion to the catalog's window-based
    smoothers (ewma_daily_event_counts is single-parameter level-only;
    croston handles intermittency): l_t = 0.2*x_t + 0.8*(l+b),
    b_t = 0.1*(l_t - l_{t-1}) + 0.9*b_t{-1}, folded in integer
    milli-cents with truncating division so the recursion value-checks
    bit-for-bit (oracle runs the identical recurrence as a recursive
    CTE). Scale shape: the fold runs over ONE bounded array (<= |days|
    elements) after the day rollup — per-series state never shuffles,
    and a 100 TB deployment folds each series independently inside
    aggregate()."""
    daily = _daily(spark, sf_dir)
    arr = daily.agg(
        F.sort_array(F.collect_list(F.struct("d", "x"))).alias("s")
    ).select(F.expr("transform(s, r -> r.x)").alias("xs"))
    return arr.select(
        F.expr("CAST(size(xs) AS BIGINT)").alias("n_days"),
        F.expr(
            "aggregate(slice(xs, 2, size(xs) - 1),"
            " named_struct("
            "   'l', CAST(1000 * element_at(xs, 1) AS BIGINT),"
            "   'b', CAST(1000 * (element_at(xs, 2) - element_at(xs, 1))"
            "        AS BIGINT)),"
            " (acc, x) -> named_struct("
            "   'l', (200000 * x + 800 * (acc.l + acc.b)) div 1000,"
            "   'b', (100 * ((200000 * x + 800 * (acc.l + acc.b)) div 1000)"
            "         - 100 * acc.l + 900 * acc.b) div 1000))"
        ).alias("st"),
    ).select(
        "n_days",
        F.col("st.l").alias("level_milli"),
        F.col("st.b").alias("trend_milli"),
        F.expr("st.l + 7 * st.b").alias("forecast_7d_milli"),
    )


# ===========================================================================
# Tail risk, resampling, sequential testing, monotone fit
# ===========================================================================

_VAR_CVAR_ORACLE = (
    "WITH "
    + _DAILY_SQL
    + """,
diffs AS (
  SELECT x - lag(x) OVER (ORDER BY d) AS dx
  FROM daily
  QUALIFY dx IS NOT NULL
),
n AS (SELECT count(*) AS n, greatest(1, (10 * count(*)) // 100) AS k
      FROM diffs),
rk AS (
  SELECT dx, row_number() OVER (ORDER BY dx, dx) AS rn
  FROM diffs
)
SELECT CAST(n.n AS BIGINT) AS n_days,
       CAST(n.k AS BIGINT) AS k_tail,
       CAST(max(CASE WHEN rk.rn = n.k THEN rk.dx END) AS BIGINT)
         AS var10_cents,
       CAST(1000 * sum(CASE WHEN rk.rn <= n.k THEN rk.dx ELSE 0 END)
            // n.k AS BIGINT) AS cvar10_milli
FROM rk, n
GROUP BY n.n, n.k
"""
)


@_register("historical_var_cvar", _VAR_CVAR_ORACLE)
def historical_var_cvar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Historical Value-at-Risk and CVaR (expected shortfall) at the 10%
    tail of day-over-day revenue CHANGES: VaR is the k-th worst observed
    change (k = ceil-free 10% order statistic), CVaR the exact mean of
    the k worst — the coherent tail-risk companion to
    sharpe_ratio_monthly_revenue (volatility-adjusted level) and
    max_drawdown_monthly_revenue (path risk): CVaR answers 'when the bad
    10% of days happen, HOW bad on average'. Both are order statistics +
    one exact division — no distributional assumption. Scale shape: day
    rollup, one lag window, one rank window on the tiny diff frame."""
    daily = _daily(spark, sf_dir)
    diffs = (
        daily.select((F.col("x") - F.lag("x").over(W.orderBy("d"))).alias("dx"))
        .filter(F.col("dx").isNotNull())
        .localCheckpoint(eager=False)
    )
    n = diffs.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("greatest(1, (10 * count(*)) div 100)").alias("k"),
    )
    rk = diffs.select(
        "dx", F.row_number().over(W.orderBy("dx")).alias("rn")
    )
    return (
        rk.crossJoin(F.broadcast(n))
        .groupBy("n", "k")
        .agg(
            F.max(F.when(F.col("rn") == F.col("k"), F.col("dx")))
            .cast("long")
            .alias("var10_cents"),
            F.expr(
                "CAST(1000 * sum(CASE WHEN rn <= k THEN dx ELSE 0 END)"
                " div max(k) AS BIGINT)"
            ).alias("cvar10_milli"),
        )
        .select(
            F.col("n").cast("long").alias("n_days"),
            F.col("k").cast("long").alias("k_tail"),
            "var10_cents",
            "cvar10_milli",
        )
    )


_PERM_TEST_ORACLE = """
WITH s AS (
  SELECT event_id, CAST(round(value * 100) AS BIGINT) AS v,
         CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS grp
  FROM events WHERE event_type IN ('click', 'view')
),
tot AS (
  SELECT sum(grp) AS n1, sum(1 - grp) AS n2,
         sum(CASE WHEN grp = 1 THEN v ELSE 0 END) AS s1,
         sum(CASE WHEN grp = 0 THEN v ELSE 0 END) AS s2
  FROM s
),
obs AS (
  SELECT n1, n2, abs(n2 * CAST(s1 AS HUGEINT) - n1 * s2) AS d_obs FROM tot
),
perms AS (
  SELECT p.seed, s.v,
         row_number() OVER (
           PARTITION BY p.seed
           ORDER BY md5(CAST(s.event_id AS VARCHAR) || ':perm'
                        || CAST(p.seed AS VARCHAR)), s.event_id) AS rn
  FROM s CROSS JOIN (SELECT unnest(range(1, 65)) AS seed) p
),
pstat AS (
  SELECT pm.seed,
         abs(o.n2 * CAST(sum(CASE WHEN pm.rn <= o.n1 THEN pm.v ELSE 0 END)
                         AS HUGEINT)
             - o.n1 * sum(CASE WHEN pm.rn > o.n1 THEN pm.v ELSE 0 END))
           AS d_perm
  FROM perms pm, obs o
  GROUP BY pm.seed, o.n1, o.n2
)
SELECT CAST(64 AS BIGINT) AS n_perms,
       CAST(o.d_obs // (o.n1 * o.n2) AS BIGINT) AS obs_mean_diff_scaled,
       CAST(sum(CASE WHEN p.d_perm >= o.d_obs THEN 1 ELSE 0 END) AS BIGINT)
         AS n_extreme,
       CAST(1000 * (sum(CASE WHEN p.d_perm >= o.d_obs THEN 1 ELSE 0 END) + 1)
            // 65 AS BIGINT) AS p_value_milli
FROM pstat p, obs o
GROUP BY o.d_obs, o.n1, o.n2
"""


@_register("permutation_test_mean_diff", _PERM_TEST_ORACLE)
def permutation_test_mean_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-arithmetic permutation test of the click-vs-view mean value
    difference: 64 md5-deterministic label permutations (rank by
    md5(event_id, seed) — group sizes preserved exactly, the
    stratified_sample_exact machinery), test statistic |n2*S1 - n1*S2|
    (the cross-multiplied mean diff, no division until the readout),
    p = (extreme + 1)/(64 + 1) with the add-one correction. The
    distribution-free companion to two_proportion_ab_test /
    cohens_d_effect_size, and the TESTING half of the resampling family
    poisson_bootstrap_ci opened (CI half). Monte-Carlo yet fully
    value-oracled: the md5 coin is the same on both engines. Scale
    shape: one seed-partitioned rank window over 64 deterministic
    replicas (shuffle keyed on seed, replicas sort in parallel), one
    grouped aggregate; observed stats broadcast."""
    s = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "view"))
        .select(
            "event_id",
            _cents("value").alias("v"),
            F.when(F.col("event_type") == "click", 1).otherwise(0).alias(
                "grp"
            ),
        )
        .localCheckpoint(eager=False)
    )
    tot = s.agg(
        F.sum("grp").alias("n1"),
        F.sum(F.expr("1 - grp")).alias("n2"),
        F.sum(F.when(F.col("grp") == 1, F.col("v")).otherwise(0)).alias("s1"),
        F.sum(F.when(F.col("grp") == 0, F.col("v")).otherwise(0)).alias("s2"),
    )
    obs = tot.select(
        "n1",
        "n2",
        F.expr(
            "abs(n2 * CAST(s1 AS DECIMAL(38,0)) - n1 * s2)"
        ).alias("d_obs"),
    )
    seeds = spark.range(1, 65).select(F.col("id").alias("seed"))
    perms = s.crossJoin(F.broadcast(seeds)).select(
        "seed",
        "v",
        F.row_number()
        .over(
            W.partitionBy("seed").orderBy(
                F.expr(
                    "md5(CAST(event_id AS STRING) || ':perm'"
                    " || CAST(seed AS STRING))"
                ),
                "event_id",
            )
        )
        .alias("rn"),
    )
    pstat = (
        perms.crossJoin(F.broadcast(obs))
        .groupBy("seed", "n1", "n2")
        .agg(
            F.expr(
                "abs(n2 * CAST(sum(CASE WHEN rn <= n1 THEN v"
                " ELSE 0 END) AS DECIMAL(38,0))"
                " - n1 * sum(CASE WHEN rn > n1 THEN v ELSE 0 END))"
            ).alias("d_perm")
        )
    )
    return (
        pstat.crossJoin(F.broadcast(obs.select(F.col("d_obs").alias("dob"))))
        .groupBy("n1", "n2", "dob")
        .agg(
            F.sum(F.when(F.col("d_perm") >= F.col("dob"), 1).otherwise(0))
            .alias("ne")
        )
        .select(
            F.lit(64).cast("long").alias("n_perms"),
            F.expr("CAST(dob div (n1 * n2) AS BIGINT)").alias(
                "obs_mean_diff_scaled"
            ),
            F.col("ne").cast("long").alias("n_extreme"),
            F.expr("CAST(1000 * (ne + 1) div 65 AS BIGINT)").alias(
                "p_value_milli"
            ),
        )
    )


_SPRT_ORACLE = """
WITH s AS (
  SELECT ts, event_id,
         CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS y
  FROM events WHERE event_type IN ('click', 'view')
),
walk AS (
  SELECT row_number() OVER (ORDER BY ts, event_id) AS step,
         sum(CASE WHEN y = 1 THEN 182 ELSE -223 END)
           OVER (ORDER BY ts, event_id) AS llr_milli
  FROM s
),
crossed AS (
  SELECT step, llr_milli,
         CASE WHEN llr_milli >= 2944 THEN 'accept_h1'
              WHEN llr_milli <= -2944 THEN 'accept_h0' END AS decision
  FROM walk
  WHERE llr_milli >= 2944 OR llr_milli <= -2944
  ORDER BY step LIMIT 1
),
tot AS (SELECT count(*) AS n FROM s)
SELECT CAST(t.n AS BIGINT) AS n_observations,
       CAST(c.step AS BIGINT) AS decision_step,
       CAST(c.llr_milli AS BIGINT) AS llr_at_decision_milli,
       c.decision
FROM tot t LEFT JOIN crossed c ON TRUE
"""


@_register("sprt_sequential_ab", _SPRT_ORACLE)
def sprt_sequential_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's Sequential Probability Ratio Test on the click/view stream:
    H0 p=0.5 vs H1 p=0.6 with alpha=beta=0.05 — the EARLY-STOPPING
    experiment monitor the fixed-horizon tests (two_proportion_ab_test,
    permutation_test_mean_diff) cannot be: per observation the
    log-likelihood ratio moves by literal milli constants ln(.6/.5)=+182 /
    ln(.4/.5)=-223, and the first crossing of +-ln(19)=2944 milli decides.
    One event-time-ordered cumsum; the decision step, the LLR at
    crossing, and the direction all value-check (the stream is ~50/50 so
    the walk drifts to accept_h0 — expected drift -20.5 milli/step).
    Scale shape: the monitor's total order is REAL but its cumsum is
    computed without a single-partition window — per-DAY cumsums in
    parallel (days are contiguous tiers of the (ts, event_id) order)
    plus broadcast day-offset prefix sums of (count, LLR), the tiered
    exact-order-statistic device generalized from rank to cumsum —
    then TakeOrdered(1) over the crossing set."""
    s = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "view"))
        .select(
            "ts",
            "event_id",
            F.when(F.col("event_type") == "click", 1).otherwise(0).alias("y"),
        )
        .localCheckpoint(eager=False)
    )
    inc = s.select(
        "ts",
        "event_id",
        F.to_date("ts").alias("d"),
        F.when(F.col("y") == 1, 182).otherwise(-223).alias("w"),
    )
    wd = W.partitionBy("d").orderBy("ts", "event_id")
    loc = inc.select(
        "d",
        F.row_number().over(wd).alias("r"),
        F.sum("w").over(wd).alias("cw"),
    )
    day = inc.groupBy("d").agg(
        F.count(F.lit(1)).alias("dn"), F.sum("w").alias("dw")
    )
    wdays = W.orderBy("d").rowsBetween(W.unboundedPreceding, -1)
    offs = day.select(
        "d",
        F.coalesce(F.sum("dn").over(wdays), F.lit(0)).alias("off_n"),
        F.coalesce(F.sum("dw").over(wdays), F.lit(0)).alias("off_w"),
    )
    walk = loc.join(F.broadcast(offs), "d").select(
        (F.col("off_n") + F.col("r")).alias("step"),
        (F.col("off_w") + F.col("cw")).alias("llr_milli"),
    )
    crossed = (
        walk.filter(
            (F.col("llr_milli") >= 2944) | (F.col("llr_milli") <= -2944)
        )
        .orderBy("step")
        .limit(1)
        .select(
            "step",
            "llr_milli",
            F.when(F.col("llr_milli") >= 2944, "accept_h1")
            .when(F.col("llr_milli") <= -2944, "accept_h0")
            .alias("decision"),
        )
    )
    tot = s.agg(F.count(F.lit(1)).alias("n"))
    return tot.join(F.broadcast(crossed), F.lit(True), "left").select(
        F.col("n").cast("long").alias("n_observations"),
        F.col("step").cast("long").alias("decision_step"),
        F.col("llr_milli").cast("long").alias("llr_at_decision_milli"),
        "decision",
    )


_MOOD_ORACLE = """
WITH s AS (
  SELECT event_type AS grp, CAST(round(value * 100) AS BIGINT) AS v
  FROM events
),
rk AS (
  SELECT grp, v, row_number() OVER (ORDER BY v) AS rn,
         count(*) OVER () AS n
  FROM s
),
gmed AS (
  SELECT sum(CASE WHEN rn = (n + 1) // 2 THEN v ELSE 0 END)
         + sum(CASE WHEN rn = n // 2 + 1 THEN v ELSE 0 END) AS med2
  FROM rk
),
cls AS (
  SELECT s.grp, CASE WHEN 2 * s.v > m.med2 THEN 1 ELSE 0 END AS above
  FROM s, gmed m
),
g AS (SELECT grp, count(*) AS n_g, sum(above) AS o_a FROM cls GROUP BY grp),
gl AS (SELECT sum(n_g) AS n, sum(o_a) AS ta FROM g),
chi AS (
  SELECT CAST(1000 * sum(CAST(gl.n * g.o_a - g.n_g * gl.ta AS HUGEINT)
                         * (gl.n * g.o_a - g.n_g * gl.ta) // g.n_g)
              // (CAST(gl.ta AS HUGEINT) * (gl.n - gl.ta)) AS BIGINT)
           AS chi2_milli
  FROM g, gl GROUP BY gl.n, gl.ta
)
SELECT g.grp AS event_type,
       CAST(g.n_g AS BIGINT) AS n_g,
       CAST(g.o_a AS BIGINT) AS n_above,
       CAST(1000000 * g.o_a // g.n_g AS BIGINT) AS above_ppm,
       c.chi2_milli
FROM g CROSS JOIN chi c
ORDER BY g.grp
"""


@_register("mood_median_test", _MOOD_ORACLE)
def mood_median_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test across the five event types: classify every
    value as above/not-above the GLOBAL doubled median, then the 2xk
    chi-square on the counts — chi2 = sum_g D_g^2/n_g / (Ta*Tb/N) with
    D_g = N*O_g - n_g*Ta, collapsed to one exact 128-bit division (the
    algebraic identity D_ga = -D_gb removes the two-cell sum). The
    coarsest — and most outlier-robust — of the catalog's k-sample
    location tests (kruskal_wallis uses full ranks, cramer_von_mises full
    ECDFs; Mood only the median split), the classic robustness/power
    tradeoff made executable. Scale shape: the exact global median's
    rank is computed without a single-partition window
    (tiered_global_rank over contiguous 128-cent bands), one group
    aggregate, 1-row totals broadcast."""
    s = _t(spark, sf_dir, "events").select(
        F.col("event_type").alias("grp"), _cents("value").alias("v")
    )
    rk = tiered_global_rank(
        s, F.expr("v div 128"), ["v"], rank_name="rn", total_name="n"
    )
    gmed = rk.agg(
        (
            F.sum(F.when(F.expr("rn = (n + 1) div 2"), F.col("v")).otherwise(0))
            + F.sum(F.when(F.expr("rn = n div 2 + 1"), F.col("v")).otherwise(0))
        ).alias("med2")
    )
    cls = s.crossJoin(F.broadcast(gmed)).select(
        "grp", F.expr("CASE WHEN 2 * v > med2 THEN 1 ELSE 0 END").alias("above")
    )
    g = cls.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_g"), F.sum("above").alias("o_a")
    ).localCheckpoint(eager=False)
    gl = g.agg(F.sum("n_g").alias("n"), F.sum("o_a").alias("ta"))
    chi = (
        g.crossJoin(F.broadcast(gl))
        .agg(
            F.expr(
                "CAST(1000 * CAST(sum(CAST(n * o_a - n_g * ta AS"
                " DECIMAL(38,0)) * (n * o_a - n_g * ta) div n_g)"
                " AS DECIMAL(38,0))"
                " div (CAST(max(ta) AS DECIMAL(38,0)) * (max(n) - max(ta)))"
                " AS BIGINT)"
            ).alias("chi2_milli")
        )
    )
    return (
        g.crossJoin(F.broadcast(chi))
        .select(
            F.col("grp").alias("event_type"),
            F.col("n_g").cast("long").alias("n_g"),
            F.col("o_a").cast("long").alias("n_above"),
            F.expr("CAST(1000000 * o_a div n_g AS BIGINT)").alias(
                "above_ppm"
            ),
            "chi2_milli",
        )
        .orderBy("event_type")
    )


_ISOTONIC_ORACLE = (
    "WITH "
    + _DAILY_SQL
    + """,
pre AS (
  SELECT d, x,
         row_number() OVER (ORDER BY d) AS t,
         sum(x) OVER (ORDER BY d) AS st
  FROM daily
),
pairs AS (
  -- segment [j..k]: sum = st_k - st_{j-1}, len = k - j + 1; the exact
  -- sortable key 900000*sum // len separates any two distinct segment
  -- averages (min gap 1/(len1*len2) >= 1/900 => key gap >= 999)
  SELECT j.t AS j, k.t AS k,
         (900000 * (k.st - j.st + j.x)) // (k.t - j.t + 1) AS key
  FROM pre j JOIN pre k ON k.t >= j.t
),
mn AS (SELECT j, min(key) AS mnk FROM pairs GROUP BY j),
iso AS (
  SELECT p.t, p.d, p.x,
         max(m.mnk) OVER (ORDER BY m.j) AS isok
  FROM mn m JOIN pre p ON p.t = m.j
)
SELECT d AS day, CAST(x AS BIGINT) AS x_cents,
       CAST(isok // 900 AS BIGINT) AS iso_milli
FROM iso
ORDER BY day
"""
)


@_register("isotonic_regression_minimax", _ISOTONIC_ORACLE)
def isotonic_regression_minimax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (monotone nondecreasing) regression of daily revenue on
    time via the MINIMAX identity iso(t) = max_{j<=t} min_{k>=j}
    mean(x[j..k]) — the closed form equivalent to PAVA that needs no
    sequential pooling loop, so it runs as one pair frame + two window
    passes over the bounded daily series. Rational segment means are
    ordered EXACTLY through the integer key 900000*sum//len (distinct
    averages of <=30-long segments differ by >= 1/900, so key order ==
    rational order); the readout iso_milli = key//900 is within one
    milli of the exact isotonic value on both lanes. Monotonicity and
    agreement with an independent Python PAVA are pytest-pinned. The
    monotone-fit primitive under calibration (isotonic calibration) and
    trend extraction. Scale shape: |days|^2/2 pair rows (bounded by the
    calendar), one grouped min, one cumulative-max window."""
    daily = _daily(spark, sf_dir)
    pre = daily.select(
        "d",
        "x",
        F.row_number().over(W.orderBy("d")).alias("t"),
        F.sum("x")
        .over(W.orderBy("d").rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("st"),
    ).localCheckpoint(eager=False)
    j = pre.alias("j")
    k = pre.alias("k")
    pairs = j.join(k, F.col("k.t") >= F.col("j.t")).select(
        F.col("j.t").alias("jj"),
        F.expr(
            "(900000 * (k.st - j.st + j.x)) div (k.t - j.t + 1)"
        ).alias("key"),
    )
    mn = pairs.groupBy("jj").agg(F.min("key").alias("mnk"))
    iso = mn.join(pre, F.col("t") == F.col("jj")).select(
        "d",
        "x",
        "jj",
        F.max("mnk")
        .over(W.orderBy("jj").rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("isok"),
    )
    return iso.select(
        F.col("d").alias("day"),
        F.col("x").cast("long").alias("x_cents"),
        F.expr("CAST(isok div 900 AS BIGINT)").alias("iso_milli"),
    ).orderBy("day")


# ===========================================================================
# SPC run rules, coordinated sampling, sequence alignment
# ===========================================================================

_WE_RULES_ORACLE = (
    "WITH "
    + _DAILY_SQL
    + """,
tot AS (SELECT count(*) AS n, sum(x) AS s,
               sum(CAST(x AS HUGEINT) * x) AS q
        FROM daily),
dev AS (
  SELECT d, x,
         CAST(t.n * daily.x - t.s AS HUGEINT) AS e,
         CAST(t.n AS HUGEINT) * t.q - CAST(t.s AS HUGEINT) * t.s AS nvar
  FROM daily, tot t
),
fl AS (
  SELECT d, x, e,
         CASE WHEN e * e > 9 * nvar THEN 1 ELSE 0 END AS b3,
         CASE WHEN e * e > 4 * nvar AND e > 0 THEN 1 ELSE 0 END AS b2p,
         CASE WHEN e * e > 4 * nvar AND e < 0 THEN 1 ELSE 0 END AS b2n,
         CASE WHEN e * e > nvar AND e > 0 THEN 1 ELSE 0 END AS b1p,
         CASE WHEN e * e > nvar AND e < 0 THEN 1 ELSE 0 END AS b1n,
         CASE WHEN e > 0 THEN 1 ELSE 0 END AS sp,
         CASE WHEN e < 0 THEN 1 ELSE 0 END AS sn
  FROM dev
)
SELECT d AS day, CAST(x AS BIGINT) AS x_cents,
       CAST(e AS BIGINT) AS dev_scaled,
       b3 = 1 AS rule1_beyond3,
       (sum(b2p) OVER w3 >= 2 OR sum(b2n) OVER w3 >= 2) AS rule2_2of3,
       (sum(b1p) OVER w5 >= 4 OR sum(b1n) OVER w5 >= 4) AS rule3_4of5,
       (sum(sp) OVER w8 = 8 OR sum(sn) OVER w8 = 8) AS rule4_8side
FROM fl
WINDOW w3 AS (ORDER BY d ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
       w5 AS (ORDER BY d ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
       w8 AS (ORDER BY d ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)
ORDER BY day
"""
)


@_register("western_electric_rules", _WE_RULES_ORACLE)
def western_electric_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The four Western Electric control-chart run rules on the daily
    revenue series — the SPC decision layer ON TOP of the catalog's
    control charts (cusum level shifts, ewma smoothing, bollinger bands):
    rule 1 = beyond 3 sigma, rule 2 = 2-of-3 beyond 2 sigma one-sided,
    rule 3 = 4-of-5 beyond 1 sigma one-sided, rule 4 = 8 consecutive on
    one side of the mean. Every sigma comparison is DIVISION-FREE —
    (n*x - S)^2 > k^2 * (n*Q - S^2) in 128-bit lanes (the chebyshev
    recipe: never divide, so no width or tie hazard) — and the runs are
    rolling window counts sharing one time ordering. All 30 days emit
    with their flags (on near-uniform synthetic data rules 1-2 stay
    false — max |x - mu| ~ 1.7 sigma — which the oracle checks exactly).
    Scale shape: day rollup + three ROWS-frame windows on one sort."""
    daily = _daily(spark, sf_dir)
    tot = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("s"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * x")).alias("q"),
    )
    dev = daily.crossJoin(F.broadcast(tot)).select(
        "d",
        "x",
        F.expr("CAST(n * x - s AS DECIMAL(38,0))").alias("e"),
        F.expr(
            "CAST(n AS DECIMAL(38,0)) * q - CAST(s AS DECIMAL(38,0)) * s"
        ).alias("nvar"),
    )
    fl = dev.select(
        "d",
        "x",
        "e",
        F.expr("CASE WHEN e * e > 9 * nvar THEN 1 ELSE 0 END").alias("b3"),
        F.expr(
            "CASE WHEN e * e > 4 * nvar AND e > 0 THEN 1 ELSE 0 END"
        ).alias("b2p"),
        F.expr(
            "CASE WHEN e * e > 4 * nvar AND e < 0 THEN 1 ELSE 0 END"
        ).alias("b2n"),
        F.expr("CASE WHEN e * e > nvar AND e > 0 THEN 1 ELSE 0 END").alias(
            "b1p"
        ),
        F.expr("CASE WHEN e * e > nvar AND e < 0 THEN 1 ELSE 0 END").alias(
            "b1n"
        ),
        F.expr("CASE WHEN e > 0 THEN 1 ELSE 0 END").alias("sp"),
        F.expr("CASE WHEN e < 0 THEN 1 ELSE 0 END").alias("sn"),
    )
    w3 = W.orderBy("d").rowsBetween(-2, 0)
    w5 = W.orderBy("d").rowsBetween(-4, 0)
    w8 = W.orderBy("d").rowsBetween(-7, 0)
    return fl.select(
        F.col("d").alias("day"),
        F.col("x").cast("long").alias("x_cents"),
        F.col("e").cast("long").alias("dev_scaled"),
        (F.col("b3") == 1).alias("rule1_beyond3"),
        ((F.sum("b2p").over(w3) >= 2) | (F.sum("b2n").over(w3) >= 2)).alias(
            "rule2_2of3"
        ),
        ((F.sum("b1p").over(w5) >= 4) | (F.sum("b1n").over(w5) >= 4)).alias(
            "rule3_4of5"
        ),
        ((F.sum("sp").over(w8) == 8) | (F.sum("sn").over(w8) == 8)).alias(
            "rule4_8side"
        ),
    ).orderBy("day")


_COORD_SAMPLE_ORACLE = """
WITH os AS (
  SELECT * FROM orders
  WHERE substring(md5(CAST(o_orderkey AS VARCHAR) || ':cs'), 1, 8)
        < '40000000'
),
ls AS (
  SELECT * FROM lineitem
  WHERE substring(md5(CAST(l_orderkey AS VARCHAR) || ':cs'), 1, 8)
        < '40000000'
),
sj AS (
  SELECT o.o_orderpriority AS pri,
         CAST(round(l.l_extendedprice * 100) AS BIGINT) AS cents
  FROM os o JOIN ls l ON l.l_orderkey = o.o_orderkey
),
tj AS (
  SELECT o.o_orderpriority AS pri,
         CAST(round(l.l_extendedprice * 100) AS BIGINT) AS cents
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
)
SELECT t.pri AS o_orderpriority,
       CAST(coalesce(s.n, 0) AS BIGINT) AS n_sampled_lines,
       CAST(4 * coalesce(s.sc, 0) AS BIGINT) AS est_revenue_cents,
       CAST(t.sc AS BIGINT) AS true_revenue_cents,
       CAST(abs(4 * coalesce(s.sc, 0) - t.sc) * 1000000 // t.sc AS BIGINT)
         AS err_ppm
FROM (SELECT pri, count(*) AS n, sum(cents) AS sc FROM sj GROUP BY pri) s
RIGHT JOIN (SELECT pri, sum(cents) AS sc FROM tj GROUP BY pri) t
  ON t.pri = s.pri
ORDER BY o_orderpriority
"""


@_register("coordinated_join_sample", _COORD_SAMPLE_ORACLE)
def coordinated_join_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COORDINATED sampling across tables: orders and lineitem are each
    25%-sampled INDEPENDENTLY by the same md5 rule on the shared join key,
    so the join of the samples IS a 25% sample of the join (join-key
    coordination — the property naive per-table Bernoulli sampling
    destroys, since P(both sides keep a key) would be p^2 with broken
    FK structure). The sampled join's Horvitz-Thompson estimate (x4) of
    per-priority revenue rides next to the true value with its exact
    error ppm — the estimator's quality is measured, not assumed.
    Pytest additionally pins sample-of-join == join-of-samples row-for-
    row. Scale shape: two map-side hash filters (no shuffle to sample),
    then the same equi join as the full query on 25% of the data — the
    cheap-pipeline-debugging pattern for 100 TB joins."""
    okey_rule = (
        "substring(md5(CAST(o_orderkey AS STRING) || ':cs'), 1, 8)"
        " < '40000000'"
    )
    lkey_rule = (
        "substring(md5(CAST(l_orderkey AS STRING) || ':cs'), 1, 8)"
        " < '40000000'"
    )
    orders = _t(spark, sf_dir, "orders")
    lineitem = _t(spark, sf_dir, "lineitem")
    os_ = orders.filter(F.expr(okey_rule))
    ls = lineitem.filter(F.expr(lkey_rule))
    cents = F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)")
    sj = (
        os_.join(ls, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(F.col("o_orderpriority").alias("pri"), cents.alias("cents"))
        .groupBy("pri")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("sc"))
    )
    tj = (
        orders.join(lineitem, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(F.col("o_orderpriority").alias("pri"), cents.alias("cents"))
        .groupBy("pri")
        .agg(F.sum("cents").alias("tsc"))
    )
    return (
        tj.join(sj, "pri", "left")
        .select(
            F.col("pri").alias("o_orderpriority"),
            F.coalesce("n", F.lit(0)).cast("long").alias("n_sampled_lines"),
            (4 * F.coalesce("sc", F.lit(0))).cast("long").alias(
                "est_revenue_cents"
            ),
            F.col("tsc").cast("long").alias("true_revenue_cents"),
            F.expr(
                "CAST(abs(4 * coalesce(sc, 0) - tsc) * 1000000 div tsc"
                " AS BIGINT)"
            ).alias("err_ppm"),
        )
        .orderBy("o_orderpriority")
    )


_DTW_BIG = "1000000000000000"

_DTW_ORACLE = """
WITH RECURSIVE
da AS (
  SELECT CAST(ts AS DATE) AS d,
         sum(CASE WHEN event_type = 'purchase'
                  THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS xa,
         sum(CASE WHEN event_type = 'click'
                  THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS xb
  FROM events GROUP BY 1
),
arrs AS (
  SELECT list(xa ORDER BY d) AS xs, list(xb ORDER BY d) AS ys,
         count(*) AS n, count(*) AS m
  FROM da
),
rec AS (
  SELECT 2 AS d,
         [CASE WHEN i = 1 THEN abs(xs[1] - ys[1])
               ELSE {BIG} END for i in range(1, n + 1)] AS p1,
         [{BIG} for i in range(1, n + 1)] AS p2,
         xs, ys, n, m
  FROM arrs
  UNION ALL
  SELECT d + 1,
         [CASE WHEN d + 1 - i BETWEEN 1 AND m AND i BETWEEN 1 AND n
                    AND NOT (i = 1 AND d + 1 - i = 1)
               THEN abs(xs[i] - ys[d + 1 - i])
                    + least(p1[i],
                            CASE WHEN i > 1 THEN p1[i - 1] ELSE {BIG} END,
                            CASE WHEN i > 1 THEN p2[i - 1] ELSE {BIG} END)
               ELSE {BIG} END for i in range(1, n + 1)] AS p1,
         p1 AS p2, xs, ys, n, m
  FROM rec WHERE d < n + m
),
dtw AS (SELECT p1[n] AS dist FROM rec WHERE d = n + m),
l1 AS (
  SELECT sum(abs(CAST(xa - xb AS BIGINT))) AS dist FROM da
)
SELECT (SELECT CAST(n AS BIGINT) FROM arrs) AS n_days,
       CAST(d.dist AS BIGINT) AS dtw_cents,
       CAST(l.dist AS BIGINT) AS l1_cents,
       CAST((l.dist - d.dist) * 1000000 // l.dist AS BIGINT)
         AS warping_gain_ppm
FROM dtw d, l1 l
""".replace("{BIG}", _DTW_BIG)


@_register("dtw_alignment_distance", _DTW_ORACLE)
def dtw_alignment_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-time-warping distance between the daily purchase-revenue
    and click-value series — the elastic time-series similarity measure
    (does one series follow the other with lag/stretch?) that pointwise
    L1/correlation cannot express; the numeric cousin of the catalog's
    Levenshtein edit distance. The O(n*m) DP runs by ANTI-DIAGONALS so
    each level depends only on the two previous levels — no within-level
    dependency — making it one bounded aggregate() fold over 2n-2 list
    states on the Spark side and the IDENTICAL recursion as a recursive
    CTE in DuckDB; all costs are exact cents so the alignment
    value-checks bit-for-bit. The flat L1 distance rides along and the
    executed inequality DTW <= L1 (warping_gain_ppm >= 0) is part of the
    oracle. Scale shape: the day rollup is the only data-sized pass; the
    DP folds a |days|^2 table driver-free inside one expression — at
    100 TB one folds per series-pair inside the same aggregate()."""
    da = (
        _t(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("d"))
        .agg(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase", _cents("value")
                ).otherwise(0)
            ).alias("xa"),
            F.sum(
                F.when(
                    F.col("event_type") == "click", _cents("value")
                ).otherwise(0)
            ).alias("xb"),
        )
        .localCheckpoint(eager=False)
    )
    arrs = da.agg(
        F.expr("transform(sort_array(collect_list(struct(d, xa))), r -> r.xa)")
        .alias("xs"),
        F.expr("transform(sort_array(collect_list(struct(d, xb))), r -> r.xb)")
        .alias("ys"),
        F.count(F.lit(1)).cast("int").alias("n"),
        F.count(F.lit(1)).cast("int").alias("m"),
    )
    big = _DTW_BIG
    dtw_expr = f"""
aggregate(
  sequence(3, n + m),
  named_struct(
    'p1', transform(sequence(1, n),
          i -> IF(i = 1, abs(element_at(xs, 1) - element_at(ys, 1)),
                  CAST({big} AS BIGINT))),
    'p2', transform(sequence(1, n), i -> CAST({big} AS BIGINT))),
  (acc, d) -> named_struct(
    'p1', transform(sequence(1, n),
      i -> IF(d - i BETWEEN 1 AND m AND NOT (i = 1 AND d - i = 1),
              abs(element_at(xs, i) - element_at(ys, d - i))
              + least(element_at(acc.p1, i),
                      IF(i > 1, element_at(acc.p1, i - 1),
                         CAST({big} AS BIGINT)),
                      IF(i > 1, element_at(acc.p2, i - 1),
                         CAST({big} AS BIGINT))),
              CAST({big} AS BIGINT))),
    'p2', acc.p1),
  acc -> element_at(acc.p1, n))
"""
    l1 = da.agg(F.sum(F.expr("abs(xa - xb)")).alias("l1"))
    return (
        arrs.crossJoin(F.broadcast(l1))
        .select(
            F.col("n").cast("long").alias("n_days"),
            F.expr(dtw_expr).alias("dtw_cents"),
            F.col("l1").cast("long").alias("l1_cents"),
            F.expr(
                f"CAST((l1 - ({dtw_expr})) * 1000000 div l1 AS BIGINT)"
            ).alias("warping_gain_ppm"),
        )
    )


# ===========================================================================
# Multiple testing (BY), optimal stopping, operations simulations,
# business-calendar SLA, multi-criteria ranking
# ===========================================================================

# chi-square(1) critical values (milli) at alpha*i/(m*c(m)) for the
# Benjamini-Yekutieli step-up under arbitrary dependence: alpha = 0.05,
# m = 25, c(25) = H_25 = 3.81595817... (exact harmonic sum). Generated by
# bisection on the normal CDF (z^2 identity) — the same literal-ladder
# role as fdr_bh_screen's table; pytest regenerates and pins them.
_BY_LADDER = (
    "[12028,10740,9992,9463,9054,8722,8441,8198,7985,7794,7622,7465,"
    "7321,7188,7065,6949,6841,6739,6642,6551,6464,6382,6303,6227,6155]"
)

_BY_ORACLE = f"""
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
  SELECT l.n_name, l.n1, l.y1,
         CAST(CAST(l.y1 * (t.nn - l.n1) - (t.yy - l.y1) * l.n1 AS HUGEINT)
              * (l.y1 * (t.nn - l.n1) - (t.yy - l.y1) * l.n1)
              * t.nn * 1000
              // (CAST(l.n1 AS HUGEINT) * (t.nn - l.n1) * t.yy
                  * (t.nn - t.yy)) AS BIGINT) AS z2_milli
  FROM lab l CROSS JOIN tot t
),
rk AS (
  SELECT n_name, n1, y1, z2_milli,
         CAST(row_number() OVER (ORDER BY z2_milli DESC, n_name) AS BIGINT)
           AS rank
  FROM z
),
hit AS (
  SELECT *, ({_BY_LADDER})[rank] AS by_critical_milli FROM rk
),
kmax AS (
  SELECT CAST(coalesce(max(CASE WHEN z2_milli >= by_critical_milli
                                THEN rank END), 0) AS BIGINT) AS k
  FROM hit
)
SELECT h.n_name, h.n1, h.y1, h.z2_milli, h.rank, h.by_critical_milli,
       CAST(CASE WHEN h.rank <= k.k THEN 1 ELSE 0 END AS BIGINT) AS rejected
FROM hit h CROSS JOIN kmax k
ORDER BY h.rank
"""


@_register("benjamini_yekutieli_screen", _BY_ORACLE)
def benjamini_yekutieli_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Yekutieli FDR control over the same 25 per-nation
    two-proportion chi-square statistics as fdr_bh_screen, completing
    the multiple-testing trio (BH assumes independence/PRDS; Holm
    controls FWER; BY controls FDR under ARBITRARY dependence by
    shrinking every level by the harmonic factor c(m) = H_25 ~ 3.816).
    The only new machinery is the 25-literal critical ladder at
    alpha*i/(m*c(m)); everything else is the shared exact z^2 milli
    lane, so BY-rejections-subset-of-BH is an executable theorem the
    pytest pins. Scale shape: one nation rollup, 1-row totals broadcast,
    a 25-row window."""
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
            F.count(F.lit(1)).alias("n1"),
            F.sum(
                F.when(
                    F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
                ).otherwise(0)
            ).alias("y1"),
        )
        .localCheckpoint(eager=False)
    )
    tot = lab.agg(F.sum("n1").alias("nn"), F.sum("y1").alias("yy"))
    z = lab.crossJoin(F.broadcast(tot)).select(
        "n_name",
        "n1",
        "y1",
        F.expr(
            "CAST(CAST(y1 * (nn - n1) - (yy - y1) * n1 AS DECIMAL(38,0))"
            " * (y1 * (nn - n1) - (yy - y1) * n1) * nn * 1000"
            " div (CAST(n1 AS DECIMAL(38,0)) * (nn - n1) * yy * (nn - yy))"
            " AS BIGINT)"
        ).alias("z2_milli"),
    )
    rk = z.select(
        "*",
        F.row_number()
        .over(W.orderBy(F.col("z2_milli").desc(), "n_name"))
        .cast("long")
        .alias("rank"),
    )
    hit = rk.select(
        "*",
        F.expr(f"element_at(array{tuple(int(x) for x in _BY_LADDER.strip('[]').split(','))}, CAST(rank AS INT))").alias(
            "by_critical_milli"
        ),
    ).localCheckpoint(eager=False)
    kmax = hit.agg(
        F.coalesce(
            F.max(
                F.when(
                    F.col("z2_milli") >= F.col("by_critical_milli"),
                    F.col("rank"),
                )
            ),
            F.lit(0),
        ).alias("k")
    )
    return (
        hit.crossJoin(F.broadcast(kmax))
        .select(
            "n_name",
            "n1",
            "y1",
            "z2_milli",
            "rank",
            F.col("by_critical_milli").cast("long").alias(
                "by_critical_milli"
            ),
            F.expr(
                "CAST(CASE WHEN rank <= k THEN 1 ELSE 0 END AS BIGINT)"
            ).alias("rejected"),
        )
        .orderBy("rank")
    )


_SECRETARY_ORACLE = """
WITH panel AS (
  SELECT o_orderkey AS k, CAST(round(o_totalprice * 100) AS BIGINT) AS v
  FROM (SELECT *, row_number() OVER (ORDER BY o_orderkey) AS rn FROM orders)
  WHERE rn <= 100
),
best AS (SELECT max(v) AS vmax FROM panel),
seeds AS (SELECT unnest(range(1, 65)) AS seed),
shuffled AS (
  SELECT s.seed, p.v,
         row_number() OVER (
           PARTITION BY s.seed
           ORDER BY md5(CAST(p.k AS VARCHAR) || ':sec'
                        || CAST(s.seed AS VARCHAR)), p.k) AS pos
  FROM panel p CROSS JOIN seeds s
),
thr AS (
  SELECT seed, max(CASE WHEN pos <= 36 THEN v END) AS t
  FROM shuffled GROUP BY seed
),
pick AS (
  SELECT sh.seed,
         coalesce(min(CASE WHEN sh.pos > 36 AND sh.v > th.t
                           THEN sh.pos END), 100) AS pick_pos
  FROM shuffled sh JOIN thr th ON th.seed = sh.seed
  GROUP BY sh.seed
),
outcome AS (
  SELECT p.seed,
         max(CASE WHEN sh.pos = p.pick_pos THEN sh.v END) AS picked_v
  FROM pick p JOIN shuffled sh ON sh.seed = p.seed
  GROUP BY p.seed
)
SELECT CAST(100 AS BIGINT) AS n_items,
       CAST(64 AS BIGINT) AS n_trials,
       CAST(sum(CASE WHEN o.picked_v = b.vmax THEN 1 ELSE 0 END) AS BIGINT)
         AS n_success,
       CAST(1000000 * sum(CASE WHEN o.picked_v = b.vmax THEN 1 ELSE 0 END)
            // 64 AS BIGINT) AS success_ppm
FROM outcome o, best b
GROUP BY b.vmax
"""


@_register("secretary_optimal_stopping", _SECRETARY_ORACLE)
def secretary_optimal_stopping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The secretary problem's 1/e stopping rule, REPLAYED: over a fixed
    100-order panel, 64 md5-deterministic arrival orders each observe the
    first 36 (~n/e) candidates, then accept the first later candidate
    beating that threshold (or the last if none does); the measured
    success-at-picking-the-maximum rate sits near the theoretical 1/e ~
    368000 ppm. Optimal stopping is the online-decision primitive behind
    threshold-based admission (when to stop screening and take a
    candidate) — here made a deterministic Monte-Carlo with a FULL value
    oracle via the md5 coin, like poisson_bootstrap_ci/
    permutation_test_mean_diff. Scale shape: a 100-row broadcast panel
    x 64 seeds = 6400 rows; two grouped aggregates; the panel pick is
    an orderBy().limit() (TakeOrderedAndProject — parallel per-
    partition top-k, never a single-partition rank window)."""
    orders = _t(spark, sf_dir, "orders")
    panel = (
        orders.select(
            F.col("o_orderkey").alias("k"),
            F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("v"),
        )
        .orderBy("k")
        .limit(100)
        .localCheckpoint(eager=False)
    )
    best = panel.agg(F.max("v").alias("vmax"))
    seeds = spark.range(1, 65).select(F.col("id").alias("seed"))
    shuffled = panel.crossJoin(F.broadcast(seeds)).select(
        "seed",
        "v",
        F.row_number()
        .over(
            W.partitionBy("seed").orderBy(
                F.expr(
                    "md5(CAST(k AS STRING) || ':sec' || CAST(seed AS STRING))"
                ),
                "k",
            )
        )
        .alias("pos"),
    ).localCheckpoint(eager=False)
    thr = shuffled.groupBy("seed").agg(
        F.max(F.when(F.col("pos") <= 36, F.col("v"))).alias("t")
    )
    pick = (
        shuffled.join(thr, "seed")
        .groupBy("seed")
        .agg(
            F.coalesce(
                F.min(
                    F.when(
                        (F.col("pos") > 36) & (F.col("v") > F.col("t")),
                        F.col("pos"),
                    )
                ),
                F.lit(100),
            ).alias("pick_pos")
        )
    )
    outcome = (
        pick.join(shuffled, "seed")
        .filter(F.col("pos") == F.col("pick_pos"))
        .select("seed", F.col("v").alias("picked_v"))
    )
    return (
        outcome.crossJoin(F.broadcast(best))
        .groupBy("vmax")
        .agg(
            F.sum(
                F.when(F.col("picked_v") == F.col("vmax"), 1).otherwise(0)
            ).alias("ns")
        )
        .select(
            F.lit(100).cast("long").alias("n_items"),
            F.lit(64).cast("long").alias("n_trials"),
            F.col("ns").cast("long").alias("n_success"),
            F.expr("CAST(1000000 * ns div 64 AS BIGINT)").alias(
                "success_ppm"
            ),
        )
    )


_INVENTORY_ORACLE = """
WITH RECURSIVE
daily AS (
  SELECT CAST(ts AS DATE) AS d, count(*) AS demand
  FROM events WHERE event_type = 'purchase'
  GROUP BY 1
),
idx AS (SELECT row_number() OVER (ORDER BY d) AS t, demand FROM daily),
pol AS (SELECT count(*) AS n, sum(demand) // count(*) AS s_small,
               3 * (sum(demand) // count(*)) AS s_big
        FROM daily),
rec AS (
  SELECT 0 AS t, p.s_big AS lvl, 0 AS reorders, 0 AS stockouts, p.s_small,
         p.s_big
  FROM pol p
  UNION ALL
  SELECT r.t + 1,
         CASE WHEN greatest(r.lvl - i.demand, 0) < r.s_small
              THEN r.s_big ELSE greatest(r.lvl - i.demand, 0) END,
         r.reorders + CASE WHEN greatest(r.lvl - i.demand, 0) < r.s_small
                           THEN 1 ELSE 0 END,
         r.stockouts + greatest(i.demand - r.lvl, 0),
         r.s_small, r.s_big
  FROM rec r JOIN idx i ON i.t = r.t + 1
)
SELECT CAST(p.n AS BIGINT) AS n_days,
       CAST(p.s_small AS BIGINT) AS s_reorder_point,
       CAST(p.s_big AS BIGINT) AS s_order_up_to,
       CAST(r.reorders AS BIGINT) AS n_reorders,
       CAST(r.stockouts AS BIGINT) AS stockout_units,
       CAST(r.lvl AS BIGINT) AS ending_level
FROM rec r, pol p WHERE r.t = p.n
"""


@_register("inventory_policy_simulation", _INVENTORY_ORACLE)
def inventory_policy_simulation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(s, S) inventory policy SIMULATION over the daily purchase demand
    stream: start at S = 3x mean daily demand, serve each day's demand
    (unserved units count as stockouts), and when the post-demand level
    falls below s = mean demand, reorder up to S — the day-by-day policy
    replay that the catalog's closed-form inventory entries
    (eoq_order_quantity, newsvendor) cannot see: reorder cadence,
    stockout exposure, and ending position are PATH properties. The fold
    is exact integers (units), run as one aggregate() over the bounded
    daily array on the Spark side and the identical recursion as a
    recursive CTE in DuckDB. Scale shape: one day rollup; the fold state
    is O(1) per series — at 100 TB each SKU folds independently inside
    the same aggregate()."""
    daily = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.col("ts").cast("date").alias("d"))
        .agg(F.count(F.lit(1)).alias("demand"))
    )
    arr = daily.agg(
        F.expr(
            "transform(sort_array(collect_list(struct(d, demand))),"
            " r -> r.demand)"
        ).alias("xs")
    ).select(
        "xs",
        F.expr("CAST(size(xs) AS BIGINT)").alias("n"),
        F.expr(
            "aggregate(xs, CAST(0 AS BIGINT), (a, x) -> a + x) div size(xs)"
        ).alias("s_small"),
    ).select(
        "xs",
        "n",
        "s_small",
        F.expr("3 * s_small").alias("s_big"),
    )
    return arr.select(
        F.col("n").alias("n_days"),
        F.col("s_small").alias("s_reorder_point"),
        F.col("s_big").alias("s_order_up_to"),
        F.expr(
            "aggregate(xs,"
            " named_struct('lvl', s_big, 'reorders', CAST(0 AS BIGINT),"
            "              'stockouts', CAST(0 AS BIGINT)),"
            " (acc, x) -> named_struct("
            "   'lvl', CASE WHEN greatest(acc.lvl - x, CAST(0 AS BIGINT))"
            "                    < s_small"
            "               THEN s_big"
            "               ELSE greatest(acc.lvl - x, CAST(0 AS BIGINT)) END,"
            "   'reorders', acc.reorders"
            "     + CASE WHEN greatest(acc.lvl - x, CAST(0 AS BIGINT))"
            "                 < s_small THEN 1 ELSE 0 END,"
            "   'stockouts', acc.stockouts"
            "     + greatest(x - acc.lvl, CAST(0 AS BIGINT))))"
        ).alias("st"),
    ).select(
        "n_days",
        "s_reorder_point",
        "s_order_up_to",
        F.col("st.reorders").alias("n_reorders"),
        F.col("st.stockouts").alias("stockout_units"),
        F.col("st.lvl").alias("ending_level"),
    )


_LINDLEY_ORACLE = """
WITH RECURSIVE
daily AS (
  SELECT CAST(ts AS DATE) AS d, count(*) AS arrivals
  FROM events WHERE event_type = 'click'
  GROUP BY 1
),
idx AS (SELECT row_number() OVER (ORDER BY d) AS t, arrivals FROM daily),
cap AS (SELECT count(*) AS n,
               (sum(arrivals) + count(*) - 1) // count(*) AS c
        FROM daily),
rec AS (
  SELECT 0 AS t, CAST(0 AS BIGINT) AS backlog, CAST(0 AS BIGINT) AS maxb,
         CAST(0 AS BIGINT) AS busy, c.c
  FROM cap c
  UNION ALL
  SELECT r.t + 1,
         greatest(r.backlog + i.arrivals - r.c, 0),
         greatest(r.maxb, greatest(r.backlog + i.arrivals - r.c, 0)),
         r.busy + CASE WHEN greatest(r.backlog + i.arrivals - r.c, 0) > 0
                       THEN 1 ELSE 0 END,
         r.c
  FROM rec r JOIN idx i ON i.t = r.t + 1
)
SELECT CAST(c.n AS BIGINT) AS n_days,
       CAST(c.c AS BIGINT) AS daily_capacity,
       CAST(r.backlog AS BIGINT) AS ending_backlog,
       CAST(r.maxb AS BIGINT) AS max_backlog,
       CAST(r.busy AS BIGINT) AS n_backlogged_days
FROM rec r, cap c WHERE r.t = c.n
"""


@_register("lindley_queue_backlog", _LINDLEY_ORACLE)
def lindley_queue_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lindley's recursion W_t = max(0, W_{t-1} + A_t - C) simulated over
    the daily click-arrival stream with capacity = ceil-mean arrivals —
    the path-level queue the catalog's closed forms summarize
    (kingman_gg1 approximates the MEAN wait, erlang_b/c the blocking/
    delay PROBABILITY, littles_law the conservation identity; Lindley
    shows the actual backlog trajectory: peak, ending, and how many days
    run hot). max() makes the recursion nonlinear, so it is a true fold:
    one aggregate() over the bounded daily array (Spark) == the same
    recursion as a recursive CTE (DuckDB), exact integers throughout.
    Scale shape: one day rollup; O(1) fold state per queue."""
    daily = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "click")
        .groupBy(F.col("ts").cast("date").alias("d"))
        .agg(F.count(F.lit(1)).alias("arrivals"))
    )
    arr = daily.agg(
        F.expr(
            "transform(sort_array(collect_list(struct(d, arrivals))),"
            " r -> r.arrivals)"
        ).alias("xs")
    ).select(
        "xs",
        F.expr("CAST(size(xs) AS BIGINT)").alias("n"),
        F.expr(
            "(aggregate(xs, CAST(0 AS BIGINT), (a, x) -> a + x)"
            " + size(xs) - 1) div size(xs)"
        ).alias("c"),
    )
    return arr.select(
        F.col("n").alias("n_days"),
        F.col("c").alias("daily_capacity"),
        F.expr(
            "aggregate(xs,"
            " named_struct('b', CAST(0 AS BIGINT), 'mx', CAST(0 AS BIGINT),"
            "              'busy', CAST(0 AS BIGINT)),"
            " (acc, x) -> named_struct("
            "   'b', greatest(acc.b + x - c, CAST(0 AS BIGINT)),"
            "   'mx', greatest(acc.mx,"
            "                  greatest(acc.b + x - c, CAST(0 AS BIGINT))),"
            "   'busy', acc.busy"
            "     + CASE WHEN greatest(acc.b + x - c, CAST(0 AS BIGINT)) > 0"
            "            THEN 1 ELSE 0 END))"
        ).alias("st"),
    ).select(
        "n_days",
        "daily_capacity",
        F.col("st.b").alias("ending_backlog"),
        F.col("st.mx").alias("max_backlog"),
        F.col("st.busy").alias("n_backlogged_days"),
    )


_SLA_ORACLE = """
WITH li AS (
  SELECT l_linestatus,
         datediff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE))
           AS ship_ed,
         CAST(l_orderkey % 5 AS BIGINT) AS transit_days
  FROM lineitem
),
calc AS (
  SELECT l_linestatus,
         ship_ed,
         transit_days,
         -- +3 BUSINESS days from ship date, closed form on the
         -- engine-neutral weekday (epoch_days + 4) % 7, 0 = Sunday
         CASE (ship_ed + 4) % 7
           WHEN 0 THEN 3  -- Sun -> Wed
           WHEN 1 THEN 3  -- Mon -> Thu
           WHEN 2 THEN 3  -- Tue -> Fri
           WHEN 3 THEN 5  -- Wed -> Mon
           WHEN 4 THEN 5  -- Thu -> Tue
           WHEN 5 THEN 5  -- Fri -> Wed
           ELSE 4         -- Sat -> Wed
         END AS sla_offset
  FROM li
)
SELECT l_linestatus,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CASE WHEN transit_days > sla_offset THEN 1 ELSE 0 END)
            AS BIGINT) AS n_late,
       CAST(1000000 * sum(CASE WHEN transit_days > sla_offset
                               THEN 1 ELSE 0 END) // count(*) AS BIGINT)
         AS late_ppm,
       CAST(sum(sla_offset) AS BIGINT) AS total_sla_days
FROM calc
GROUP BY l_linestatus
ORDER BY l_linestatus
"""


@_register("business_days_sla_audit", _SLA_ORACLE)
def business_days_sla_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Business-calendar SLA audit: every lineitem must arrive within 3
    BUSINESS days of shipping (weekends don't count), transit time is a
    deterministic orderkey-derived lane — late rate per linestatus. The
    +3-business-days deadline is a CLOSED FORM on the engine-neutral
    weekday (epoch_days + 4) % 7 (Spark dayofweek is 1-7 Sunday-first,
    DuckDB 0-6 — deriving the weekday from the epoch-day count sidesteps
    the dialect trap entirely, the catalog's recorded cross-engine
    hazard). Calendar arithmetic without a calendar TABLE — pure integer
    expressions that push into the scan. Scale shape: one narrow map +
    one group-by; zero joins."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_linestatus",
        F.expr(
            "datediff(CAST(l_shipdate AS DATE), DATE '1970-01-01')"
        ).alias("ship_ed"),
        F.expr("CAST(l_orderkey % 5 AS BIGINT)").alias("transit_days"),
    )
    calc = li.select(
        "l_linestatus",
        "transit_days",
        F.expr(
            "CASE (ship_ed + 4) % 7"
            " WHEN 0 THEN 3 WHEN 1 THEN 3 WHEN 2 THEN 3"
            " WHEN 3 THEN 5 WHEN 4 THEN 5 WHEN 5 THEN 5"
            " ELSE 4 END"
        ).alias("sla_offset"),
    )
    return (
        calc.groupBy("l_linestatus")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum(
                F.when(F.col("transit_days") > F.col("sla_offset"), 1)
                .otherwise(0)
            ).cast("long").alias("n_late"),
            F.expr(
                "CAST(1000000 * sum(CASE WHEN transit_days > sla_offset"
                " THEN 1 ELSE 0 END) div count(*) AS BIGINT)"
            ).alias("late_ppm"),
            F.sum("sla_offset").cast("long").alias("total_sla_days"),
        )
        .orderBy("l_linestatus")
    )


_TOPSIS_ORACLE = """
WITH crit AS (
  SELECT l_suppkey AS supp,
         sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS revenue,
         count(DISTINCT l_orderkey) AS n_orders
  FROM lineitem GROUP BY 1
),
c2 AS (
  SELECT supp,
         CAST(revenue AS BIGINT) AS revenue_cents,
         CAST(n_orders AS BIGINT) AS n_orders,
         CAST(1000 * revenue // n_orders AS BIGINT) AS avg_price_milli
  FROM crit
),
rng AS (
  SELECT min(revenue_cents) AS r_lo, max(revenue_cents) AS r_hi,
         min(n_orders) AS o_lo, max(n_orders) AS o_hi,
         min(avg_price_milli) AS p_lo, max(avg_price_milli) AS p_hi
  FROM c2
),
norm AS (
  SELECT c.supp, c.revenue_cents, c.n_orders, c.avg_price_milli,
         1000000 * (c.revenue_cents - r.r_lo) // nullif(r.r_hi - r.r_lo, 0)
           AS nr,
         1000000 * (c.n_orders - r.o_lo) // nullif(r.o_hi - r.o_lo, 0) AS no_,
         1000000 * (c.avg_price_milli - r.p_lo)
           // nullif(r.p_hi - r.p_lo, 0) AS np
  FROM c2 c, rng r
),
score AS (
  SELECT supp, revenue_cents, n_orders, avg_price_milli,
         -- weighted L1 distances to anti-ideal (d_minus) and ideal
         -- (d_plus); benefits: revenue (w=50), orders (w=30);
         -- cost: avg price (w=20, ideal at the MINIMUM)
         50 * nr + 30 * no_ + 20 * (1000000 - np) AS d_minus,
         50 * (1000000 - nr) + 30 * (1000000 - no_) + 20 * np AS d_plus
  FROM norm
)
SELECT CAST(supp AS BIGINT) AS s_suppkey,
       revenue_cents, n_orders, avg_price_milli,
       CAST(1000000 * d_minus // (d_plus + d_minus) AS BIGINT)
         AS topsis_score_ppm
FROM score
ORDER BY topsis_score_ppm DESC, s_suppkey
LIMIT 10
"""


@_register("topsis_l1_ranking", _TOPSIS_ORACLE)
def topsis_l1_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-criteria supplier ranking by L1-TOPSIS: three criteria per
    supplier (total revenue UP, distinct orders UP, average line price
    DOWN), range-normalized to an exact ppm grid, scored by closeness to
    the ideal point score = d(anti-ideal) / (d(ideal) + d(anti-ideal))
    under Manhattan distance with literal 50/30/20 weights — the
    multi-objective decision layer the catalog's single-metric top-k
    rankings lack (and the L1 variant keeps every step an exact integer;
    classic Euclidean TOPSIS would need square roots). Scale shape: one
    supplier rollup, a 1-row min/max broadcast, then pure per-row
    arithmetic + TakeOrdered(10)."""
    li = _t(spark, sf_dir, "lineitem")
    c2 = (
        li.groupBy(F.col("l_suppkey").alias("supp"))
        .agg(
            F.sum(
                F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)")
            ).alias("revenue_cents"),
            F.countDistinct("l_orderkey").alias("n_orders"),
        )
        .select(
            "supp",
            F.col("revenue_cents").cast("long").alias("revenue_cents"),
            F.col("n_orders").cast("long").alias("n_orders"),
            F.expr(
                "CAST(1000 * revenue_cents div n_orders AS BIGINT)"
            ).alias("avg_price_milli"),
        )
        .localCheckpoint(eager=False)
    )
    rng = c2.agg(
        F.min("revenue_cents").alias("r_lo"),
        F.max("revenue_cents").alias("r_hi"),
        F.min("n_orders").alias("o_lo"),
        F.max("n_orders").alias("o_hi"),
        F.min("avg_price_milli").alias("p_lo"),
        F.max("avg_price_milli").alias("p_hi"),
    )
    norm = c2.crossJoin(F.broadcast(rng)).select(
        "supp",
        "revenue_cents",
        "n_orders",
        "avg_price_milli",
        F.expr(
            "1000000 * (revenue_cents - r_lo) div nullif(r_hi - r_lo, 0)"
        ).alias("nr"),
        F.expr(
            "1000000 * (n_orders - o_lo) div nullif(o_hi - o_lo, 0)"
        ).alias("no_"),
        F.expr(
            "1000000 * (avg_price_milli - p_lo) div nullif(p_hi - p_lo, 0)"
        ).alias("np"),
    )
    score = norm.select(
        "supp",
        "revenue_cents",
        "n_orders",
        "avg_price_milli",
        F.expr("50 * nr + 30 * no_ + 20 * (1000000 - np)").alias("d_minus"),
        F.expr(
            "50 * (1000000 - nr) + 30 * (1000000 - no_) + 20 * np"
        ).alias("d_plus"),
    )
    return score.select(
        F.col("supp").cast("long").alias("s_suppkey"),
        "revenue_cents",
        "n_orders",
        "avg_price_milli",
        F.expr(
            "CAST(1000000 * d_minus div (d_plus + d_minus) AS BIGINT)"
        ).alias("topsis_score_ppm"),
    ).orderBy(F.col("topsis_score_ppm").desc(), "s_suppkey").limit(10)


# ===========================================================================
# Wavelets, matrix profile, MATCH_RECOGNIZE emulation, optimizer estimates
# ===========================================================================

_HAAR_ORACLE = (
    "WITH RECURSIVE "
    + _DAILY_SQL.strip().lstrip()
    + """,
arr0 AS (
  SELECT list(x ORDER BY d) AS a, count(*) AS n0 FROM daily
),
-- pad to 32 with the final value (series has 30 days at every SF)
padded AS (
  SELECT a || [a[n0] for i in range(1, 33 - n0)] AS a, n0 FROM arr0
),
rec AS (
  SELECT 0 AS lvl, a,
         CAST(0 AS HUGEINT) AS energy, len(a) AS sz, n0
  FROM padded
  UNION ALL
  SELECT lvl + 1,
         [a[2 * i - 1] + a[2 * i] for i in range(1, sz // 2 + 1)],
         list_sum([CAST(a[2 * i - 1] - a[2 * i] AS HUGEINT)
                   * (a[2 * i - 1] - a[2 * i])
                   for i in range(1, sz // 2 + 1)]),
         sz // 2, n0
  FROM rec WHERE lvl < 5
),
tot AS (
  SELECT sum(CAST(x AS HUGEINT) * x) AS sx2 FROM (
    SELECT unnest(a) AS x FROM padded)
),
fin AS (SELECT a[1] AS approx FROM rec WHERE lvl = 5),
wsum AS (
  SELECT sum((1 << (5 - r.lvl)) * r.energy) AS we
  FROM rec r WHERE r.lvl >= 1
)
SELECT CAST(r.lvl AS BIGINT) AS level,
       CAST(r.sz AS BIGINT) AS n_coeffs,
       CAST(r.energy AS BIGINT) AS detail_energy,
       CAST(1000000 * (1 << (5 - r.lvl)) * r.energy
            // nullif(w.we, 0) AS BIGINT) AS energy_share_ppm,
       (w.we + CAST(f.approx AS HUGEINT) * f.approx
        = 32 * t.sx2) AS parseval_exact
FROM rec r, tot t, fin f, wsum w
WHERE r.lvl >= 1
ORDER BY level
"""
)


@_register("haar_wavelet_energy", _HAAR_ORACLE)
def haar_wavelet_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unnormalized Haar wavelet decomposition of the (pad-to-32) daily
    revenue series: five levels of pairwise sum/difference, reporting
    each level's detail ENERGY and its share of the 2^(L-l)-weighted
    spectrum — which TIME SCALE (day-to-day, 2-day, ..., 16-day) carries
    the variability, the multiresolution view beside the catalog's
    autocorrelation/seasonal-strength entries. Staying unnormalized
    keeps every coefficient an exact integer, and Parseval's identity
    becomes the exact integer equation sum_l 2^(L-l) E_l + a_L^2 =
    2^L sum x^2 — EXECUTED as a column, the whole-transform
    self-test. Scale shape: one day rollup, then a bounded 5-step fold
    over one 32-element array (per-series at 100 TB)."""
    daily = _daily(spark, sf_dir)
    arr = daily.agg(
        F.expr(
            "transform(sort_array(collect_list(struct(d, x))), r -> r.x)"
        ).alias("a0")
    ).select(
        F.expr(
            "concat(a0, transform(sequence(1, 32 - size(a0)),"
            " i -> element_at(a0, size(a0))))"
        ).alias("a")
    )
    fold = arr.select(
        "a",
        F.expr(
            "aggregate(sequence(1, 5),"
            " named_struct('arr', a,"
            "   'es', CAST(array() AS ARRAY<DECIMAL(38,0)>)),"
            " (acc, l) -> named_struct("
            "   'arr', transform(sequence(1, size(acc.arr) div 2),"
            "     i -> element_at(acc.arr, CAST(2 * i - 1 AS INT))"
            "          + element_at(acc.arr, CAST(2 * i AS INT))),"
            "   'es', concat(acc.es, array(aggregate("
            "     sequence(1, size(acc.arr) div 2),"
            "     CAST(0 AS DECIMAL(38,0)),"
            "     (s, i) -> s + CAST(element_at(acc.arr, CAST(2 * i - 1 AS INT))"
            "          - element_at(acc.arr, CAST(2 * i AS INT)) AS DECIMAL(38,0))"
            "          * (element_at(acc.arr, CAST(2 * i - 1 AS INT))"
            "             - element_at(acc.arr, CAST(2 * i AS INT))))))))"
        ).alias("st"),
        F.expr(
            "aggregate(a, CAST(0 AS DECIMAL(38,0)),"
            " (s, x) -> s + CAST(x AS DECIMAL(38,0)) * x)"
        ).alias("sx2"),
    ).localCheckpoint(eager=False)
    lvl = fold.select(
        F.col("st.arr")[0].alias("approx"),
        "sx2",
        F.posexplode(F.col("st.es")).alias("lidx", "energy"),
    ).select(
        (F.col("lidx") + 1).cast("long").alias("level"),
        F.expr("CAST(32 div shiftleft(1, lidx + 1) AS BIGINT)").alias(
            "n_coeffs"
        ),
        F.col("energy").cast("long").alias("detail_energy"),
        F.expr(
            "shiftleft(CAST(1 AS BIGINT), 5 - (lidx + 1))"
            " * CAST(energy AS DECIMAL(38,0))"
        ).alias("wenergy"),
        "approx",
        "sx2",
    ).localCheckpoint(eager=False)
    tot = lvl.agg(
        F.sum("wenergy").alias("we"),
        F.max("approx").alias("ap"),
        F.max("sx2").alias("tsx2"),
    )
    return (
        lvl.crossJoin(F.broadcast(tot))
        .select(
            "level",
            "n_coeffs",
            "detail_energy",
            F.expr(
                "CAST(1000000 * wenergy div nullif(we, 0) AS BIGINT)"
            ).alias("energy_share_ppm"),
            F.expr(
                "we + CAST(ap AS DECIMAL(38,0)) * ap"
                " = 32 * CAST(tsx2 AS DECIMAL(38,0))"
            ).alias("parseval_exact"),
        )
        .orderBy("level")
    )


_MATRIX_PROFILE_ORACLE = (
    "WITH "
    + _DAILY_SQL
    + """,
idx AS (
  SELECT row_number() OVER (ORDER BY d) AS t, d, x,
         count(*) OVER () AS n
  FROM daily
),
win AS (
  SELECT t, d,
         list(x) OVER (ORDER BY t ROWS BETWEEN CURRENT ROW
                       AND 6 FOLLOWING) AS w,
         n
  FROM idx
  QUALIFY t <= n - 6
),
pairs AS (
  SELECT a.t, a.d,
         b.t AS u,
         (SELECT sum(CAST(a.w[i] - b.w[i] AS HUGEINT)
                     * (a.w[i] - b.w[i]))
          FROM range(1, 8) r(i)) AS d2
  FROM win a JOIN win b ON abs(a.t - b.t) >= 7
),
prof AS (
  -- positions are < 1000, so d2*1000 + pos is an exact (d2, pos)
  -- lexicographic key: min/argmin in one integer aggregate per lane
  SELECT t, d, min(d2) AS p_d2,
         CAST(min(d2 * 1000 + u) % 1000 AS BIGINT) AS nn_t
  FROM pairs GROUP BY t, d
),
ext AS (
  SELECT CAST(min(CAST(p_d2 AS HUGEINT) * 1000 + t) % 1000 AS BIGINT)
           AS motif_t,
         CAST(999 - max(CAST(p_d2 AS HUGEINT) * 1000 + (999 - t)) % 1000
              AS BIGINT) AS discord_t
  FROM prof
)
SELECT p.t AS window_start_pos, p.d AS window_start_day,
       CAST(p.p_d2 AS BIGINT) AS profile_d2,
       CAST(p.nn_t AS BIGINT) AS nn_pos,
       p.t = e.motif_t AS is_motif,
       p.t = e.discord_t AS is_discord
FROM prof p CROSS JOIN ext e
ORDER BY window_start_pos
"""
)


@_register("matrix_profile_motif", _MATRIX_PROFILE_ORACLE)
def matrix_profile_motif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matrix profile over 7-day windows of the daily revenue series:
    for every window, the exact squared L2 distance to its nearest
    NON-OVERLAPPING neighbor (exclusion zone |t-u| >= 7) — the
    motif-and-discord discovery primitive (Yeh et al.'s matrix profile,
    here the exact-distance cousin of sax_symbolic_motifs' symbolic
    match): the global min is the most-repeated weekly shape, the global
    max the anomaly week no other week resembles. Ties break to the
    earliest position on both lanes. Scale shape: windows come from one
    ROWS-frame list aggregation; the pair frame is |days-6|^2 rows —
    calendar-bounded, and at real scale banded by the exclusion/locality
    structure exactly like the catalog's other bounded pair frames."""
    daily = _daily(spark, sf_dir)
    n_frame = daily.agg(F.count(F.lit(1)).alias("n"))
    idx = daily.crossJoin(F.broadcast(n_frame)).select(
        "d", "x", "n", F.row_number().over(W.orderBy("d")).alias("t")
    )
    win = (
        idx.select(
            "t",
            "d",
            F.collect_list("x")
            .over(W.orderBy("t").rowsBetween(0, 6))
            .alias("w"),
            "n",
        )
        .filter(F.col("t") <= F.col("n") - 6)
        .localCheckpoint(eager=False)
    )
    a = win.alias("a")
    b = win.alias("b")
    pairs = a.join(
        b, F.expr("abs(a.t - b.t) >= 7")
    ).select(
        F.col("a.t").alias("t"),
        F.col("a.d").alias("d"),
        F.col("b.t").alias("u"),
        F.expr(
            "aggregate(zip_with(a.w, b.w,"
            " (p, q) -> CAST(p - q AS DECIMAL(38,0)) * (p - q)),"
            " CAST(0 AS DECIMAL(38,0)), (s, v) -> s + v)"
        ).alias("d2"),
    )
    prof = pairs.groupBy("t", "d").agg(
        F.min("d2").alias("p_d2"),
        F.expr("CAST(min(d2 * 1000 + u) % 1000 AS BIGINT)").alias("nn_t"),
    ).localCheckpoint(eager=False)
    ext = prof.agg(
        F.expr(
            "CAST(min(CAST(p_d2 AS DECIMAL(38,0)) * 1000 + t) % 1000"
            " AS BIGINT)"
        ).alias("motif_t"),
        F.expr(
            "CAST(999 - max(CAST(p_d2 AS DECIMAL(38,0)) * 1000 + (999 - t))"
            " % 1000 AS BIGINT)"
        ).alias("discord_t"),
    )
    return (
        prof.crossJoin(F.broadcast(ext))
        .select(
            F.col("t").cast("long").alias("window_start_pos"),
            F.col("d").alias("window_start_day"),
            F.col("p_d2").cast("long").alias("profile_d2"),
            F.col("nn_t").cast("long").alias("nn_pos"),
            (F.col("t") == F.col("motif_t")).alias("is_motif"),
            (F.col("t") == F.col("discord_t")).alias("is_discord"),
        )
        .orderBy("window_start_pos")
    )


_VSHAPE_ORACLE = (
    "WITH "
    + _DAILY_SQL
    + """,
dd AS (SELECT d, x, x - lag(x) OVER (ORDER BY d) AS dx FROM daily),
sg AS (
  SELECT d, x, CASE WHEN dx > 0 THEN 1 WHEN dx < 0 THEN -1 ELSE 0 END AS s
  FROM dd WHERE dx IS NOT NULL
),
chg AS (
  SELECT *, CASE WHEN s <> lag(s, 1, 0) OVER (ORDER BY d)
                 THEN 1 ELSE 0 END AS isnew
  FROM sg
),
runs AS (SELECT *, sum(isnew) OVER (ORDER BY d) AS rid FROM chg),
agg AS (
  SELECT rid, max(s) AS s, count(*) AS len,
         min(d) AS lo, max(d) AS hi,
         max_by(x, d) AS x_end
  FROM runs GROUP BY rid
),
base AS (SELECT d, x FROM daily),
v AS (
  SELECT a.lo AS down_start, a.hi AS bottom_day, b.hi AS up_end,
         a.len AS down_len, b.len AS up_len,
         a.x_end AS x_bottom, b.x_end AS x_recover
  FROM agg a JOIN agg b ON b.rid = a.rid + 1
  WHERE a.s = -1 AND b.s = 1
)
SELECT v.down_start, v.bottom_day, v.up_end,
       CAST(v.down_len AS BIGINT) AS down_len,
       CAST(v.up_len AS BIGINT) AS up_len,
       CAST(v.x_recover - v.x_bottom AS BIGINT) AS recovery_cents,
       (v.down_len >= 2 AND v.up_len >= 2) AS is_strict_v
FROM v
ORDER BY down_start
"""
)


@_register("vshape_pattern_detect", _VSHAPE_ORACLE)
def vshape_pattern_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE emulation — the row-pattern query
    (PATTERN (DOWN+ UP+)) Spark has no native operator for, compiled to
    gaps-and-islands algebra: daily diffs -> sign runs (change-flag
    cumsum islands) -> adjacent (down-run, up-run) pairs = every local
    minimum, with run lengths, recovery magnitude, and a strict-V flag
    (both legs >= 2 days). Each detected V is one row, ordered by onset;
    the pattern-match state machine becomes two windows and one
    self-join of the bounded runs frame — the standard translation when
    porting Oracle/Flink MATCH_RECOGNIZE workloads to Spark. Scale
    shape: one day rollup, two windows on one time ordering, a
    runs-frame join at |runs| rows."""
    daily = _daily(spark, sf_dir)
    wd = W.orderBy("d")
    dd = daily.select(
        "d", "x", (F.col("x") - F.lag("x").over(wd)).alias("dx")
    ).filter(F.col("dx").isNotNull())
    sg = dd.select(
        "d",
        "x",
        F.when(F.col("dx") > 0, 1)
        .when(F.col("dx") < 0, -1)
        .otherwise(0)
        .alias("s"),
    )
    chg = sg.select(
        "*",
        F.when(F.col("s") != F.lag("s", 1, 0).over(wd), 1)
        .otherwise(0)
        .alias("isnew"),
    )
    runs = chg.select("*", F.sum("isnew").over(wd).alias("rid"))
    agg = runs.groupBy("rid").agg(
        F.max("s").alias("s"),
        F.count(F.lit(1)).alias("len"),
        F.min("d").alias("lo"),
        F.max("d").alias("hi"),
        F.expr("max_by(x, d)").alias("x_end"),
    ).localCheckpoint(eager=False)
    a = agg.alias("a")
    b = agg.alias("b")
    return (
        a.join(b, F.col("b.rid") == F.col("a.rid") + 1)
        .filter((F.col("a.s") == -1) & (F.col("b.s") == 1))
        .select(
            F.col("a.lo").alias("down_start"),
            F.col("a.hi").alias("bottom_day"),
            F.col("b.hi").alias("up_end"),
            F.col("a.len").cast("long").alias("down_len"),
            F.col("b.len").cast("long").alias("up_len"),
            (F.col("b.x_end") - F.col("a.x_end")).cast("long").alias(
                "recovery_cents"
            ),
            ((F.col("a.len") >= 2) & (F.col("b.len") >= 2)).alias(
                "is_strict_v"
            ),
        )
        .orderBy("down_start")
    )


_JOINSIZE_HIST_ORACLE = """
WITH keys AS (
  SELECT l_suppkey AS k, count(*) AS c FROM lineitem GROUP BY 1
),
rng AS (SELECT min(k) AS lo, max(k) AS hi FROM keys),
bucketed AS (
  SELECT least(CAST(16 * (k.k - r.lo) // (r.hi - r.lo + 1) AS BIGINT), 15)
           AS bucket,
         k.c
  FROM keys k, rng r
),
per AS (
  SELECT bucket,
         count(*) AS n_keys,
         sum(c) AS n_rows,
         sum(CAST(c AS HUGEINT) * c) AS exact_b
  FROM bucketed GROUP BY bucket
)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(n_keys AS BIGINT) AS n_keys,
       CAST(n_rows AS BIGINT) AS n_rows,
       CAST(CAST(n_rows AS HUGEINT) * n_rows // n_keys AS BIGINT)
         AS est_join_rows,
       CAST(exact_b AS BIGINT) AS exact_join_rows,
       CAST(1000000 * CAST(exact_b - CAST(n_rows AS HUGEINT) * n_rows
                           // n_keys AS HUGEINT)
            // exact_b AS BIGINT) AS underest_ppm
FROM per
ORDER BY bucket
"""


@_register("join_size_histogram_estimate", _JOINSIZE_HIST_ORACLE)
def join_size_histogram_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selinger-style join-cardinality estimation from an equi-width
    16-bucket histogram: per bucket the uniform-within-bucket estimate
    of the suppkey self-join size (rows^2 / distinct keys) sits next to
    the EXACT size sum(c_k^2), and underest_ppm measures exactly how
    much within-bucket skew the histogram hides — Jensen's inequality
    executed per bucket (the estimate can only undershoot). The
    HISTOGRAM half of the optimizer's cardinality toolbox, beside
    join_size_sketch_estimate's CMS/AGMS half — these two estimators
    are why engines pick the wrong join order, made measurable. Scale
    shape: one key rollup, a 1-row range broadcast, a 16-row frame."""
    keys = (
        _t(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_suppkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    rng = keys.agg(F.min("k").alias("lo"), F.max("k").alias("hi"))
    bucketed = keys.crossJoin(F.broadcast(rng)).select(
        F.expr(
            "least(CAST(16 * (k - lo) div (hi - lo + 1) AS BIGINT), 15)"
        ).alias("bucket"),
        "c",
    )
    per = bucketed.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("c").alias("n_rows"),
        F.sum(F.expr("CAST(c AS DECIMAL(38,0)) * c")).alias("exact_b"),
    )
    return per.select(
        F.col("bucket").cast("long").alias("bucket"),
        F.col("n_keys").cast("long").alias("n_keys"),
        F.col("n_rows").cast("long").alias("n_rows"),
        F.expr(
            "CAST(CAST(n_rows AS DECIMAL(38,0)) * n_rows div n_keys"
            " AS BIGINT)"
        ).alias("est_join_rows"),
        F.col("exact_b").cast("long").alias("exact_join_rows"),
        F.expr(
            "CAST(1000000 * CAST(exact_b - CAST(n_rows AS DECIMAL(38,0))"
            " * n_rows div n_keys AS DECIMAL(38,0))"
            " div exact_b AS BIGINT)"
        ).alias("underest_ppm"),
    ).orderBy("bucket")


# ===========================================================================
# Distributional distance, dose-response trend, index numbers, shift-share
# ===========================================================================

_W1_ORACLE = """
WITH s AS (
  SELECT CAST(round(value * 100) AS BIGINT) AS v,
         CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16' THEN 0 ELSE 1 END
           AS period
  FROM events WHERE event_type = 'purchase'
),
rng AS (SELECT min(v) AS lo, max(v) AS hi FROM s),
binned AS (
  SELECT least(CAST(20 * (s.v - r.lo) // (r.hi - r.lo + 1) AS BIGINT), 19)
           AS bucket,
         s.period
  FROM s, rng r
),
per AS (
  SELECT bucket,
         sum(CASE WHEN period = 0 THEN 1 ELSE 0 END) AS n0,
         sum(CASE WHEN period = 1 THEN 1 ELSE 0 END) AS n1
  FROM binned GROUP BY bucket
),
tot AS (SELECT sum(n0) AS t0, sum(n1) AS t1 FROM per),
spine AS (SELECT unnest(range(0, 20)) AS bucket),
shares AS (
  SELECT sp.bucket,
         CAST(1000000 * coalesce(p.n0, 0) // t.t0 AS BIGINT) AS p_ppm,
         CAST(1000000 * coalesce(p.n1, 0) // t.t1 AS BIGINT) AS q_ppm
  FROM spine sp LEFT JOIN per p ON p.bucket = sp.bucket, tot t
),
cum AS (
  SELECT bucket, p_ppm, q_ppm,
         abs(sum(p_ppm - q_ppm) OVER (ORDER BY bucket)) AS cum_diff_ppm
  FROM shares
),
w1 AS (SELECT sum(cum_diff_ppm) AS w1_total FROM cum)
SELECT c.bucket, c.p_ppm, c.q_ppm,
       CAST(c.cum_diff_ppm AS BIGINT) AS cum_diff_ppm,
       CAST(w.w1_total AS BIGINT) AS w1_total_ppm_bins
FROM cum c CROSS JOIN w1 w
ORDER BY c.bucket
"""


@_register("wasserstein1_binned_drift", _W1_ORACLE)
def wasserstein1_binned_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wasserstein-1 (earth mover's) distance between the first and
    second half-month purchase-value distributions on a 20-bin
    equi-width grid: W1 = sum over bins of |CDF_p - CDF_q| — the drift
    metric that, unlike PSI (distribution_drift_psi) and total variation
    (total_variation_drift), RESPECTS the metric structure of the value
    axis (mass moved two bins costs twice mass moved one bin). On a
    fixed grid the whole computation is exact ppm integers: bin shares,
    one cumulative-sum window, one absolute-difference rollup. Scale
    shape: one scan + grid bucketing (no sort), a 20-row spine frame."""
    s = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            _cents("value").alias("v"),
            F.when(
                F.col("ts").cast("date") < F.lit("2024-01-16").cast("date"), 0
            ).otherwise(1).alias("period"),
        )
        .localCheckpoint(eager=False)
    )
    rng = s.agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
    binned = s.crossJoin(F.broadcast(rng)).select(
        F.expr(
            "least(CAST(20 * (v - lo) div (hi - lo + 1) AS BIGINT), 19)"
        ).alias("bucket"),
        "period",
    )
    per = binned.groupBy("bucket").agg(
        F.sum(F.when(F.col("period") == 0, 1).otherwise(0)).alias("n0"),
        F.sum(F.when(F.col("period") == 1, 1).otherwise(0)).alias("n1"),
    )
    tot = per.agg(F.sum("n0").alias("t0"), F.sum("n1").alias("t1"))
    spine = spark.range(0, 20).select(F.col("id").alias("bucket"))
    shares = (
        spine.join(per, "bucket", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            F.expr(
                "CAST(1000000 * coalesce(n0, 0) div t0 AS BIGINT)"
            ).alias("p_ppm"),
            F.expr(
                "CAST(1000000 * coalesce(n1, 0) div t1 AS BIGINT)"
            ).alias("q_ppm"),
        )
    )
    cum = shares.select(
        "bucket",
        "p_ppm",
        "q_ppm",
        F.abs(
            F.sum(F.col("p_ppm") - F.col("q_ppm")).over(W.orderBy("bucket"))
        ).alias("cum_diff_ppm"),
    ).localCheckpoint(eager=False)
    w1 = cum.agg(F.sum("cum_diff_ppm").alias("w1_total"))
    return (
        cum.crossJoin(F.broadcast(w1))
        .select(
            "bucket",
            "p_ppm",
            "q_ppm",
            F.col("cum_diff_ppm").cast("long").alias("cum_diff_ppm"),
            F.col("w1_total").cast("long").alias("w1_total_ppm_bins"),
        )
        .orderBy("bucket")
    )


_CA_TREND_ORACLE = """
WITH s AS (
  SELECT CAST(substring(o_orderpriority, 1, 1) AS BIGINT) AS dose,
         CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END AS y
  FROM orders
),
g AS (SELECT dose, count(*) AS n_i, sum(y) AS y_i FROM s GROUP BY dose),
tot AS (
  SELECT sum(n_i) AS n, sum(y_i) AS yy,
         sum(dose * n_i) AS swn,
         sum(dose * y_i) AS swy,
         sum(dose * dose * n_i) AS sw2n
  FROM g
),
z AS (
  SELECT CAST(CAST(t.n * t.swy - t.yy * t.swn AS HUGEINT)
              * (t.n * t.swy - t.yy * t.swn) * t.n * 1000
              // (CAST(t.yy AS HUGEINT) * (t.n - t.yy)
                  * (t.n * t.sw2n - CAST(t.swn AS HUGEINT) * t.swn))
              AS BIGINT) AS z2_milli
  FROM tot t
)
SELECT g.dose,
       CAST(g.n_i AS BIGINT) AS n_i,
       CAST(g.y_i AS BIGINT) AS n_high,
       CAST(1000000 * g.y_i // g.n_i AS BIGINT) AS high_rate_ppm,
       z.z2_milli
FROM g CROSS JOIN z
ORDER BY g.dose
"""


@_register("cochran_armitage_trend", _CA_TREND_ORACLE)
def cochran_armitage_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Armitage trend test: does the high-value-order rate move
    MONOTONICALLY with order priority (dose 1..5 parsed from the
    priority label)? z^2 = (N*sum(w*y) - Y*sum(w*n))^2 * N /
    (Y(N-Y)(N*sum(w^2 n) - sum(w n)^2)) in one exact 128-bit rational —
    the ORDERED-alternative version of the 2xk chi-square
    (chisq_independence_screen treats categories as unordered and wastes
    the ordering; jonckheere_terpstra is its continuous-outcome cousin).
    Per-dose rates ride along so the direction is visible next to the
    test. Scale shape: one rollup to 5 dose rows, a 1-row moment
    aggregate, everything else constant-size."""
    s = _t(spark, sf_dir, "orders").select(
        F.expr("CAST(substring(o_orderpriority, 1, 1) AS BIGINT)").alias(
            "dose"
        ),
        F.when(F.col("o_totalprice") > 150000, 1).otherwise(0).alias("y"),
    )
    g = s.groupBy("dose").agg(
        F.count(F.lit(1)).alias("n_i"), F.sum("y").alias("y_i")
    ).localCheckpoint(eager=False)
    tot = g.agg(
        F.sum("n_i").alias("n"),
        F.sum("y_i").alias("yy"),
        F.sum(F.expr("dose * n_i")).alias("swn"),
        F.sum(F.expr("dose * y_i")).alias("swy"),
        F.sum(F.expr("dose * dose * n_i")).alias("sw2n"),
    )
    z = tot.select(
        F.expr(
            "CAST(CAST(n * swy - yy * swn AS DECIMAL(38,0))"
            " * (n * swy - yy * swn) * n * 1000"
            " div (CAST(yy AS DECIMAL(38,0)) * (n - yy)"
            "      * (n * sw2n - CAST(swn AS DECIMAL(38,0)) * swn))"
            " AS BIGINT)"
        ).alias("z2_milli")
    )
    return (
        g.crossJoin(F.broadcast(z))
        .select(
            "dose",
            F.col("n_i").cast("long").alias("n_i"),
            F.col("y_i").cast("long").alias("n_high"),
            F.expr("CAST(1000000 * y_i div n_i AS BIGINT)").alias(
                "high_rate_ppm"
            ),
            "z2_milli",
        )
        .orderBy("dose")
    )


_PRICE_INDEX_ORACLE = """
WITH li AS (
  SELECT l_partkey AS pk,
         CASE WHEN l_shipdate < TIMESTAMP '1998-01-01' THEN 0 ELSE 1 END
           AS period,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
         CAST(l_quantity AS BIGINT) AS qty
  FROM lineitem
),
per AS (
  SELECT pk, period, sum(cents) AS c, sum(qty) AS q
  FROM li GROUP BY pk, period
),
matched AS (
  SELECT p0.pk,
         CAST(1000 * p0.c // p0.q AS BIGINT) AS u0,
         CAST(1000 * p1.c // p1.q AS BIGINT) AS u1,
         p0.q AS q0, p1.q AS q1
  FROM per p0 JOIN per p1 ON p1.pk = p0.pk AND p1.period = 1
  WHERE p0.period = 0
),
idx AS (
  SELECT count(*) AS n_parts,
         CAST(1000000 * sum(CAST(u1 AS HUGEINT) * q0)
              // sum(CAST(u0 AS HUGEINT) * q0) AS BIGINT) AS laspeyres_ppm,
         CAST(1000000 * sum(CAST(u1 AS HUGEINT) * q1)
              // sum(CAST(u0 AS HUGEINT) * q1) AS BIGINT) AS paasche_ppm
  FROM matched
)
SELECT CAST(n_parts AS BIGINT) AS n_matched_parts,
       laspeyres_ppm, paasche_ppm,
       CAST(CAST(laspeyres_ppm AS HUGEINT) * paasche_ppm // 1000000
            AS BIGINT) AS fisher_sq_ppm
FROM idx
"""


@_register("price_index_fisher", _PRICE_INDEX_ORACLE)
def price_index_fisher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index numbers over the matched part basket across the two
    ship-date eras (pre/post 1998): Laspeyres (base-period quantity
    weights), Paasche (current weights), and the Fisher ideal index
    (their geometric mean, reported as its exact SQUARE in ppm — the
    sqrt-free lane, like theil_u2's squared form). Unit values are
    milli-cents per unit (one division per part-period), the index
    ratios one 128-bit division each — the econ-statistics aggregation
    (CPI construction) the revenue rollups in the catalog don't
    express: price change SEPARATED from quantity change. Scale shape:
    one part-period rollup, a self-join matching the basket on the
    part key (equi hash join), two weighted-sum aggregates."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("pk"),
        F.when(
            F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"), 0
        ).otherwise(1).alias("period"),
        F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)").alias("cents"),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    per = li.groupBy("pk", "period").agg(
        F.sum("cents").alias("c"), F.sum("qty").alias("q")
    ).localCheckpoint(eager=False)
    p0 = per.filter(F.col("period") == 0).select(
        "pk",
        F.expr("CAST(1000 * c div q AS BIGINT)").alias("u0"),
        F.col("q").alias("q0"),
    )
    p1 = per.filter(F.col("period") == 1).select(
        "pk",
        F.expr("CAST(1000 * c div q AS BIGINT)").alias("u1"),
        F.col("q").alias("q1"),
    )
    matched = p0.join(p1, "pk")
    return matched.agg(
        F.count(F.lit(1)).cast("long").alias("n_matched_parts"),
        F.expr(
            "CAST(1000000 * sum(CAST(u1 AS DECIMAL(38,0)) * q0)"
            " div sum(CAST(u0 AS DECIMAL(38,0)) * q0) AS BIGINT)"
        ).alias("laspeyres_ppm"),
        F.expr(
            "CAST(1000000 * sum(CAST(u1 AS DECIMAL(38,0)) * q1)"
            " div sum(CAST(u0 AS DECIMAL(38,0)) * q1) AS BIGINT)"
        ).alias("paasche_ppm"),
    ).select(
        "n_matched_parts",
        "laspeyres_ppm",
        "paasche_ppm",
        F.expr(
            "CAST(CAST(laspeyres_ppm AS DECIMAL(38,0)) * paasche_ppm"
            " div 1000000 AS BIGINT)"
        ).alias("fisher_sq_ppm"),
    )


_SHIFT_SHARE_ORACLE = """
WITH rev AS (
  SELECT n.n_name,
         CASE WHEN o.o_orderdate < TIMESTAMP '1998-01-01' THEN 0 ELSE 1 END
           AS period,
         CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
),
per AS (
  SELECT n_name,
         sum(CASE WHEN period = 0 THEN cents ELSE 0 END) AS r0,
         sum(CASE WHEN period = 1 THEN cents ELSE 0 END) AS r1
  FROM rev GROUP BY n_name
),
tot AS (SELECT sum(r0) AS t0, sum(r1) AS t1 FROM per)
SELECT p.n_name,
       CAST(p.r0 AS BIGINT) AS r0_cents,
       CAST(p.r1 - p.r0 AS BIGINT) AS delta_cents,
       -- national effect: growth at the aggregate rate
       CAST(CAST(p.r0 AS HUGEINT) * (t.t1 - t.t0) // t.t0 AS BIGINT)
         AS national_effect_cents,
       -- competitive effect: the remainder (local vs national growth);
       -- national + competitive == delta up to the one truncation
       CAST((p.r1 - p.r0)
            - CAST(p.r0 AS HUGEINT) * (t.t1 - t.t0) // t.t0 AS BIGINT)
         AS competitive_effect_cents,
       CAST(1000 * (p.r1 - p.r0) // nullif(p.r0, 0) AS BIGINT)
         AS local_growth_milli,
       CAST(1000 * (t.t1 - t.t0) // t.t0 AS BIGINT) AS national_growth_milli
FROM per p, tot t
ORDER BY p.n_name
"""


@_register("shift_share_decomposition", _SHIFT_SHARE_ORACLE)
def shift_share_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shift-share decomposition of per-nation revenue growth across the
    two order eras: each nation's change splits into the NATIONAL effect
    (what growing at the aggregate rate would have delivered,
    r0 * G_nat) and the COMPETITIVE effect (the residual — did this
    nation out- or under-perform the aggregate), with national +
    competitive == delta exactly (the residual form absorbs the single
    truncation, so the identity is executed, not approximate). The
    regional-economics attribution tool beside yoy_revenue_growth (which
    reports growth but doesn't decompose it). Scale shape: one join-agg
    rollup to 25 nations, 1-row totals broadcast back."""
    rev = (
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
            F.when(
                F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"),
                0,
            ).otherwise(1).alias("period"),
            F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
        )
    )
    per = rev.groupBy("n_name").agg(
        F.sum(F.when(F.col("period") == 0, F.col("cents")).otherwise(0)).alias(
            "r0"
        ),
        F.sum(F.when(F.col("period") == 1, F.col("cents")).otherwise(0)).alias(
            "r1"
        ),
    ).localCheckpoint(eager=False)
    tot = per.agg(F.sum("r0").alias("t0"), F.sum("r1").alias("t1"))
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "n_name",
            F.col("r0").cast("long").alias("r0_cents"),
            (F.col("r1") - F.col("r0")).cast("long").alias("delta_cents"),
            F.expr(
                "CAST(CAST(r0 AS DECIMAL(38,0)) * (t1 - t0) div t0"
                " AS BIGINT)"
            ).alias("national_effect_cents"),
            F.expr(
                "CAST((r1 - r0) - CAST(r0 AS DECIMAL(38,0)) * (t1 - t0)"
                " div t0 AS BIGINT)"
            ).alias("competitive_effect_cents"),
            F.expr(
                "CAST(1000 * (r1 - r0) div nullif(r0, 0) AS BIGINT)"
            ).alias("local_growth_milli"),
            F.expr(
                "CAST(1000 * (t1 - t0) div t0 AS BIGINT)"
            ).alias("national_growth_milli"),
        )
        .orderBy("n_name")
    )


# ===========================================================================
# Rolling regression, graph topology, tail-weighted EDF test
# ===========================================================================

_ROLLING_BETA_ORACLE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d,
         sum(CASE WHEN event_type = 'purchase'
                  THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS a,
         sum(CASE WHEN event_type = 'click'
                  THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS b
  FROM events GROUP BY 1
),
win AS (
  SELECT d, a, b,
         count(*) OVER w AS n,
         sum(CAST(a AS HUGEINT)) OVER w AS sa,
         sum(CAST(b AS HUGEINT)) OVER w AS sb,
         sum(CAST(a AS HUGEINT) * b) OVER w AS sab,
         sum(CAST(a AS HUGEINT) * a) OVER w AS saa,
         sum(CAST(b AS HUGEINT) * b) OVER w AS sbb
  FROM daily
  WINDOW w AS (ORDER BY d ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
)
SELECT d AS day,
       CAST(1000 * (n * sab - sa * sb)
            // nullif(n * sbb - sb * sb, 0) AS BIGINT) AS beta_milli,
       CAST(1000 * (n * sab - sa * sb) * (n * sab - sa * sb)
            // nullif((n * saa - sa * sa) * (n * sbb - sb * sb), 0)
            AS BIGINT) AS r2_milli
FROM win WHERE n = 14
ORDER BY day
"""


@_register("rolling_beta_window", _ROLLING_BETA_ORACLE)
def rolling_beta_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 14-day OLS beta of daily purchase revenue ON daily click
    value (plus rolling R^2): beta = (n*Sab - Sa*Sb)/(n*Sbb - Sb^2) from
    five exact moment sums in ONE ROWS-frame window — the TIME-VARYING
    version of regression_trend_aggregates' static per-group slope, the
    finance/monitoring question 'is the relationship between engagement
    and revenue drifting'. Both readouts are single 128-bit divisions
    with NULLIF degenerate guards. Scale shape: one day rollup, five
    window sums sharing one sort, emitted only where the window is
    full."""
    daily = (
        _t(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("d"))
        .agg(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase", _cents("value")
                ).otherwise(0)
            ).alias("a"),
            F.sum(
                F.when(
                    F.col("event_type") == "click", _cents("value")
                ).otherwise(0)
            ).alias("b"),
        )
    )
    w = W.orderBy("d").rowsBetween(-13, 0)
    win = daily.select(
        "d",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum(F.expr("CAST(a AS DECIMAL(38,0))")).over(w).alias("sa"),
        F.sum(F.expr("CAST(b AS DECIMAL(38,0))")).over(w).alias("sb"),
        F.sum(F.expr("CAST(a AS DECIMAL(38,0)) * b")).over(w).alias("sab"),
        F.sum(F.expr("CAST(a AS DECIMAL(38,0)) * a")).over(w).alias("saa"),
        F.sum(F.expr("CAST(b AS DECIMAL(38,0)) * b")).over(w).alias("sbb"),
    ).filter(F.col("n") == 14)
    return win.select(
        F.col("d").alias("day"),
        F.expr(
            "CAST(1000 * (n * sab - sa * sb)"
            " div nullif(n * sbb - sb * sb, 0) AS BIGINT)"
        ).alias("beta_milli"),
        F.expr(
            "CAST(1000 * (n * sab - sa * sb) * (n * sab - sa * sb)"
            " div nullif((n * saa - sa * sa) * (n * sbb - sb * sb), 0)"
            " AS BIGINT)"
        ).alias("r2_milli"),
    ).orderBy("day")


_RICH_CLUB_ORACLE = (
    "WITH "
    + """
cos AS (
  SELECT a.l_suppkey AS s1, b.l_suppkey AS s2, count(*) AS w
  FROM lineitem a
  JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                 AND a.l_suppkey < b.l_suppkey
  GROUP BY 1, 2
),
e AS (
  SELECT s1 AS a, s2 AS b FROM cos
  WHERE w >= 2 AND (s1 * 31 + s2 * 17) % 20 = 0
),
und AS (
  SELECT a AS u, b AS v FROM e
  UNION ALL
  SELECT b AS u, a AS v FROM e
),
deg AS (SELECT u, count(*) AS d FROM und GROUP BY u),
ks AS (SELECT unnest([2, 4, 8]) AS k),
rich AS (
  SELECT k.k, count(*) AS n_rich
  FROM ks k JOIN deg ON deg.d > k.k
  GROUP BY k.k
),
within AS (
  SELECT k.k, count(*) AS n_edges
  FROM ks k
  JOIN e ON TRUE
  JOIN deg da ON da.u = e.a AND da.d > k.k
  JOIN deg db ON db.u = e.b AND db.d > k.k
  GROUP BY k.k
)
SELECT r.k AS k_degree,
       CAST(r.n_rich AS BIGINT) AS n_rich_nodes,
       CAST(coalesce(w.n_edges, 0) AS BIGINT) AS n_edges_within,
       CAST(2000000 * coalesce(w.n_edges, 0)
            // nullif(r.n_rich * (r.n_rich - 1), 0) AS BIGINT) AS phi_ppm
FROM rich r LEFT JOIN within w ON w.k = r.k
ORDER BY k_degree
"""
)


@_register("rich_club_coefficient", _RICH_CLUB_ORACLE)
def rich_club_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club coefficient of the co-supply graph at degree cutoffs
    k = 2, 4, 8: phi(k) = 2*E(>k) / (N(>k)*(N(>k)-1)) — do high-degree
    suppliers preferentially trade with EACH OTHER (core-periphery
    structure)? The hub-interconnection view the catalog's other global
    topology stats (clustering coefficient, assortativity, modularity)
    don't isolate: assortativity is a correlation over all edges,
    phi(k) is the realized density INSIDE the hub club. Exact ppm; the
    three cutoffs share one degree aggregate and one double
    degree-join over the edge list. Scale shape: the wedge-join edge
    build (the family's measured-linear shape) + broadcast-able degree
    joins; the k ladder is a 3-row broadcast."""
    e = cosupply_edges(spark, sf_dir)
    deg = (
        undirected(e.toDF("u", "v"))
        .groupBy("u")
        .agg(F.count(F.lit(1)).alias("d"))
        .localCheckpoint(eager=False)
    )
    ks = spark.createDataFrame([(2,), (4,), (8,)], "k long")
    rich = (
        F.broadcast(ks)
        .join(deg, F.col("d") > F.col("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_rich"))
    )
    da = deg.select(F.col("u").alias("ua"), F.col("d").alias("da"))
    db = deg.select(F.col("u").alias("ub"), F.col("d").alias("db"))
    ej = e.join(da, F.col("ua") == F.col("a")).join(
        db, F.col("ub") == F.col("b")
    )
    within = (
        ej.crossJoin(F.broadcast(ks))
        .filter((F.col("da") > F.col("k")) & (F.col("db") > F.col("k")))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_edges"))
    )
    return (
        rich.join(within, "k", "left")
        .select(
            F.col("k").alias("k_degree"),
            F.col("n_rich").cast("long").alias("n_rich_nodes"),
            F.coalesce("n_edges", F.lit(0)).cast("long").alias(
                "n_edges_within"
            ),
            F.expr(
                "CAST(2000000 * coalesce(n_edges, 0)"
                " div nullif(n_rich * (n_rich - 1), 0) AS BIGINT)"
            ).alias("phi_ppm"),
        )
        .orderBy("k_degree")
    )


_AD_ORACLE = """
WITH s AS (
  SELECT event_id, CAST(round(value * 100) AS BIGINT) AS v,
         CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_a
  FROM events WHERE event_type IN ('click', 'view')
),
rk AS (
  SELECT v, is_a,
         row_number() OVER (ORDER BY v, event_id) AS i,
         sum(is_a) OVER (ORDER BY v, event_id) AS m,
         count(*) OVER () AS nn,
         sum(is_a) OVER () AS na
  FROM s
),
terms AS (
  SELECT CAST(m * nn - na * i AS HUGEINT)
         * (m * nn - na * i) // (i * (nn - i)) AS t,
         nn, na
  FROM rk WHERE i < nn
)
SELECT CAST(max(na) AS BIGINT) AS n_a,
       CAST(max(nn) - max(na) AS BIGINT) AS n_b,
       CAST(1000 * sum(t)
            // (CAST(max(na) AS HUGEINT) * (max(nn) - max(na)))
            AS BIGINT) AS a2_milli
FROM terms
"""


@_register("anderson_darling_two_sample", _AD_ORACLE)
def anderson_darling_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Anderson-Darling statistic for click vs view values:
    A^2 = (1/(n*m)) * sum over pooled positions i of
    (M_i*N - n*i)^2 / (i*(N-i)) — the TAIL-WEIGHTED member of the EDF
    test family (ks_test weights the sup uniformly, cramer_von_mises the
    L2 body; the 1/(i(N-i)) weight makes AD the most powerful against
    tail differences). Pooled ranks break value ties deterministically
    by event_id — the same total order on both engines, so the statistic
    is an exact milli integer (per-position terms ride 128-bit lanes
    with truncating division, identical recipes). Scale shape: the EDF
    order is realized WITHOUT a single-partition window — tiered
    global rank + prefix sums over contiguous 128-cent value bands
    (tiered_global_rank with cumsum; the oracle's literal global
    windows are the semantic spec, not the plan), one aggregate."""
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
        cumsum={"is_a": "m"},
        totals={"is_a": "na"},
    )
    terms = rk.filter(F.col("i") < F.col("nn")).select(
        F.expr(
            "CAST(m * nn - na * i AS DECIMAL(38,0))"
            " * (m * nn - na * i) div (i * (nn - i))"
        ).alias("t"),
        "nn",
        "na",
    )
    return terms.agg(
        F.max("na").cast("long").alias("n_a"),
        F.expr("CAST(max(nn) - max(na) AS BIGINT)").alias("n_b"),
        F.expr(
            "CAST(1000 * CAST(sum(t) AS DECIMAL(38,0))"
            " div (CAST(max(na) AS DECIMAL(38,0)) * (max(nn) - max(na)))"
            " AS BIGINT)"
        ).alias("a2_milli"),
    )


# ===========================================================================
# Ordinal association + distributional treatment effects
# ===========================================================================

_GAMMA_ORACLE = """
WITH s AS (
  SELECT CAST(substring(o_orderpriority, 1, 1) AS BIGINT) AS r,
         ntile(5) OVER (ORDER BY o_totalprice, o_orderkey) AS c
  FROM orders
),
grid AS (SELECT r, c, count(*) AS n FROM s GROUP BY r, c),
pairs AS (
  SELECT a.r, a.c,
         sum(CASE WHEN b.r > a.r AND b.c > a.c
                  THEN CAST(a.n AS HUGEINT) * b.n ELSE 0 END) AS conc,
         sum(CASE WHEN b.r > a.r AND b.c < a.c
                  THEN CAST(a.n AS HUGEINT) * b.n ELSE 0 END) AS disc
  FROM grid a CROSS JOIN grid b
  GROUP BY a.r, a.c
),
tot AS (SELECT sum(conc) AS cc, sum(disc) AS dd FROM pairs)
SELECT CAST(cc AS BIGINT) AS n_concordant,
       CAST(dd AS BIGINT) AS n_discordant,
       CAST(1000 * (cc - dd) // nullif(cc + dd, 0) AS BIGINT)
         AS gamma_milli
FROM tot
"""


@_register("goodman_kruskal_gamma", _GAMMA_ORACLE)
def goodman_kruskal_gamma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goodman-Kruskal gamma between order priority (ordinal 1..5) and
    total-price quintile: gamma = (C - D)/(C + D) over concordant/
    discordant pairs — the TIE-DROPPING ordinal association measure
    beside kendall_tau_by_year (which tie-corrects) and
    cochran_armitage_trend (binary outcome): gamma reads association
    strength on a pure ordinal grid. The pair counts come from the 5x5
    contingency GRID (25x25 cell products), never from row-level pairs —
    the contingency-collapse trick that makes O(n^2) pair statistics one
    rollup + a constant-size grid join. Exact 128-bit integer lanes, one
    division. Scale shape: one rollup to 25 cells; the price quintile
    is an EXACT global ntile computed without a single-partition window
    — tiered_global_rank over contiguous 1024-dollar price bands +
    ntile's size arithmetic (tiles 1..n%k hold n div k + 1 rows), the
    length_bucket_padding recipe; the oracle's literal ntile window is
    the semantic spec, not the plan."""
    base = _t(spark, sf_dir, "orders").select(
        F.expr("CAST(substring(o_orderpriority, 1, 1) AS BIGINT)").alias("r"),
        "o_totalprice",
        "o_orderkey",
    )
    rk = tiered_global_rank(
        base,
        F.expr("CAST(o_totalprice AS BIGINT) div 1024"),
        ["o_totalprice", "o_orderkey"],
        rank_name="rn",
        total_name="nt",
    )
    s = rk.select("r", exact_ntile("rn", "nt", 5).alias("c"))
    grid = s.groupBy("r", "c").agg(F.count(F.lit(1)).alias("n")).localCheckpoint(
        eager=False
    )
    a = grid.alias("a")
    b = grid.alias("b")
    pairs = a.crossJoin(b).agg(
        F.sum(
            F.when(
                (F.col("b.r") > F.col("a.r")) & (F.col("b.c") > F.col("a.c")),
                F.expr("CAST(a.n AS DECIMAL(38,0)) * b.n"),
            ).otherwise(F.expr("CAST(0 AS DECIMAL(38,0))"))
        ).alias("cc"),
        F.sum(
            F.when(
                (F.col("b.r") > F.col("a.r")) & (F.col("b.c") < F.col("a.c")),
                F.expr("CAST(a.n AS DECIMAL(38,0)) * b.n"),
            ).otherwise(F.expr("CAST(0 AS DECIMAL(38,0))"))
        ).alias("dd"),
    )
    return pairs.select(
        F.col("cc").cast("long").alias("n_concordant"),
        F.col("dd").cast("long").alias("n_discordant"),
        F.expr(
            "CAST(1000 * (cc - dd) div nullif(cc + dd, 0) AS BIGINT)"
        ).alias("gamma_milli"),
    )


_QTE_ORACLE = """
WITH s AS (
  SELECT event_id, CAST(round(value * 100) AS BIGINT) AS v,
         CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS grp
  FROM events WHERE event_type IN ('click', 'view')
),
rk AS (
  SELECT grp, v,
         row_number() OVER (PARTITION BY grp ORDER BY v, event_id) AS rn,
         count(*) OVER (PARTITION BY grp) AS n_g
  FROM s
),
qs AS (SELECT unnest(range(1, 10)) AS q),
quant AS (
  SELECT q.q, r.grp, max(r.v) AS vq
  FROM qs q JOIN rk r ON r.rn = (q.q * r.n_g + 9) // 10
  GROUP BY q.q, r.grp
)
SELECT a.q AS decile,
       CAST(a.vq AS BIGINT) AS v_click_cents,
       CAST(b.vq AS BIGINT) AS v_view_cents,
       CAST(a.vq - b.vq AS BIGINT) AS qte_cents
FROM quant a JOIN quant b ON b.q = a.q AND b.grp = 0
WHERE a.grp = 1
ORDER BY decile
"""


@_register("quantile_treatment_effect", _QTE_ORACLE)
def quantile_treatment_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile treatment effects: the click-vs-view value difference at
    every decile of the two distributions (exact order statistics via
    per-group rank selection at ceil(q*n/10)) — the DISTRIBUTIONAL view
    of an effect that mean-based tests (cohens_d, permutation test)
    collapse to one number: a treatment can move the tails without
    moving the mean, and the QTE profile is where that shows. Exact
    integer cents throughout; both engines select the identical rank.
    Scale shape: one rank window per group (the value shuffle), a 9-row
    quantile ladder broadcast-joined against the rank frame."""
    s = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "view"))
        .select(
            "event_id",
            _cents("value").alias("v"),
            F.when(F.col("event_type") == "click", 1).otherwise(0).alias(
                "grp"
            ),
        )
    )
    rk = s.select(
        "grp",
        "v",
        F.row_number()
        .over(W.partitionBy("grp").orderBy("v", "event_id"))
        .alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy("grp")).alias("n_g"),
    )
    qs = spark.range(1, 10).select(F.col("id").alias("q"))
    quant = (
        rk.crossJoin(F.broadcast(qs))
        .filter(F.expr("rn = (q * n_g + 9) div 10"))
        .groupBy("q", "grp")
        .agg(F.max("v").alias("vq"))
    )
    a = quant.filter(F.col("grp") == 1).select(
        F.col("q").alias("decile"), F.col("vq").alias("va")
    )
    b = quant.filter(F.col("grp") == 0).select(
        F.col("q").alias("decile"), F.col("vq").alias("vb")
    )
    return (
        a.join(b, "decile")
        .select(
            "decile",
            F.col("va").cast("long").alias("v_click_cents"),
            F.col("vb").cast("long").alias("v_view_cents"),
            (F.col("va") - F.col("vb")).cast("long").alias("qte_cents"),
        )
        .orderBy("decile")
    )
