"""The engine's analytic query catalog.

Each entry is one operator/query from SURVEY.md §2 (or a §7 LLM-pipeline
extension), expressed Spark-first, paired with the ANSI-SQL oracle the
driver runs through DuckDB. Naming contract: every computed column is
aliased identically in the Spark plan and the oracle SQL; double-valued
aggregates are rounded on BOTH sides so value-hashes are float-stable.

Queries run against the driver's synthetic lake (TESTDATA.md): TPC-H-ish
star schema (region nation customer supplier part orders lineitem), an
`events` stream table, and `documents`/`embeddings` for the LLM operators.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from nyc_taxi_data_pipeline_spark.functions import scalar, text, vector
from nyc_taxi_data_pipeline_spark.sources.catalog import load_table


@dataclass(frozen=True)
class Query:
    """A catalog entry: Spark plan builder + the DuckDB oracle SQL that
    pins its values.

    Every builder leaves the session's conf, temp views and functions as
    it found them. `stream` marks a builder that drains a streaming query
    while it builds: the drain pins `spark.sql.shuffle.partitions` on the
    caller's session for the query's start, so a stream entry must not
    build beside other builders on one session."""

    name: str
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str
    doc: str
    stream: bool = False


REGISTRY: dict[str, Query] = {}


def _register(name: str, oracle: str, stream: bool = False):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in REGISTRY:
            raise ValueError(f"duplicate catalog entry name: {name!r}")
        REGISTRY[name] = Query(
            name=name, spark=fn, oracle=oracle, doc=fn.__doc__ or "", stream=stream
        )
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def local_frame(df: DataFrame) -> DataFrame:
    """`df`'s rows collected to the driver as a new frame that no longer
    reads `df`'s sources — for a builder that deletes its scratch
    directory before it returns. The rows cross as Arrow batches, which
    the JVM reads back with no Python worker and with timestamps exact
    (a Python datetime round trip goes through the local zone). Only
    for small, bounded results."""
    return df.sparkSession.createDataFrame(df.toArrow())


def tiered_global_rank(
    df: DataFrame,
    tier,
    order_by: list,
    rank_name: str = "rn",
    total_name: str | None = None,
    cumsum: dict[str, str] | None = None,
    totals: dict[str, str] | None = None,
    cummax_exclusive: dict[str, str] | None = None,
) -> DataFrame:
    """EXACT global row_number() over `order_by` WITHOUT a
    single-partition window — the scale-safe order-statistic device
    (proven by length_bucket_padding / its plan test): rank in parallel
    within contiguous TIERS of the leading sort key, then add per-tier
    offsets from a tiny broadcast cumsum. Requirements the caller owns:
    `tier` must be monotone NON-DECREASING in the global `order_by`
    order (contiguous value bands of the leading key — e.g.
    ``F.expr("x div 256")``), so every tier-i row globally sorts before
    every tier-(i+1) row and per-tier rank + offset IS the global rank.
    The offsets frame is bounded by value-range/band-width — pick the
    band width so range/width lands in the hundreds-to-thousands (too
    narrow and the offsets frame tracks the DATA, which is the pattern
    this helper exists to kill; tools/audit_common.py catches that
    empirically) — so ITS unpartitioned cumsum window is one of the
    tiny frames the plan audit allows. `total_name`, when set, attaches
    the global row count from the same bounded sizes frame (replacing
    the ``count(*) OVER ()`` device, which is ALSO a single-partition
    window). A descending global rank is ``n - rn + 1``.

    `cumsum` ({src_col: out_name}) additionally attaches EXACT global
    running sums (inclusive of the current row) over the same order —
    the device generalized from rank to prefix sums: within-tier
    cumsum window + the broadcast per-tier offset of each column.
    `totals` ({src_col: out_name}) attaches grand totals of source
    columns from the same bounded per-tier rollup (again replacing
    ``sum(x) OVER ()`` single-partition windows).
    `cummax_exclusive` ({src_col: out_name}) attaches the EXCLUSIVE
    global running max over the same order (NULL on the global first
    row) — greatest(per-tier exclusive cummax, max over all earlier
    tiers); F.greatest skips NULLs, which is exactly the merge this
    needs."""
    cumsum = cumsum or {}
    totals = totals or {}
    cummax_exclusive = cummax_exclusive or {}
    base = df.withColumn("__tier", tier)
    wt = W.partitionBy("__tier").orderBy(*order_by)
    wt_excl = wt.rowsBetween(W.unboundedPreceding, -1)
    ranked = base.withColumn("__r", F.row_number().over(wt))
    for src, out_name in cumsum.items():
        ranked = ranked.withColumn(f"__c_{out_name}", F.sum(src).over(wt))
    for src, out_name in cummax_exclusive.items():
        ranked = ranked.withColumn(
            f"__x_{out_name}", F.max(src).over(wt_excl)
        )
    sum_cols = {src for src in cumsum} | {src for src in totals}
    sizes = base.groupBy("__tier").agg(
        F.count(F.lit(1)).alias("__n"),
        *[F.sum(src).alias(f"__s_{src}") for src in sorted(sum_cols)],
        *[
            F.max(src).alias(f"__m_{src}")
            for src in sorted(cummax_exclusive)
        ],
    )
    woff = W.orderBy("__tier").rowsBetween(W.unboundedPreceding, -1)
    offsets = sizes.select(
        "__tier",
        F.coalesce(F.sum("__n").over(woff), F.lit(0)).alias("__off"),
        *[
            F.coalesce(F.sum(f"__s_{src}").over(woff), F.lit(0)).alias(
                f"__off_{src}"
            )
            for src in sorted({s for s in cumsum})
        ],
        *[
            F.max(f"__m_{src}").over(woff).alias(f"__offm_{src}")
            for src in sorted(cummax_exclusive)
        ],
    )
    out = (
        ranked.join(F.broadcast(offsets), "__tier")
        .withColumn(rank_name, F.col("__off") + F.col("__r"))
    )
    for src, out_name in cumsum.items():
        out = out.withColumn(
            out_name, F.col(f"__off_{src}") + F.col(f"__c_{out_name}")
        )
    for src, out_name in cummax_exclusive.items():
        out = out.withColumn(
            out_name, F.greatest(f"__offm_{src}", f"__x_{out_name}")
        )
    out = out.drop(
        "__tier",
        "__r",
        "__off",
        *[f"__c_{o}" for o in cumsum.values()],
        *[f"__off_{s}" for s in cumsum],
        *[f"__x_{o}" for o in cummax_exclusive.values()],
        *[f"__offm_{s}" for s in cummax_exclusive],
    )
    agg_exprs = []
    if total_name is not None:
        agg_exprs.append(F.sum("__n").alias(total_name))
    for src, out_name in totals.items():
        agg_exprs.append(F.sum(f"__s_{src}").alias(out_name))
    if agg_exprs:
        out = out.crossJoin(F.broadcast(sizes.agg(*agg_exprs)))
    return out


def adaptive_band_width(df: DataFrame, key: str, target_tiers: int = 384) -> int:
    """Band width for `tiered_global_rank` derived from the ACTUAL key
    range, so the offsets frame stays range/width-bounded at ~`target_tiers`
    rows at ANY scale factor. A fixed literal width over a key whose RANGE
    grows with the lake silently turns the offsets frame into O(n/width) —
    the exact shape tiered_global_rank exists to kill (ADVICE r7: orderkey
    div 65536 is ~1 tier at both test scales and ~9M single-task offset
    rows at 100 TB, invisible to a two-point empirical audit). One min/max
    aggregate (column-pruned scan, 1-row bounded collect — clean under
    tools/audit_common.py) pins the tier count forever. Integral `div`
    by the returned width is monotone non-decreasing in the key, which is
    all tiered_global_rank requires.

    The default target sits BELOW tools/audit_common.py's 512-row
    data-sized floor on purpose: the offsets frame's own unpartitioned
    cumsum is then bounded under the floor by CONSTRUCTION and can never
    trip the gate even while the tier count is still in its growth phase
    between the two audit scale points (a fixed width over a bounded
    value DOMAIN shows zero growth and may use thousands of tiers; an
    adaptive width over a growing domain cannot). ~384 tiers bounds the
    per-tier window task at n/384 — callers that need more parallelism at
    extreme scale pass a larger target consciously and own the audit
    whitelist entry."""
    lo, hi = df.agg(F.min(key), F.max(key)).collect()[0]
    if lo is None or hi is None:
        return 1
    return max(1, (int(hi) - int(lo)) // target_tiers + 1)


def fan_out(df: DataFrame, probe: DataFrame | None = None) -> DataFrame:
    """Guide-§2.5 'unsplittable input' remedy, made scale-adaptive: when
    the upstream input has fewer partitions than the cluster can run
    concurrently, round-robin repartition `df` to defaultParallelism so
    the narrow-but-EXPANDING work downstream (trigram/token explode,
    broadcast-join pair probe, the partial aggregation over the join
    output) uses every core instead of one task. The r9 finding this
    kills: every sf0.1 table is a single-row-group parquet file, so scan
    parallelism is 1 and e.g. charlm's two explode+aggregate passes ran
    single-threaded while 31 cores idled (4.9 s -> 0.8 s; doc_similarity
    5.3 -> 1.5 s, values identical).

    Scale-adaptivity: the trigger is the PROBE frame's partition count
    (pass the scan-rooted frame; default `df` itself — must be a frame
    whose RDD conversion runs no exchanges, i.e. a scan or an existing
    checkpoint, or the probe itself would execute stages). At real scale
    the scan has orders of magnitude more splits than
    defaultParallelism, the condition is false and this function is the
    IDENTITY — no shuffle is ever added at 100 TB; locally it shuffles
    at most (defaultParallelism x one small input), bounded by the very
    condition that fired it. defaultParallelism derives from the
    cluster, not a constant, so the driver's lower-core bench runs stay
    comparable.

    Value-safety contract (why this is NOT applied centrally in
    load_table): a repartition changes float summation ORDER, and a
    double sum whose rounded value sits on a tie is then
    core-count-dependent (verify skill: the round-on-grid hazard class).
    Callers must have order-independent lanes — integer/decimal sums,
    counts, min/max, md5 — which every adopting entry documents."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if (probe if probe is not None else df).rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def exact_ntile(rank: str, total: str, k: int):
    """ntile(k)'s size arithmetic over an EXACT global rank (from
    tiered_global_rank): tiles 1..total%k hold total div k + 1 rows,
    the rest total div k — bit-identical to the engine ntile over the
    same total order, with no single-partition window. Returns an INT
    column (ntile's type)."""
    q = f"({total} div {k})"
    r = f"({total} % {k})"
    return F.expr(
        f"CAST(CASE WHEN {rank} <= {r} * ({q} + 1)"
        f" THEN ({rank} - 1) div ({q} + 1) + 1"
        f" ELSE {r} + (({rank} - {r} * ({q} + 1) - 1) div {q}) + 1 END"
        " AS INT)"
    )


# ===========================================================================
# Taxi-parity pipeline (SURVEY.md §3.1) — the reference's raw→staging→star
# lifecycle exercised end-to-end on the synthetic lake. `lineitem` rows are
# deterministically mapped into raw trip-record shape (mixed-case yellow
# variant), then flow through the REAL operator modules:
# normalize (P1-P6) → derive_time_dims (F1-F3) → staging_aggregate (A1/A2)
# → star dims/fact (A3/J2/F9/F10).
# ===========================================================================

def _raw_trips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem → raw yellow-trip records (mixed-case columns exercise P2;
    RatecodeID spans 1..8 so the dim's <7 domain filter bites; quantities
    >45 become null passenger_count so dropna (P5) has work to do)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        ((F.col("l_suppkey") % 2) + 1).alias("VendorID"),
        F.col("l_shipdate").alias("tpep_pickup_datetime"),
        F.expr(
            "timestampadd(MINUTE, cast(l_quantity as int) * 3, l_shipdate)"
        ).alias("tpep_dropoff_datetime"),
        ((F.col("l_linenumber") % 8) + 1).cast("double").alias("RatecodeID"),
        ((F.col("l_partkey") % 25) + 1).alias("PULocationID"),
        ((F.col("l_suppkey") % 25) + 1).alias("DOLocationID"),
        ((F.col("l_orderkey") % 6) + 1).alias("payment_type"),
        F.when(F.col("l_quantity") > 45, F.lit(None).cast("double"))
        .otherwise(F.col("l_quantity"))
        .alias("passenger_count"),
        (F.col("l_quantity") * F.lit(2.0)).alias("trip_distance"),
        F.col("l_extendedprice").alias("fare_amount"),
        F.col("l_discount").alias("extra"),
        F.col("l_tax").alias("mta_tax"),
        (F.col("l_extendedprice") * F.col("l_discount")).alias("tip_amount"),
        F.lit(0.0).alias("tolls_amount"),
        F.lit(0.3).alias("improvement_surcharge"),
        (F.col("l_extendedprice") * (F.lit(1.0) + F.col("l_tax"))).alias("total_amount"),
        F.lit(2.5).alias("congestion_surcharge"),
        F.lit("N").alias("store_and_fwd_flag"),
    )


# The same mapping as ANSI SQL (post-normalize names/types), shared by the
# pipeline oracles. dropna(passenger_count) ≡ WHERE l_quantity <= 45.
_TRIPS_CTE = """
trips AS (
  SELECT
    CAST((l_suppkey % 2) + 1 AS INTEGER)        AS vendor_id,
    l_shipdate                                  AS pickup_datetime,
    l_shipdate + CAST(l_quantity AS INT) * 3 * INTERVAL '1 minute'
                                                AS dropoff_datetime,
    CAST((l_linenumber % 8) + 1 AS INTEGER)     AS rate_code_id,
    CAST((l_partkey % 25) + 1 AS INTEGER)       AS pickup_location_id,
    CAST((l_suppkey % 25) + 1 AS INTEGER)       AS dropoff_location_id,
    CAST((l_orderkey % 6) + 1 AS INTEGER)       AS payment_type_id,
    l_quantity                                  AS passenger_count,
    l_quantity * CAST(2.0 AS DOUBLE)            AS trip_distance,
    l_extendedprice                             AS fare_amount,
    l_discount                                  AS extra,
    l_tax                                       AS mta_tax,
    l_extendedprice * l_discount                AS tip_amount,
    CAST(0.0 AS DOUBLE)                         AS tolls_amount,
    CAST(0.3 AS DOUBLE)                         AS improvement_surcharge,
    l_extendedprice * (CAST(1.0 AS DOUBLE) + l_tax) AS total_amount,
    CAST(2.5 AS DOUBLE)                         AS congestion_surcharge
  FROM lineitem
  WHERE l_quantity <= 45
)
"""

_STAGING_CTE = _TRIPS_CTE + """,
staging AS (
  SELECT
    CAST(year(pickup_datetime) AS VARCHAR) AS year,
    monthname(pickup_datetime)             AS month,
    dayname(pickup_datetime)               AS dow,
    vendor_id, rate_code_id, pickup_location_id, dropoff_location_id,
    payment_type_id, pickup_datetime, dropoff_datetime,
    sum(passenger_count) AS passenger_count,
    sum(trip_distance)   AS trip_distance,
    sum(extra)           AS extra,
    sum(mta_tax)         AS mta_tax,
    sum(fare_amount)     AS fare_amount,
    sum(tip_amount)      AS tip_amount,
    sum(tolls_amount)    AS tolls_amount,
    sum(total_amount)    AS total_amount,
    sum(improvement_surcharge) AS improvement_surcharge,
    sum(congestion_surcharge)  AS congestion_surcharge,
    1 AS service_type
  FROM trips
  GROUP BY ALL
)
"""


def _staging_trips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """raw → normalize (P1-P6) → time dims (F1-F3) → staging agg (A1/A2)."""
    from nyc_taxi_data_pipeline_spark.operators.aggregate import (
        derive_time_dims,
        staging_aggregate,
    )
    from nyc_taxi_data_pipeline_spark.operators.normalize import normalize

    trips = normalize(_raw_trips(spark, sf_dir))
    return staging_aggregate(derive_time_dims(trips, "pickup_datetime"))


# ===========================================================================
# The catalog's three graphs over the lake. Every graph entry builds its
# edge list here; the DuckDB oracles spell the same graphs in SQL.
# ===========================================================================

def trade_edges(
    spark: SparkSession, sf_dir: str, every: int | None = None
) -> DataFrame:
    """Directed customer→supplier trade edges: distinct (src 'c<custkey>',
    dst 's<suppkey>') over orders ⋈ lineitem. `every` thins the graph to
    the orders with o_orderkey % every = 0. The 'c'/'s' prefixes keep the
    two sides disjoint, so operators/graph.undirected of this frame has no
    duplicates."""
    o = _t(spark, sf_dir, "orders")
    if every is not None:
        o = o.filter(F.col("o_orderkey") % every == 0)
    return (
        o.join(
            _t(spark, sf_dir, "lineitem"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
        .distinct()
    )


def cosupply_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oriented supplier co-supply edges (a, b), a < b: supplier pairs that
    share at least 2 orders, hash-thinned by (a*31 + b*17) % 20 = 0 to keep
    the near-complete toy-scale projection sparse. Checkpointed: every
    caller reads it more than once."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    cos = (
        li.alias("x")
        .join(
            li.alias("y"),
            (F.col("x.l_orderkey") == F.col("y.l_orderkey"))
            & (F.col("x.l_suppkey") < F.col("y.l_suppkey")),
        )
        .groupBy(
            F.col("x.l_suppkey").alias("s1"), F.col("y.l_suppkey").alias("s2")
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    return (
        cos.filter(
            (F.col("w") >= 2)
            & ((F.col("s1") * 31 + F.col("s2") * 17) % 20 == 0)
        )
        .select(F.col("s1").alias("a"), F.col("s2").alias("b"))
        .localCheckpoint(eager=False)
    )


def user_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (u = o_custkey, i = l_partkey % 50) co-purchase pairs: the
    user × item-bucket bipartite graph. Checkpointed: every caller
    self-joins it."""
    return (
        _t(spark, sf_dir, "lineitem")
        .join(
            _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            F.col("o_custkey").alias("u"),
            (F.col("l_partkey") % 50).cast("long").alias("i"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )


def item_pairs(spark: SparkSession, sf_dir: str, op: str) -> DataFrame:
    """Distinct item-bucket edges (a, b) between buckets one user bought
    both of, kept where `b <op> a`: "!=" for both directions, ">" or "<"
    for one orientation."""
    ui = user_items(spark, sf_dir)
    return (
        ui.select("u", F.col("i").alias("a"))
        .join(ui.select("u", F.col("i").alias("b")), "u")
        .filter(F.expr(f"b {op} a"))
        .select("a", "b")
        .distinct()
    )


_CHARLM_ORACLE = """
WITH docs AS (
  SELECT doc_id, lower(text) AS t FROM documents
  WHERE text IS NOT NULL AND length(text) >= 3
),
tri AS (
  SELECT doc_id, unnest([ substr(t, i, 3) for i in range(1, length(t) - 1) ]) AS g
  FROM docs
),
model AS (SELECT g, count(*) AS cnt FROM tri GROUP BY g),
total AS (SELECT sum(cnt) AS tot FROM model),
scored AS (
  SELECT tri.doc_id,
         count(*)      AS n_trigrams,
         sum(m.cnt)    AS cnt_sum
  FROM tri JOIN model m USING (g)
  GROUP BY tri.doc_id
)
SELECT s.doc_id,
       s.n_trigrams,
       CAST((1000000 * s.cnt_sum) // (s.n_trigrams * t.tot) AS BIGINT) AS score_ppm
FROM scored s, total t
ORDER BY s.doc_id
"""


@_register("charlm_freq_score", _CHARLM_ORACLE)
def charlm_freq_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-LM quality scoring, the CCNet/Gopher perplexity-filter
    analog an LLM curation pipeline runs before training: train a unigram
    char-3-gram model ON the corpus itself (one hash aggregate), then score
    each document by its mean trigram corpus-frequency — garbage text
    (mojibake, base64 blobs, typo storms) is built from RARE trigrams and
    scores low exactly where a real LM assigns high perplexity. The score
    is kept in scaled-integer arithmetic (ppm, bigint floor-div) so the
    entry carries a full cross-engine value oracle; a production variant
    at 100 TB corpus totals would hold the same ratio in DECIMAL(38,0) or
    DOUBLE. Scale shape: trigram explode is a narrow map; the model is a
    bounded-vocabulary aggregate (≤ |charset|³ rows) that BROADCASTS onto
    the scoring join — no shuffle of the corpus by trigram; the per-doc
    rollup shuffles on doc_id once."""
    d = _t(spark, sf_dir, "documents")
    # r9: the sf-scale documents scan is ONE parquet row group -> one
    # task, and both explode+aggregate passes below ran single-threaded
    # (4.9 s steady; 0.8 s after). fan_out round-robins the scan to
    # cluster parallelism ONLY when the scan is under-parallel (identity
    # at 100 TB — see plans/_base.fan_out). Value-safe here: every lane
    # is an integer count/sum + one bigint floor-div (order-independent).
    d = fan_out(d)
    docs = d.filter(
        F.col("text").isNotNull() & (F.length("text") >= 3)
    ).select("doc_id", F.lower(F.col("text")).alias("t"))
    tri = docs.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.length("t") - 2)).alias("i"),
        F.col("t"),
    ).select("doc_id", F.expr("substring(t, i, 3)").alias("g"))
    # The trigram explode is ~30x corpus rows but NARROW (map off the scan):
    # re-deriving it per consumer is the 100 TB-correct shape. A round-6
    # A/B measured the one-pass alternative — pre-aggregate to (doc_id, g,
    # c) and run model/scoring off the compressed frame — at ~2.9 s vs
    # ~5.0 s warm at sf0.1, and REJECTED it anyway: that plan shuffles a
    # ~10-20x-corpus pair frame (an all-to-all measured in petabytes at
    # the 100 TB design point), while this plan's two shuffles are the
    # bounded model partials and one tiny per-doc rollup — locally the
    # explode CPU dominates, on a cluster the shuffle would. Same verdict
    # as round 4's rejection of checkpointing the exploded frame; only
    # the bounded model aggregate (<= |charset|^3 rows, two consumers:
    # grand total + broadcast scoring join, across which AQE stage reuse
    # does not fire) is checkpointed.
    model = (
        tri.groupBy("g")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=False)
    )
    total = model.agg(F.sum("cnt").alias("tot"))
    scored = (
        tri.join(F.broadcast(model), "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_trigrams"),
            F.sum("cnt").alias("cnt_sum"),
        )
    )
    return (
        scored.crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            "n_trigrams",
            F.expr("(1000000 * cnt_sum) div (n_trigrams * tot)").alias(
                "score_ppm"
            ),
        )
        .orderBy("doc_id")
    )
