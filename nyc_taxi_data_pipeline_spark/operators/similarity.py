"""Similarity search over embedding columns (array<float>).

Extension surface (BASELINE.json north star). Four top-k tiers, all
ending in the one per-query rank tail `_top_k`:

  brute_force_topk   exact cosine top-k: broadcast the (small) query set,
                     one pass over the corpus, per-query heap via window
                     rank. Scales linearly in corpus size — the correctness
                     baseline and the right answer when |queries| is small.
  lsh_topk           random-hyperplane LSH: corpus and queries bucketed by
                     sign bits; only same-bucket candidates scored. The
                     100 TB path — the self-join degenerates from O(n·q) to
                     O(collisions).
  ivf_topk           inverted file: sampled centroids, each vector in its
                     nearest cell, each query probing its nearest cells —
                     one index/probe/score path, in memory or over a zone
                     persisted by write_ivf_zone (ivf_topk_via_zone).
  quantized_topk     int8 scalar quantization ranked by exact integer dot.

The int8 building blocks are shared by every exact-integer vector entry:
`int8_quantize` (corpus lanes on the corpus-wide `int8_scale`),
`nearest_centroid` (one exact k-means assignment step) and the
mapInArrow twin `quantize_embeddings_arrow`.

All vector math is JVM-side (functions.vector) — zip_with/aggregate inside
whole-stage codegen, no Python UDFs (except the Arrow quantizer, whose
purpose is the Arrow lane).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from nyc_taxi_data_pipeline_spark.functions import vector as vecfn


def _deterministic_planes(dim: int, n_planes: int) -> list[list[float]]:
    """Seeded pseudo-random unit hyperplanes, generated deterministically on
    the driver (tiny: n_planes × dim floats) and inlined as literals —
    every executor sees identical planes with no broadcast variable."""
    # xorshift-ish LCG so we don't depend on numpy RNG stability
    state = 0x9E3779B97F4A7C15
    planes: list[list[float]] = []
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            # map to (-1, 1)
            row.append((state / float(1 << 64)) * 2.0 - 1.0)
        nrm = math.sqrt(sum(x * x for x in row)) or 1.0
        planes.append([x / nrm for x in row])
    return planes


def hyperplane_bucket(vec: Column, n_planes: int = 8, dim: int = 64) -> Column:
    """Sign-bit bucket id: bit i = (vec · plane_i) > 0. Pure expression —
    computed in the scan stage."""
    planes = _deterministic_planes(dim, n_planes)
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        d = vecfn.dot(vec, F.array(*[F.lit(x) for x in plane]))
        bucket = bucket.bitwiseOR(
            F.when(d > 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(F.lit(0).cast("long"))
        )
    return bucket


def _top_k(scored: DataFrame, k: int, score: str) -> DataFrame:
    """The per-query tail of every top-k here: (query_id, neighbor_id,
    rank, score), the k highest `score` rows of each query, ties to the
    lower neighbor_id."""
    w = W.partitionBy("query_id").orderBy(F.col(score).desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", score)
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    round_digits: int = 6,
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, rank, cosine).

    The query side broadcasts (it must be small — this is 'score a probe
    set against the corpus', not all-pairs). Rank ties break on neighbor
    id after rounding cosine, so results are deterministic and match the
    SQL oracle bit-for-bit."""
    q = F.broadcast(
        queries.select(F.col(query_id).alias("query_id"), F.col(query_vec).alias("qv"))
    )
    c = corpus.select(F.col(corpus_id).alias("neighbor_id"), F.col(corpus_vec).alias("cv"))
    scored = c.crossJoin(q).select(
        "query_id",
        "neighbor_id",
        F.round(vecfn.cosine(F.col("qv"), F.col("cv")), round_digits).alias("cosine"),
    )
    return _top_k(scored, k, "cosine")


def _ivf_index(
    corpus: DataFrame, centroid_stride: int, corpus_id: str, corpus_vec: str
) -> tuple[DataFrame, DataFrame]:
    """The IVF index of a corpus: its centroids (cent_id, cent_vec), every
    `centroid_stride`-th vector by id, and its cells (neighbor_id, cell,
    cv), each vector assigned to its nearest centroid by L2, ties to the
    lowest centroid id (broadcast centroids, argmin via min(struct))."""
    cents = corpus.filter(F.col(corpus_id) % centroid_stride == 0).select(
        F.col(corpus_id).alias("cent_id"), F.col(corpus_vec).alias("cent_vec")
    )
    assigned = (
        corpus.select(F.col(corpus_id).alias("neighbor_id"), F.col(corpus_vec).alias("cv"))
        .crossJoin(F.broadcast(cents))
        .groupBy("neighbor_id")
        .agg(
            F.min(
                F.struct(
                    vecfn.l2_distance(F.col("cv"), F.col("cent_vec")).alias("d"),
                    F.col("cent_id").alias("cell"),
                )
            )["cell"].alias("cell"),
            F.first("cv").alias("cv"),
        )
    )
    return cents, assigned


def _ivf_probes(
    queries: DataFrame, cents: DataFrame, n_probe: int, query_id: str, query_vec: str
) -> DataFrame:
    """(query_id, qv, cell) for each query's `n_probe` nearest cells by L2,
    ties to the lowest cell id; broadcast, it is |queries| · n_probe rows."""
    q_scored = (
        queries.select(F.col(query_id).alias("query_id"), F.col(query_vec).alias("qv"))
        .crossJoin(F.broadcast(cents))
        .select(
            "query_id",
            "qv",
            F.col("cent_id").alias("cell"),
            vecfn.l2_distance(F.col("qv"), F.col("cent_vec")).alias("d"),
        )
    )
    wq = W.partitionBy("query_id").orderBy(F.col("d").asc(), F.col("cell"))
    return F.broadcast(
        q_scored.withColumn("pr", F.row_number().over(wq))
        .filter(F.col("pr") <= n_probe)
        .select("query_id", "qv", "cell")
    )


def _ivf_search(assigned: DataFrame, probes: DataFrame, k: int) -> DataFrame:
    """Score only the probed cells' vectors (equi-join on cell) and rank."""
    scored = assigned.join(probes, "cell").select(
        "query_id",
        "neighbor_id",
        F.round(vecfn.cosine(F.col("qv"), F.col("cv")), 6).alias("cosine"),
    )
    return _top_k(scored, k, "cosine")


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    centroid_stride: int = 50,
    n_probe: int = 3,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
) -> DataFrame:
    """IVF (inverted-file) approximate top-k — the third tier beyond LSH.

    Coarse quantizer: every `centroid_stride`-th corpus vector (by id) is a
    centroid — deterministic, no RNG, no iterative k-means (sampled
    centroids are the standard cheap quantizer baseline). Each corpus
    vector is assigned to its nearest centroid ONCE (broadcast centroids,
    argmin via min(struct)); each query probes its `n_probe` nearest cells
    and scores only vectors in those cells.

    Scale shape: assignment is a map-side broadcast pass; the probe join is
    equi on cell id (hash shuffle, AQE-skewable); scored candidates are
    |corpus| * n_probe / n_cells per query instead of |corpus|. At 100 TB
    the cell assignment is computed once and persisted alongside the
    embeddings (write_ivf_zone / ivf_topk_via_zone run the same index,
    probe and rank)."""
    cents, assigned = _ivf_index(corpus, centroid_stride, corpus_id, corpus_vec)
    probes = _ivf_probes(queries, cents, n_probe, query_id, query_vec)
    return _ivf_search(assigned, probes, k)


def write_ivf_zone(
    corpus: DataFrame,
    path: str,
    centroid_stride: int = 50,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> None:
    """Persist the IVF index to a zone: `{path}/centroids` (the coarse
    quantizer) and `{path}/cells` (corpus vectors WITH their cell
    assignment, partitioned by cell). Cell assignment is a property of the
    corpus, not the query — at 100 TB it's computed once here and every
    query run afterwards reads only the probed cells' partitions
    (partition pruning on `cell=`), never the full corpus."""
    cents, assigned = _ivf_index(corpus, centroid_stride, corpus_id, corpus_vec)
    cents.write.mode("overwrite").parquet(f"{path}/centroids")
    assigned.write.mode("overwrite").partitionBy("cell").parquet(f"{path}/cells")


def ivf_topk_via_zone(
    queries: DataFrame,
    zone_path: str,
    k: int = 5,
    n_probe: int = 3,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    max_pruned_cells: int = 4096,
) -> DataFrame:
    """`ivf_topk` against a persisted IVF zone (see `write_ivf_zone`):
    centroids load (tiny, broadcast), each query picks its n_probe nearest
    cells, and only those cells' partitions are read.

    The probed cell ids are collected to the driver first — a
    deliberately tiny collect (≤ distinct cells probed, itself ≤ the
    zone's cell count, which is ~sqrt(corpus) by construction) — and
    applied as a literal `isin` filter, which Catalyst turns into
    PartitionFilters on the zone's `cell=` directories: unprobed cells
    are never opened, the file-level analog of an inverted-file index
    seek. The collect is HARD-BOUNDED by `max_pruned_cells`: if the probe
    set exceeds it (a huge query frame probing most of the zone), the
    literal filter would stop paying for itself, so the operator keeps
    the broadcast probe join as the only pruning (correct, but the scan
    reads every cell partition) instead of growing an unbounded
    driver-side list. Results are identical to the in-memory ivf_topk
    given the same corpus/stride."""
    spark = queries.sparkSession
    cents = spark.read.parquet(f"{zone_path}/centroids")
    assigned = spark.read.parquet(f"{zone_path}/cells")
    probes = _ivf_probes(queries, cents, n_probe, query_id, query_vec)
    limited = probes.select("cell").distinct().limit(max_pruned_cells + 1).collect()
    if len(limited) <= max_pruned_cells:
        assigned = assigned.filter(F.col("cell").isin([r["cell"] for r in limited]))
    return _ivf_search(assigned, probes, k)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 6,
    dim: int = 64,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    multiprobe: int = 0,
) -> DataFrame:
    """Approximate top-k: only corpus rows sharing the query's hyperplane
    bucket are scored. Recall < 1 by construction; raise recall with fewer
    planes (bigger buckets), multiple plane tables (union of candidates),
    or `multiprobe`.

    `multiprobe` = max Hamming distance of extra buckets probed: every
    bucket within `multiprobe` sign-bit flips of the query's own bucket is
    searched (the vectors most likely to be split off by borderline
    hyperplanes). Measured on the sf0.001 embeddings at n_planes=6:
    recall@5 ≈ 0.33 / 0.48 / 0.68 at multiprobe 0 / 1 / 2, scoring ~1.6% /
    11% / 34% of the corpus. The expansion happens on the BROADCAST query
    side (sum_{d<=multiprobe} C(n_planes,d) rows per query after explode);
    the corpus is still scanned and bucketed exactly once, so the extra
    recall costs only candidate scoring, never a second corpus pass."""
    import itertools
    c = corpus.select(
        F.col(corpus_id).alias("neighbor_id"),
        F.col(corpus_vec).alias("cv"),
        hyperplane_bucket(F.col(corpus_vec), n_planes, dim).alias("bucket"),
    )
    qb = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(query_vec).alias("qv"),
        hyperplane_bucket(F.col(query_vec), n_planes, dim).alias("bucket"),
    )
    if multiprobe:
        masks = [0] + [
            sum(1 << i for i in flips)
            for d in range(1, multiprobe + 1)
            for flips in itertools.combinations(range(n_planes), d)
        ]
        qb = qb.select(
            "query_id",
            "qv",
            F.explode(
                F.array(
                    *[
                        F.col("bucket").bitwiseXOR(F.lit(m).cast("long"))
                        for m in masks
                    ]
                )
            ).alias("bucket"),
        )
    q = F.broadcast(qb)
    scored = c.join(q, "bucket").select(
        "query_id",
        "neighbor_id",
        F.round(vecfn.cosine(F.col("qv"), F.col("cv")), 6).alias("cosine"),
    )
    return _top_k(scored, k, "cosine")


def int8_scale(corpus: DataFrame, corpus_vec: str = "embedding") -> DataFrame:
    """Symmetric int8 quantization scale: the corpus-wide max |x|, as a
    1-row frame (broadcast onto the quantization pass). A corpus property —
    at 100 TB it is computed once per ingest and persisted with the zone."""
    return corpus.agg(
        F.max(
            F.array_max(F.transform(F.col(corpus_vec), lambda x: F.abs(x.cast("double"))))
        ).alias("q_scale")
    )


def _quantize(vec, scale) -> "Column":
    """x → round(x·127/scale) as long. round() lands on an exact integer-
    valued double, so the long cast is truncation-safe and the result is
    identical in any engine that rounds half away from zero."""
    return F.transform(
        vec, lambda x: F.round(x.cast("double") * 127.0 / scale).cast("long")
    )


def int8_quantize(
    corpus: DataFrame, corpus_id: str = "vec_id", corpus_vec: str = "embedding"
) -> DataFrame:
    """(vec_id, qv): every corpus vector int8-quantized on the corpus-wide
    scale (`int8_scale`, one 1-row broadcast; `_quantize` per lane) — one
    narrow map pass, no shuffle over the corpus. Nothing is checkpointed:
    a caller that reads the lanes twice checkpoints them itself."""
    return corpus.crossJoin(F.broadcast(int8_scale(corpus, corpus_vec))).select(
        F.col(corpus_id).alias("vec_id"),
        _quantize(F.col(corpus_vec), F.col("q_scale")).alias("qv"),
    )


def nearest_centroid(points: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, qv, centroid_id, d2): each point (vec_id, qv) with its
    nearest centroid (centroid_id, cv) by exact integer L2², ties to the
    lowest centroid id — one k-means assignment step, bit-stable in any
    engine. Centroids broadcast (k × dim), so scoring is a map-side pass
    and the per-point argmin window partitions by vec_id."""
    w = W.partitionBy("vec_id").orderBy("d2", "centroid_id")
    return (
        points.crossJoin(F.broadcast(cents))
        .select("vec_id", "qv", "centroid_id", vecfn.int_l2sq("qv", "cv").alias("d2"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def quantized_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
) -> DataFrame:
    """Scalar-quantized (int8) top-k: score with INTEGER dot products of
    quantized vectors — (query_id, neighbor_id, rank, qdot).

    The 100 TB rationale: int8 shrinks the scanned bytes 4× vs float32 and
    the integer dot ranking is EXACT (no float summation-order ambiguity),
    so results are reproducible across engines, partitionings, and
    hardware — the property float cosine only gets after rounding. Max
    |qdot| ≤ dim·127² ≪ 2⁶³, so ANSI mode can't overflow. Quantization is
    a narrow map pass (queries on the corpus scale); ranking is the same
    broadcast-queries + per-query window as brute force."""
    c = int8_quantize(corpus, corpus_id, corpus_vec).select(
        F.col("vec_id").alias("neighbor_id"), F.col("qv").alias("cq")
    )
    q = F.broadcast(
        queries.crossJoin(F.broadcast(int8_scale(corpus, corpus_vec))).select(
            F.col(query_id).alias("query_id"),
            _quantize(F.col(query_vec), F.col("q_scale")).alias("qq"),
        )
    )
    scored = c.crossJoin(q).select(
        "query_id", "neighbor_id", vecfn.int_dot("qq", "cq").alias("qdot")
    )
    return _top_k(scored, k, "qdot")


def quantize_embeddings_arrow(
    df: DataFrame,
    scale_col: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, qvec array<bigint>) — int8 symmetric quantization computed in
    a mapInArrow pass: zero-copy Arrow batches in and out, vectorized
    pyarrow.compute kernels on the FLAT child array of the list column
    (one multiply/divide/round over all lanes of the whole batch, no
    per-row Python). This is the §2.10 Arrow-level lane, one step below
    pandas UDFs: no pandas conversion, list offsets reused as-is.

    The corpus max |x| (see int8_scale) is `scale_col`, a constant column
    on `df`, e.g. from crossJoin(broadcast(int8_scale(df))): the whole
    quantization is ONE Spark action with no driver-side collect — the
    Arrow kernel reads the scale from the first row of each batch.
    Arithmetic is pinned to (x * 127.0) / scale with round
    half-away-from-zero (pyarrow round_mode='half_towards_infinity' ==
    Spark/DuckDB round), so the quantized lanes are bit-identical to the
    JVM _quantize recipe and any SQL oracle. Null embedding rows stay
    null (the input validity bitmap is carried onto qvec)."""
    out_schema = f"{id_col} bigint, qvec array<bigint>"

    def quantize_batches(batches):
        # self-contained closure: workers may not have this package
        # importable when the driver runs from a foreign cwd
        import pyarrow as pa
        import pyarrow.compute as pc

        for batch in batches:
            ids = batch.column(0)
            emb = batch.column(1)
            if isinstance(emb, pa.ChunkedArray):
                emb = emb.combine_chunks()
            # scale_col is a broadcast corpus constant — identical on
            # every row of every batch
            s = batch.column(2)[0].as_py()
            flat = pc.cast(emb.values, "float64")
            scaled = pc.divide(pc.multiply(flat, 127.0), s)
            q = pc.cast(
                pc.round(scaled, round_mode="half_towards_infinity"), "int64"
            )
            # carry the row-level validity bitmap: a null embedding must
            # stay a null qvec, not collapse to a non-null empty list
            if emb.null_count:
                qvec = pa.ListArray.from_arrays(
                    emb.offsets, q, mask=emb.is_null()
                )
            else:
                qvec = pa.ListArray.from_arrays(emb.offsets, q)
            yield pa.RecordBatch.from_arrays([ids, qvec], [id_col, "qvec"])

    return df.select(id_col, vec_col, scale_col).mapInArrow(
        quantize_batches, out_schema
    )
