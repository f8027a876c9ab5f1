"""Scale-strategy operators: semantics must be IDENTICAL to the naive
forms (salting, bucketing are physical choices), and approximate search
must hit a recall floor against the exact baseline.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from nyc_taxi_data_pipeline_spark.sources.catalog import load_table

SF = "/root/testdata/sf0.001"


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_salted_join_matches_plain_join(spark):
    from nyc_taxi_data_pipeline_spark.operators.skew import salted_join

    li = load_table(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
    # orders keyed as l_orderkey for a same-name equi-join
    o = load_table(spark, SF, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_totalprice"
    )
    plain = li.join(o, ["l_orderkey"])
    salted = salted_join(li, o, on=["l_orderkey"], salt=8)
    cols = ["l_orderkey", "l_quantity", "o_totalprice"]
    assert _rows(salted, cols) == _rows(plain, cols)


def test_salted_join_left_keeps_unmatched(spark):
    from nyc_taxi_data_pipeline_spark.operators.skew import salted_join

    li = load_table(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
    o = load_table(spark, SF, "orders").filter(F.col("o_orderkey") % 2 == 0).select(
        F.col("o_orderkey").alias("l_orderkey"), "o_totalprice"
    )
    plain = li.join(o, ["l_orderkey"], "left")
    salted = salted_join(li, o, on=["l_orderkey"], salt=4, how="left")
    cols = ["l_orderkey", "l_quantity", "o_totalprice"]
    assert _rows(salted, cols) == _rows(plain, cols)


def test_salted_aggregate_matches_plain(spark):
    from nyc_taxi_data_pipeline_spark.operators.skew import salted_aggregate

    li = load_table(spark, SF, "lineitem")
    plain = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("l_quantity").alias("min_q"),
        F.max("l_quantity").alias("max_q"),
    )
    salted = salted_aggregate(
        li,
        keys=["l_returnflag"],
        aggs={
            "n": F.count(F.lit(1)),
            "min_q": F.min("l_quantity"),
            "max_q": F.max("l_quantity"),
        },
        salt=8,
    )
    cols = ["l_returnflag", "n", "min_q", "max_q"]
    assert _rows(salted, cols) == _rows(plain, cols)


def test_ivf_recall_floor(spark):
    """IVF with 3-of-~13 cells probed must still recover most exact
    neighbors; the floor is deliberately conservative (deterministic, so a
    regression means the operator changed, not the dice)."""
    from nyc_taxi_data_pipeline_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
    )

    emb = load_table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, queries, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk(emb, queries, k=5, centroid_stride=40, n_probe=3).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"IVF recall@5 regressed: {recall:.3f}"


def test_bucketed_join_skips_shuffle(spark, tmp_path):
    """Pre-bucketed tables co-locate the join key: the sort-merge join must
    read both sides with NO Exchange — the bucketing IS the shuffle, paid
    once at write time (the 100 TB repeated-join strategy)."""
    li = load_table(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
    o = load_table(spark, SF, "orders").select("o_orderkey", "o_totalprice")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    (
        li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", str(tmp_path / "b_li")).saveAsTable("b_lineitem")
    )
    (
        o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", str(tmp_path / "b_o")).saveAsTable("b_orders")
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("b_lineitem").join(
            spark.table("b_orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        # and it still answers correctly
        assert joined.count() == li.join(o, li["l_orderkey"] == o["o_orderkey"]).count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_lineitem")
        spark.sql("DROP TABLE IF EXISTS b_orders")


def test_connected_components_chain_and_cliques(spark):
    """A 4-chain collapses to one component even though the endpoints share
    no edge; disjoint cliques stay separate; convergence is exact."""
    from nyc_taxi_data_pipeline_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4),      # chain 1-2-3-4
         (10, 11), (11, 12), (10, 12),  # triangle
         (20, 21)],                    # pair
        "src int, dst int",
    )
    got = {
        r["node"]: r["component"]
        for r in connected_components(edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1,
                   10: 10, 11: 10, 12: 10,
                   20: 20, 21: 20}


def test_dedup_clusters_assigns_singletons(spark):
    from nyc_taxi_data_pipeline_spark.operators.graph import dedup_clusters

    df = spark.createDataFrame([(i,) for i in range(6)], "doc_id int")
    pairs = spark.createDataFrame([(0, 3), (3, 5)], "id_a int, id_b int")
    got = {r["doc_id"]: r["component"] for r in dedup_clusters(df, pairs).collect()}
    assert got == {0: 0, 3: 0, 5: 0, 1: 1, 2: 2, 4: 4}


def test_minhash_dedup_conservative_vs_exact(spark):
    """LSH can MISS near-dup pairs (recall < 1) but never invent them, so
    minhash survivors must be a superset of the exact-Jaccard survivors."""
    from nyc_taxi_data_pipeline_spark.operators.dedup import (
        all_pairs_jaccard,
        minhash_dedup,
        minhash_signatures,
    )

    d = load_table(spark, SF, "documents")
    sigs = minhash_signatures(d, "text", "doc_id")
    mh = {r["doc_id"] for r in minhash_dedup(d, sigs, "text", "doc_id").select("doc_id").collect()}
    dup_b = {
        r["id_b"]
        for r in all_pairs_jaccard(d, "text", "doc_id", min_jaccard=0.8).collect()
    }
    exact = {r["doc_id"] for r in d.select("doc_id").collect()} - dup_b
    assert exact <= mh
    # and the approximation is close on this corpus
    assert len(mh - exact) <= max(2, len(dup_b) // 2)


def test_minhash_dedup_via_signature_zone(spark, tmp_path):
    """The persisted-signature-zone path (compute once → parquet → band
    from the zone, no checkpoint) must keep exactly the same survivors as
    the in-memory minhash_dedup."""
    from nyc_taxi_data_pipeline_spark.operators.dedup import (
        minhash_dedup,
        minhash_signatures,
        write_signature_zone,
    )

    d = load_table(spark, SF, "documents")
    zone = str(tmp_path / "sig_zone")
    write_signature_zone(d, "text", "doc_id", zone)
    zone_sigs = spark.read.parquet(zone)
    via_zone = {
        r["doc_id"]
        for r in minhash_dedup(d, zone_sigs, "text", "doc_id", materialize=False)
        .select("doc_id")
        .collect()
    }
    in_mem_sigs = minhash_signatures(d, "text", "doc_id")
    in_mem = {
        r["doc_id"]
        for r in minhash_dedup(d, in_mem_sigs, "text", "doc_id").select("doc_id").collect()
    }
    assert via_zone == in_mem
    # the zone holds one compact signature row per non-empty doc
    sigs = spark.read.parquet(zone)
    assert sigs.columns == ["id", "signature"]
    n_nonempty = d.filter(F.trim(F.col("text")) != "").count()
    assert sigs.count() == n_nonempty


def test_recall_sweep_monotone_in_probes(spark):
    """The recall/probe trade-off must move the right way: more IVF cells
    probed → recall@5 non-decreasing (and high at full probe); LSH
    multiprobe (Hamming-1 bucket expansion) → recall ≥ single-bucket.
    Deterministic planes/centroids, so these are regression floors, not
    dice."""
    from nyc_taxi_data_pipeline_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        lsh_topk,
    )

    emb = load_table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, queries, k=5).collect()
    }

    def recall(df):
        got = {(r["query_id"], r["neighbor_id"]) for r in df.collect()}
        return len(exact & got) / len(exact)

    ivf = [
        recall(ivf_topk(emb, queries, k=5, centroid_stride=40, n_probe=p))
        for p in (1, 3, 6, 12)
    ]
    assert all(a <= b + 1e-9 for a, b in zip(ivf, ivf[1:])), f"IVF recall not monotone: {ivf}"
    assert ivf[-1] >= 0.9, f"IVF recall@5 with 12/13 cells probed too low: {ivf[-1]:.3f}"

    lsh = [
        recall(lsh_topk(emb, queries, k=5, n_planes=6, multiprobe=d)) for d in (0, 1, 2)
    ]
    assert all(a <= b + 1e-9 for a, b in zip(lsh, lsh[1:])), f"LSH recall not monotone: {lsh}"
    assert lsh[2] >= 0.6, f"Hamming-2 multiprobe recall floor regressed: {lsh[2]:.3f}"


def test_incremental_dedup_against_zone(spark, tmp_path):
    """Batch-over-batch dedup: build the zone from a corpus, then submit a
    new batch = (exact copies of corpus docs under new ids) ∪ (genuinely
    new docs). Copies must be rejected via signature-zone comparison alone;
    new docs must be admitted."""
    from nyc_taxi_data_pipeline_spark.operators.dedup import (
        incremental_minhash_dedup,
        write_signature_zone,
    )

    d = load_table(spark, SF, "documents").filter(F.trim(F.col("text")) != "")
    corpus = d.filter(F.col("doc_id") % 2 == 0)
    fresh = d.filter(F.col("doc_id") % 2 == 1)
    zone = str(tmp_path / "zone")
    write_signature_zone(corpus, "text", "doc_id", zone)

    copies = corpus.limit(20).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    new_batch = copies.unionByName(fresh.select("doc_id", "text"))
    admitted = {
        r["doc_id"]
        for r in incremental_minhash_dedup(new_batch, "text", "doc_id", zone)
        .select("doc_id")
        .collect()
    }
    # every exact copy collides on all bands and matches all lanes → rejected
    assert not any(i >= 1_000_000 for i in admitted), "a corpus copy was admitted"
    # fresh docs are admitted unless they happen to near-dup a corpus doc;
    # the synthetic corpus has limited true cross-doc duplication, so most
    # of the fresh half must survive
    n_fresh = fresh.count()
    assert len(admitted) >= 0.8 * n_fresh, (len(admitted), n_fresh)


def test_ivf_zone_matches_in_memory(spark, tmp_path):
    """The persisted IVF zone (centroids + cell-partitioned assignments)
    must return exactly the in-memory ivf_topk results for the same
    corpus/stride/probe settings."""
    from nyc_taxi_data_pipeline_spark.operators.similarity import (
        ivf_topk,
        ivf_topk_via_zone,
        write_ivf_zone,
    )

    emb = load_table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    zone = str(tmp_path / "ivf")
    write_ivf_zone(emb, zone, centroid_stride=40)
    in_mem = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"], r["cosine"])
        for r in ivf_topk(emb, queries, k=5, centroid_stride=40, n_probe=3).collect()
    )
    # max_pruned_cells=0 takes the bounded fallback (broadcast probe join
    # over every cell partition), the default the literal partition filter
    plans = {}
    for cap in (0, 4096):
        df = ivf_topk_via_zone(queries, zone, k=5, n_probe=3, max_pruned_cells=cap)
        via_zone = sorted(
            (r["query_id"], r["rank"], r["neighbor_id"], r["cosine"])
            for r in df.collect()
        )
        assert via_zone == in_mem, f"max_pruned_cells={cap} diverged"
        plans[cap] = [
            l
            for l in df._jdf.queryExecution().executedPlan().toString().splitlines()  # noqa: SLF001
            if "PartitionFilters" in l
        ]
    # the zone is laid out for partition pruning on cell...
    import os

    assert any(d.startswith("cell=") for d in os.listdir(f"{zone}/cells"))
    # ...the pruned path lands the probe set as PartitionFilters, and the
    # fallback does not
    assert any("cell" in l and "IN" in l.upper() for l in plans[4096]), plans[4096]
    assert not any(" INSET " in l or " IN (" in l for l in plans[0]), plans[0]


def test_quantized_topk_recall_vs_brute(spark):
    """Int8 quantization must preserve most of the exact top-5 (64-dim
    embeddings lose little to 8-bit scalar quantization)."""
    from nyc_taxi_data_pipeline_spark.operators.similarity import (
        brute_force_topk,
        quantized_topk,
    )

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = brute_force_topk(emb, queries, k=5).collect()
    quant = quantized_topk(emb, queries, k=5).collect()
    by_q_exact: dict[int, set] = {}
    by_q_quant: dict[int, set] = {}
    for r in exact:
        by_q_exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for r in quant:
        by_q_quant.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [
        len(by_q_exact[q] & by_q_quant[q]) / 5 for q in by_q_exact
    ]
    assert sum(recalls) / len(recalls) >= 0.8, recalls
    # self-match sanity: a query must retrieve itself at rank 1
    rank1 = {r["query_id"]: r["neighbor_id"] for r in quant if r["rank"] == 1}
    assert all(q == n for q, n in rank1.items())


def test_partial_agg_merge_equals_full_recompute(spark, tmp_path):
    """Incremental rollup: merging per-batch partial aggregates must be
    bit-identical to aggregating all rows at once — under any batch split."""
    from nyc_taxi_data_pipeline_spark.operators.aggregate import (
        read_merged_aggs,
        write_partial_agg_zone,
    )

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    zone = str(tmp_path / "rollup")
    keys, measures = ["l_returnflag"], ["l_quantity", "l_extendedprice"]
    # split by orderkey parity into two ingest batches
    write_partial_agg_zone(
        li.filter(F.col("l_orderkey") % 2 == 0), zone, keys, measures, batch_id=0
    )
    write_partial_agg_zone(
        li.filter(F.col("l_orderkey") % 2 == 1), zone, keys, measures, batch_id=1
    )
    merged = {
        r["l_returnflag"]: r for r in read_merged_aggs(spark, zone, keys, measures).collect()
    }
    full_zone = str(tmp_path / "full")
    write_partial_agg_zone(li, full_zone, keys, measures, batch_id=0)
    full = {
        r["l_returnflag"]: r
        for r in read_merged_aggs(spark, full_zone, keys, measures).collect()
    }
    assert set(merged) == set(full)
    for k in full:
        assert tuple(merged[k]) == tuple(full[k]), (merged[k], full[k])


def test_oph_signatures_fully_densified(spark):
    """Every OPH signature lane must be non-null after rotation
    densification (a doc with >=1 shingle populates >=1 bin, and the
    coalesce ring reaches every bin), and the estimator must agree with
    the classic per-lane minhash: OPH survivors superset exact-Jaccard
    survivors, same as the other variants."""
    from nyc_taxi_data_pipeline_spark.operators.dedup import (
        all_pairs_jaccard,
        minhash_dedup,
        minhash_signatures_oph,
    )

    d = load_table(spark, SF, "documents")
    sigs = minhash_signatures_oph(d, "text", "doc_id")
    n_null = (
        sigs.select(
            F.sum(
                F.size(F.filter("signature", lambda x: x.isNull()))
            ).alias("n")
        ).collect()[0]["n"]
    )
    assert n_null == 0
    assert sigs.select(F.size("signature")).distinct().collect()[0][0] == 16

    oph = {
        r["doc_id"]
        for r in minhash_dedup(d, sigs, "text", "doc_id").select("doc_id").collect()
    }
    dup_b = {
        r["id_b"]
        for r in all_pairs_jaccard(d, "text", "doc_id", min_jaccard=0.8).collect()
    }
    exact = {r["doc_id"] for r in d.select("doc_id").collect()} - dup_b
    assert exact <= oph
    assert len(oph - exact) <= max(2, len(dup_b) // 2)


def test_prefix_filter_matches_inverted_index(spark):
    """Prefix filtering must lose NOTHING: the PPJoin-style candidate rule
    (index only the |x| - ceil(tau*|x|) + 1 globally-rarest shingles)
    plus exact verify must produce the identical pair set — with
    identical Jaccard values — as the full inverted-index join, at two
    different thresholds."""
    from nyc_taxi_data_pipeline_spark.operators.dedup import (
        all_pairs_jaccard,
        prefix_filter_jaccard,
    )

    d = load_table(spark, SF, "documents")
    for tau_num, tau_den in ((4, 5), (1, 2)):
        full = {
            (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
            for r in all_pairs_jaccard(
                d, "text", "doc_id", min_jaccard=tau_num / tau_den
            ).collect()
        }
        pf = {
            (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
            for r in prefix_filter_jaccard(
                d, "text", "doc_id", tau_num=tau_num, tau_den=tau_den
            ).collect()
        }
        assert pf == full, (
            f"tau={tau_num}/{tau_den}: "
            f"missed={set(full) - set(pf)} extra={set(pf) - set(full)}"
        )


def test_python_datasource_partitions_cover_exactly(spark):
    """The custom source's InputPartitions must tile [0, n_rows) exactly
    (no gap/overlap) for any n_rows/partitions combination, and the scan
    must parallelize into one task per partition."""
    from nyc_taxi_data_pipeline_spark.sources.pydatasource import (
        register_synthetic_trips,
    )

    register_synthetic_trips(spark)
    for n_rows, parts in [(10, 3), (7, 8), (100, 1), (96, 8), (0, 4)]:
        df = (
            spark.read.format("synthetic_trips")
            .option("n_rows", n_rows)
            .option("partitions", parts)
            .load()
        )
        ids = sorted(r["trip_id"] for r in df.collect())
        assert ids == list(range(n_rows)), (n_rows, parts)
    assert (
        spark.read.format("synthetic_trips")
        .option("n_rows", 96)
        .option("partitions", 8)
        .load()
        .rdd.getNumPartitions()
        == 8
    )


def test_arrow_quantize_matches_jvm_recipe(spark):
    """The mapInArrow int8 quantization must produce BIT-IDENTICAL lanes
    to the JVM expression recipe (_quantize) for the same scale — the
    whole point of pinning Arrow's round_mode to half-away-from-zero."""
    from nyc_taxi_data_pipeline_spark.operators.similarity import (
        _quantize,
        int8_scale,
        quantize_embeddings_arrow,
    )

    emb = load_table(spark, SF, "embeddings")
    emb = emb.crossJoin(F.broadcast(int8_scale(emb)))
    arrow = {
        r["vec_id"]: r["qvec"]
        for r in quantize_embeddings_arrow(emb, "q_scale").collect()
    }
    jvm = {
        r["vec_id"]: r["qvec"]
        for r in emb.select(
            "vec_id", _quantize(F.col("embedding"), F.col("q_scale")).alias("qvec")
        ).collect()
    }
    assert arrow == jvm


def test_arrow_quantize_scale_col_lane_and_null_mask(spark):
    """Through the scale_col lane, a NULL embedding row must stay NULL in
    qvec (validity bitmap carried through the Arrow kernel, not collapsed
    to an empty list)."""
    from pyspark.sql import types as T

    from nyc_taxi_data_pipeline_spark.operators.similarity import (
        quantize_embeddings_arrow,
    )

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    with_null = spark.createDataFrame(
        [(1, [1.0, -2.0]), (2, None), (3, [0.5, 0.25])], schema
    )
    out = {
        r["vec_id"]: r["qvec"]
        for r in quantize_embeddings_arrow(
            with_null.withColumn("q_scale", F.lit(2.0)), "q_scale"
        ).collect()
    }
    assert out[2] is None
    assert out[1] == [64, -127] and out[3] == [32, 16]
