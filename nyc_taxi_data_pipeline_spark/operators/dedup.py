"""Deduplication operators for large-scale training-data pipelines.

Extension surface beyond the reference (BASELINE.json north star): exact,
fingerprint, MinHash+LSH, SimHash, and n-gram-Jaccard dedup over a text
column. Everything is built from JVM-side expressions and standard
shuffle-based relational ops — no Python in the hot path, no driver-side
collection — so each operator scales with executors:

  exact        one hash-aggregate shuffle on the dedup key
  minhash_lsh  explode(shingles) + per-doc min-agg (shuffle on doc id),
               then a self-join on (band, bucket) — candidates only, never
               the O(n²) cross product
  simhash      explode(tokens) + per-doc bit-vote agg (shuffle on doc id),
               then a band join like minhash
  ngram_jaccard inverted-index join on shingle (shuffle on shingle)

Every hash is md5 over strings, the one hash any SQL engine reproduces
bit for bit, so each operator's output is value-checked against a
DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from nyc_taxi_data_pipeline_spark.functions import text as textfn
from nyc_taxi_data_pipeline_spark.functions import vector as vecfn


# ---------------------------------------------------------------------------
# exact / fingerprint
# ---------------------------------------------------------------------------

def exact_dedup(df: DataFrame, cols: list[str], id_col: str) -> DataFrame:
    """Keep the min-id row per distinct value of `cols` — one shuffle.

    Implemented as min(id) groupBy + self-semi-join-free re-join? No:
    row_number over the key is simpler and single-shuffle."""
    w = W.partitionBy(*cols).orderBy(F.col(id_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def fingerprint_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup on the *normalized-text* fingerprint (case/punct/space
    insensitive, functions/text.fingerprint). The dedup key is a 32-char
    md5 hex instead of the full document — at 100 TB the shuffle carries
    hashes, not bodies — and any SQL engine reproduces it bit for bit, so
    the result is oracle-verifiable."""
    fp = df.withColumn("__fp", textfn.fingerprint(text_col))
    return exact_dedup(fp, ["__fp"], id_col).drop("__fp")


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 16,
    shingle_k: int = 3,
) -> DataFrame:
    """(id, signature array<string>) — lane `seed` is the min over the
    doc's distinct shingles of md5('<seed>:'||shingle), compared
    LEXICOGRAPHICALLY. md5-on-strings is the one hash every SQL engine
    reproduces bit-identically, so the whole pipeline (signatures → bands
    → candidates → verified dedup) is expressible as an oracle query.

    Shape: explode(shingles) → groupBy(id) with num_hashes min(md5)
    aggregates; every hot expression stays inside WholeStageCodegen, and
    the map-side partial min collapses each partition to one row per doc
    before the single shuffle on id. (A higher-order transform/array_min
    formulation avoids the explode but evaluates interpreted — measured
    6x slower at 5k docs; the aggregate is also a natural optimizer
    barrier.)

    Only NULL-text docs drop out (split of '' yields [''] in Spark, so
    empty/whitespace docs produce the single '' shingle and all share one
    signature — they band-collide with each other); pair with exact/
    fingerprint dedup first to collapse empty docs cheaply."""
    exploded = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(textfn.shingles(text_col, shingle_k))).alias(
            "__s"
        ),
    )
    agg = exploded.groupBy("id").agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{seed}:"), F.col("__s")))).alias(
                f"__mh{seed}"
            )
            for seed in range(num_hashes)
        ]
    )
    return agg.select(
        "id",
        F.array(*[f"__mh{i}" for i in range(num_hashes)]).alias("signature"),
    )


def minhash_signatures_oph(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_bins: int = 16,
    shingle_k: int = 3,
) -> DataFrame:
    """(id, signature array<string>) via ONE-PERMUTATION HASHING (Li/Owen/
    Zhang, NIPS'12): hash each distinct shingle ONCE with md5, assign it to
    bin  conv(first-2-hex-chars) % num_bins,  take the min hash per bin,
    then densify empty bins by circular rotation (bin i borrows the first
    non-empty bin at or after i, the Shrivastava/Li densification scheme).

    Same estimator family as `minhash_signatures` but 1 md5 per
    shingle instead of `num_hashes` — the hash work drops ~16x while the
    signature keeps `num_bins` lanes for banding. Every stage (md5, hex
    substr, modulo, conditional min, coalesce rotation) is reproducible in
    any SQL engine, so the full pipeline stays oracle-verifiable. Shuffle
    shape is unchanged: explode → groupBy(id) with num_bins conditional-min
    aggregates (map-side combine collapses each partition to one row per
    doc). Only NULL-text docs drop out (split of '' yields [''] in Spark,
    so empty/whitespace docs all share the md5('') single-shingle
    signature and will band-collide with each other — run exact/
    fingerprint dedup first to collapse them); every doc with a signature
    densifies fully (the coalesce ring contains every bin)."""
    exploded = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(textfn.shingles(text_col, shingle_k))).alias(
            "__s"
        ),
    )
    h = F.md5(F.col("__s"))
    bin_idx = F.conv(F.substring(h, 1, 2), 16, 10).cast("int") % num_bins
    hashed = exploded.select("id", h.alias("__h"), bin_idx.alias("__b"))
    agg = hashed.groupBy("id").agg(
        *[
            F.min(F.when(F.col("__b") == i, F.col("__h"))).alias(f"__r{i}")
            for i in range(num_bins)
        ]
    )
    dense = [
        F.coalesce(*[F.col(f"__r{(i + j) % num_bins}") for j in range(num_bins)])
        for i in range(num_bins)
    ]
    return agg.select("id", F.array(*dense).alias("signature"))


def lsh_banded_buckets(
    signatures: DataFrame, bands: int = 4, *carry: str
) -> DataFrame:
    """(id, *carry, band, bucket) rows: the md5 band-bucket projection of
    string-lane signatures — THE banding recipe. Shared by the candidate
    join (lsh_candidate_pairs), the signature-level incremental dedup
    (which carries "signature" along) and the bucket-balance audit
    (plans/queries.lsh_bucket_balance_audit), so the audit's pair_work
    always counts the exact candidate rows the real join emits."""
    num_hashes_col = F.size(F.col("signature"))
    rows_per_band = (num_hashes_col / bands).cast("int")
    return signatures.select(
        "id",
        *carry,
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.md5(
                    F.array_join(
                        F.slice(
                            F.col("signature"), b * rows_per_band + 1, rows_per_band
                        ),
                        ",",
                    )
                ),
            )
        ).alias("band", "bucket"),
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    bands: int = 4,
    materialize: bool = True,
) -> DataFrame:
    """Band the signatures and self-join on (band, bucket) → candidate
    (id_a, id_b) pairs with id_a < id_b. Only docs sharing a full band
    collide, so the join output is ~the true-duplicate set, not O(n²).

    The banded frame feeds both self-join sides, so it is materialized
    once: AQE stage reuse does not fire for these shapes, and both sides
    would otherwise recompute the whole signature pipeline (measured 2x).
    On a cluster this is the analog of writing the signature table to
    the lake before pairing — which `write_signature_zone` does for real.
    `materialize=False` skips the localCheckpoint — correct when
    `signatures` is already a cheap re-scannable source (the zone read
    back with spark.read.parquet): re-deriving the band buckets from a
    parquet scan costs one md5 per band, vs re-running the whole
    shingle→minhash pipeline for in-memory lineage."""
    banded = lsh_banded_buckets(signatures, bands)
    if materialize:
        banded = banded.localCheckpoint(eager=False)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def minhash_dedup(
    df: DataFrame,
    signatures: DataFrame,
    text_col: str,
    id_col: str,
    shingle_k: int = 3,
    bands: int = 4,
    jaccard_threshold: float = 0.8,
    materialize: bool = True,
) -> DataFrame:
    """Full near-dup removal over `df` given its (id, signature) rows: LSH
    candidates → exact-Jaccard verify → threshold → drop every doc that is
    the larger id of a verified pair. Every MinHash variant shares this
    tail; only the signature pass differs — `minhash_signatures` (one md5
    per shingle per lane), `minhash_signatures_oph` (one md5 per shingle),
    or a persisted zone read back with spark.read.parquet and passed with
    materialize=False (see lsh_candidate_pairs).

    Representative choice: the smallest id among a doc's verified duplicates
    (single-link, one iteration — adequate for dedup where clusters are
    cliques of near-identical docs; a full connected-components loop is the
    iterative extension)."""
    candidates = lsh_candidate_pairs(signatures, bands, materialize)
    verified = verify_jaccard(df, candidates, text_col, id_col, shingle_k).filter(
        F.col("jaccard") >= jaccard_threshold
    )
    dups = verified.select(F.col("id_b").alias("__dup_id")).distinct()
    return df.join(dups, df[id_col] == dups["__dup_id"], "left_anti")


def write_signature_zone(
    df: DataFrame,
    text_col: str,
    id_col: str,
    path: str,
    num_hashes: int = 16,
    shingle_k: int = 3,
) -> None:
    """Persist (id, signature) to a parquet zone — the 100 TB shape for
    minhash dedup: signatures are computed ONCE over the corpus (the
    expensive shingle→hash→min pass), stored as 16 md5 lanes per doc, and
    every downstream pass (banding self-join, incremental dedup of new
    docs against the corpus, re-banding with different band counts)
    re-reads the zone instead of re-deriving. A localCheckpoint only
    survives one driver; the zone survives the job."""
    minhash_signatures(df, text_col, id_col, num_hashes, shingle_k).write.mode(
        "overwrite"
    ).parquet(path)


def incremental_minhash_dedup(
    new_docs: DataFrame,
    text_col: str,
    id_col: str,
    zone_path: str,
    num_hashes: int = 16,
    shingle_k: int = 3,
    bands: int = 4,
    est_jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Admit only new docs that are NOT near-duplicates of the existing
    corpus — the batch-over-batch production shape: the corpus is
    represented ONLY by its signature zone (16 lanes/doc), never rescanned.

    New signatures band-join against zone signatures for candidates, then
    candidates verify at SIGNATURE level: estimated Jaccard = matching
    minhash lanes / num_hashes ≥ `est_jaccard_threshold`. The corpus TEXT
    is never needed — which is the point at 100 TB: the zone's size per
    doc is fixed however big the documents are. Returns the admitted
    subset of `new_docs`; callers then append the admitted docs'
    signatures to the zone."""
    spark = new_docs.sparkSession
    corpus = spark.read.parquet(zone_path)
    new_sigs = minhash_signatures(new_docs, text_col, id_col, num_hashes, shingle_k)
    nb = lsh_banded_buckets(new_sigs, bands, "signature").select(
        F.col("id").alias("new_id"),
        F.col("signature").alias("new_sig"),
        "band",
        "bucket",
    )
    cb = lsh_banded_buckets(corpus, bands, "signature").select(
        F.col("id").alias("corpus_id"),
        F.col("signature").alias("corpus_sig"),
        "band",
        "bucket",
    )
    matching_lanes = F.aggregate(
        F.zip_with(
            F.col("new_sig"),
            F.col("corpus_sig"),
            lambda a, b: F.when(a == b, 1).otherwise(0),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    est_jaccard = matching_lanes / F.size(F.col("new_sig"))
    dup_new_ids = (
        cb.join(nb, ["band", "bucket"])
        .filter(est_jaccard >= est_jaccard_threshold)
        .select("new_id")
        .distinct()
    )
    return new_docs.join(
        dup_new_ids, new_docs[id_col] == dup_new_ids["new_id"], "left_anti"
    )


def verify_jaccard(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str,
    id_col: str,
    shingle_k: int = 3,
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs: join shingle arrays
    back in, compute |∩| / |∪| with array intrinsics.

    Scale shape: the pairs frame is materialized once (it is consumed by
    the id-extraction AND the final join — as a derived LSH join it would
    otherwise re-run per consumer), and the shingle arrays are built ONLY
    for ids that appear in some candidate pair (broadcast semi-join prune).
    Verification cost is proportional to the candidate set, never the
    corpus — at 100 TB the corpus-wide shingle pass is the dominant cost
    and candidates are a vanishing fraction."""
    pairs = pairs.localCheckpoint(eager=False)
    cand_ids = (
        pairs.select(F.col("id_a").alias("id"))
        .union(pairs.select(F.col("id_b").alias("id")))
        .distinct()
    )
    # prune BEFORE projecting: a semi-join above the shingle projection
    # would still evaluate the shingle expression for every corpus row
    sh = (
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t"))
        .join(F.broadcast(cand_ids), "id", "left_semi")
        .select(
            "id", F.array_distinct(textfn.shingles("__t", shingle_k)).alias("sh")
        )
        .localCheckpoint(eager=False)  # feeds both join sides
    )
    a = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    joined = pairs.join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    return joined.select(
        "id_a",
        "id_b",
        F.when(union == 0, F.lit(1.0)).otherwise(inter / union).alias("jaccard"),
    )


def all_pairs_jaccard(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_k: int = 3,
    min_jaccard: float = 0.5,
) -> DataFrame:
    """EXACT all-pairs shingle Jaccard ≥ threshold via an inverted index:
    explode (id, shingle), equi-join on the shingle, count shared shingles
    per pair, derive |∪| from per-doc set sizes.

    Equivalent to the quadratic crossJoin + array_intersect (a pair with
    J > 0 must share a shingle, so the index join finds every above-
    threshold pair) but the work is O(Σ postings²  per shingle), not
    O(n²) — measured well under half the crossJoin cost at 500 docs and
    the gap widens with n. At extreme scale, ultra-frequent shingles
    dominate the join; cap or salt them only if exactness can be traded."""
    sh = df.select(
        F.col(id_col).alias("id"),
        F.array_distinct(textfn.shingles(text_col, shingle_k)).alias("sh"),
    ).localCheckpoint(eager=False)  # feeds both the index and the sizes
    sizes = sh.select("id", F.size("sh").alias("n"))
    ex = sh.select("id", F.explode("sh").alias("s"))
    inter = (
        ex.alias("a")
        .join(
            ex.alias("b"),
            (F.col("a.s") == F.col("b.s")) & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("__inter"))
    )
    na = sizes.select(F.col("id").alias("id_a"), F.col("n").alias("__na"))
    nb = sizes.select(F.col("id").alias("id_b"), F.col("n").alias("__nb"))
    jac = F.col("__inter") / (F.col("__na") + F.col("__nb") - F.col("__inter"))
    return (
        inter.join(na, "id_a")
        .join(nb, "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= min_jaccard)
    )


def prefix_filter_jaccard(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_k: int = 3,
    tau_num: int = 4,
    tau_den: int = 5,
) -> DataFrame:
    """EXACT all-pairs shingle Jaccard ≥ τ via PREFIX FILTERING (the
    AllPairs/PPJoin candidate rule — Bayardo et al. WWW'07, Xiao et al.
    WWW'08): order every doc's shingle set by ascending global document
    frequency (ties by shingle string, so the order is total and
    deterministic), keep only the first |x| - ⌈τ|x|⌉ + 1 shingles as the
    doc's PREFIX, and generate candidates from the inverted index of
    prefixes alone. Guarantee: J(x,y) ≥ τ ⟹ |x∩y| ≥ ⌈τ·max(|x|,|y|)⌉,
    and two sets with ≥ ⌈τ|x|⌉ common elements under a common total order
    must share one in these prefixes — so the candidate set is a strict
    superset of the answer and the exact verify pass loses nothing.

    vs `all_pairs_jaccard` (full inverted index): postings lists shrink
    from every shingle to the RAREST ~(1-τ) fraction of each doc, and
    because prefixes hold the globally rarest shingles first, the hot
    shingles that dominate Σ postings² never enter the index — this is
    the shape that keeps exact similarity join viable at corpus scale.
    τ is a rational tau_num/tau_den so the prefix length and the verify
    threshold both evaluate in exact integer arithmetic.

    Shuffles: one window on the shingle (global df), one groupBy id
    (sorted set build), the prefix self-join, and the candidate verify
    join — each candidate-proportional past the first two."""
    sh = df.select(
        F.col(id_col).alias("id"),
        F.array_distinct(textfn.shingles(text_col, shingle_k)).alias("sh"),
    )
    ex = sh.select("id", F.explode("sh").alias("s"))
    ranked = ex.select(
        "id", "s", F.count(F.lit(1)).over(W.partitionBy("s")).alias("df")
    )
    # ceil(tau*n) = (tau_num*n + tau_den - 1) div tau_den, all integer
    plen = F.expr(
        f"n - (({tau_num} * n + {tau_den} - 1) div {tau_den}) + 1"
    )
    docs = (
        ranked.groupBy("id")
        .agg(F.array_sort(F.collect_list(F.struct("df", "s"))).alias("t"))
        .select(
            "id",
            F.expr("transform(t, x -> x.s)").alias("sh"),
            F.size("t").alias("n"),
        )
        .withColumn("prefix", F.slice(F.col("sh"), F.lit(1), plen))
        .localCheckpoint(eager=False)  # feeds index + both verify sides
    )
    pre = docs.select(
        "id", "n", F.posexplode("prefix").alias("pos0", "s")
    ).select("id", "n", (F.col("pos0") + 1).alias("p"), "s")
    # positional filter (PPJoin): a shared token at sorted positions
    # (pa, pb) bounds the overlap by min(pa-1, pb-1) tokens before it
    # plus min(na-pa, nb-pb) after it plus itself; J >= τ needs
    # overlap >= τ(na+nb)/(1+τ), so any pair whose TIGHTEST bound misses
    # that is pruned BEFORE the wide array-verify join — exact, because
    # every bound is an upper bound on the true intersection.
    cand = (
        pre.alias("a")
        .join(
            pre.alias("b"),
            (F.col("a.s") == F.col("b.s")) & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
            (
                F.least(F.col("a.p") - 1, F.col("b.p") - 1)
                + F.least(
                    F.col("a.n") - F.col("a.p"), F.col("b.n") - F.col("b.p")
                )
                + 1
            ).alias("bound"),
        )
        .groupBy("id_a", "id_b")
        .agg(
            F.min("bound").alias("ub"),
            F.max("na").alias("na"),
            F.max("nb").alias("nb"),
        )
        .filter(
            F.expr(f"({tau_num} + {tau_den}) * ub >= {tau_num} * (na + nb)")
        )
        .drop("ub", "na", "nb")
    )
    a = docs.select(
        F.col("id").alias("id_a"), F.col("sh").alias("sh_a"), F.col("n").alias("na")
    )
    b = docs.select(
        F.col("id").alias("id_b"), F.col("sh").alias("sh_b"), F.col("n").alias("nb")
    )
    verified = (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        # integer cross-multiplied threshold: inter/(na+nb-inter) >= τ
        .filter(
            F.expr(f"{tau_den} * inter >= {tau_num} * (na + nb - inter)")
        )
    )
    return verified.select(
        "id_a",
        "id_b",
        (F.col("inter").cast("double")
         / (F.col("na") + F.col("nb") - F.col("inter")).cast("double")
         ).alias("jaccard"),
    )


# ---------------------------------------------------------------------------
# winnowing (rolling-window fingerprints)
# ---------------------------------------------------------------------------

def winnowing_fingerprints(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    window: int = 4,
) -> DataFrame:
    """(id, fingerprint) rows: the winnowing fingerprint set of each doc —
    hash every k-token shingle, slide a `window`-wide window over the hash
    sequence, keep each window's minimum (Schleimer/Wilkes/Aiken,
    'Winnowing: Local Algorithms for Document Fingerprinting', SIGMOD'03).
    Guarantees: any shared token run of length ≥ k+window-1 yields at
    least one shared fingerprint, while storing ~2/(window+1) of the
    hashes — position-robust partial-overlap detection, unlike whole-doc
    fingerprints that any edit breaks.

    Hashes are md5 STRINGS compared lexicographically (min over strings)
    so the selection is bit-identical in any engine with md5 — no
    engine-specific integer hash in the contract.

    Shape: the shingle-hash array is built ONCE per row and exploded;
    the per-window minimum is a sliding `min() OVER (rows BETWEEN 0 AND
    window-1)` after one shuffle on doc id. The tempting pure-array form
    (transform(sequence, j -> array_min(slice(hashes, j, w)))) re-evaluates
    the whole md5 array per window position — O(tokens²) md5 calls per doc,
    measured 10-min-plus at 5k docs vs seconds for this formulation."""
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")

    # bind the token array ONCE as a lambda variable (subexpression
    # elimination does not reach inside lambdas — referencing the split
    # directly would re-tokenize per shingle; see functions/text.shingles)
    empty = F.array().cast("array<string>")

    def _hashes_and_count(tk: Column) -> Column:
        n = F.greatest(F.size(tk) - (k - 1), F.lit(0))
        # n == 0 (doc shorter than k tokens) must yield NO hashes:
        # sequence(1, 0) infers step -1 and returns [1, 0], whose 0 would
        # crash slice() — gate the transform instead of trusting the range
        hashes = F.when(
            n >= 1,
            F.transform(
                F.sequence(F.lit(1), F.greatest(n, F.lit(1))),
                lambda i: F.md5(F.array_join(F.slice(tk, i, k), " ")),
            ),
        ).otherwise(empty)
        return F.struct(hashes.alias("h"), n.alias("n"))

    packed = F.element_at(F.transform(F.array(toks), _hashes_and_count), 1)
    # carry the shingle count from before the explode: it spares a second
    # (unordered max-over-partition) Window pass after the shuffle
    ex = df.select(
        F.col(id_col).alias("id"), packed.alias("__p")
    ).select(
        "id",
        F.col("__p.n").alias("__n"),
        F.posexplode("__p.h").alias("pos", "h"),
    )
    wslide = W.partitionBy("id").orderBy("pos").rowsBetween(0, window - 1)
    return (
        ex.select(
            "id",
            "pos",
            "__n",
            F.min("h").over(wslide).alias("fingerprint"),
        )
        .filter(F.col("pos") <= F.col("__n") - window)
        .select("id", "fingerprint")
        .distinct()
    )


def winnowing_overlap_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    window: int = 4,
    min_shared: int = 2,
) -> DataFrame:
    """Doc pairs sharing ≥ min_shared winnowing fingerprints — partial-
    overlap (plagiarism-style) detection: catches a copied PASSAGE inside
    otherwise-different documents, which whole-doc Jaccard dilutes below
    any practical threshold. Inverted-index join on the fingerprint (same
    scale shape as all_pairs_jaccard: shuffle on fingerprint, work
    proportional to Σ postings², never O(n²)). The fingerprint frame feeds
    both join sides, so it is localCheckpointed once — AQE stage reuse does
    not fire for self-joins of a derived frame, and without the checkpoint
    the whole md5+window pipeline runs twice."""
    fp = winnowing_fingerprints(df, text_col, id_col, k, window).localCheckpoint(
        eager=False
    )
    return (
        fp.alias("a")
        .join(
            fp.alias("b"),
            (F.col("a.fingerprint") == F.col("b.fingerprint"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("shared_fingerprints"))
        .filter(F.col("shared_fingerprints") >= min_shared)
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash(df: DataFrame, text_col: str, id_col: str, bits: int = 60) -> DataFrame:
    """(id, simhash bigint): per-token hash votes per bit position; the
    sign of each bit's vote total forms the fingerprint. Each token's hash
    is the first 15 hex chars of md5 parsed as a 60-bit integer, which
    every SQL engine reproduces bit-identically (the md5-lane trick of
    minhash_signatures), so the whole pipeline (token hash → per-bit votes
    → sign fingerprint) is expressible as a cross-engine oracle query.

    Shape mirrors minhash_signatures: explode(tokens) → one codegen'd
    md5+conv per token → groupBy(id) with `bits` vote-sum aggregates
    (map-side combine collapses to one row per doc per partition before
    the shuffle) → fingerprint assembled from the vote signs. A per-row
    higher-order fold avoids the shuffle but evaluates interpreted —
    measured ~an order of magnitude slower. 60 bits (not 64) keeps the
    fingerprint comfortably inside a signed long on both engines; band
    with band_bits=15 so 4 bands tile the 60 bits exactly."""
    exploded = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("__tok"),
    )
    h = F.conv(F.substring(F.md5(F.col("__tok")), 1, 15), 16, 10).cast("long")
    hashed = exploded.select("id", h.alias("__h"))
    votes = hashed.groupBy("id").agg(
        *[
            F.sum(
                F.when(
                    F.shiftright(F.col("__h"), i).bitwiseAND(F.lit(1)) == 1,
                    F.lit(1),
                ).otherwise(F.lit(-1))
            ).alias(f"__v{i}")
            for i in range(bits)
        ]
    )
    fingerprint = None
    for i in range(bits):
        bit = F.when(F.col(f"__v{i}") > 0, F.lit(1 << i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        fingerprint = bit if fingerprint is None else fingerprint.bitwiseOR(bit)
    return votes.select("id", fingerprint.alias("simhash"))


def simhash_candidate_pairs(sims: DataFrame, band_bits: int = 15) -> DataFrame:
    """Hamming-neighbor candidates via bit-banding: split the fingerprint
    into 64//band_bits bands (4 bands of 15 tile simhash's 60 bits); docs
    equal on any band are candidates (catches all pairs within
    (64//band_bits - 1) bit flips)."""
    n_bands = 64 // band_bits
    mask = (1 << band_bits) - 1
    banded = sims.select(
        "id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), b * band_bits).bitwiseAND(
                        F.lit(mask)
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band", "bucket"),
    )
    # shared materialization for the self-join (see lsh_candidate_pairs)
    banded = banded.localCheckpoint(eager=False)
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return pairs.select("id_a", "id_b", hamming.alias("hamming"))


# ---------------------------------------------------------------------------
# embedding near-duplicates
# ---------------------------------------------------------------------------

def embedding_neardup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.95,
) -> DataFrame:
    """Pairs of rows whose embeddings have cosine ≥ threshold — the EXACT
    quadratic all-pairs baseline for bounded inputs and verification.
    Corpus-scale semantic dedup bounds the pair work per cluster instead
    (semantic_dedup_stats)."""
    slim = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    a, b = slim.alias("a"), slim.alias("b")
    pairs = a.join(b, F.col("a.id") < F.col("b.id"))
    cos = vecfn.cosine(F.col("a.v"), F.col("b.v"))
    return (
        pairs.select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(cos, 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def semantic_dedup_stats(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroid_stride: int = 64,
    tau_num: int = 7,
    tau_den: int = 20,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup by
    clustering embeddings and comparing pairs ONLY within a cluster —
    near-duplicates land in the same cluster, so the quadratic pair work
    is bounded per cluster instead of corpus-wide.

    This implementation keeps every stage in exact integer arithmetic so
    the whole pipeline is reproducible cross-engine (full value oracle):

      1. int8-quantize vectors (`similarity.int8_quantize`: corpus
         max-|x| scale, one 1-row broadcast);
      2. assign each vector to its nearest of the k data-derived centroids
         (ids ≡ 0 mod `centroid_stride`) by integer L2², ties to the
         lowest centroid id (`similarity.nearest_centroid`, the step
         `centroid_assign_quantized` runs), so k GROWS with the corpus and
         cluster sizes stay bounded;
      3. within each cluster, self-join on centroid_id (a.id < b.id) and
         keep pairs with cosine ≥ tau_num/tau_den, tested WITHOUT floats
         (`vector.int_dot`):
         dot > 0  ∧  tau_den²·dot² ≥ tau_num²·‖a‖²·‖b‖²
         (|dot| ≤ dim·127² so the squared products stay far inside int64);
      4. a row is dropped when any smaller-id cluster-mate is that close —
         report per-cluster members / dropped / kept.

    Scale shape: one narrow quantize map, one broadcast-centroid scoring
    pass, one shuffle on centroid_id for the pair join (cluster-bounded),
    and a tiny rollup. No stage is corpus-quadratic."""
    from nyc_taxi_data_pipeline_spark.operators.similarity import (
        int8_quantize,
        nearest_centroid,
    )

    qz = int8_quantize(df, id_col, vec_col).localCheckpoint(eager=False)
    cents = qz.filter(F.col("vec_id") % centroid_stride == 0).select(
        F.col("vec_id").alias("centroid_id"), F.col("qv").alias("cv")
    )
    best = (
        nearest_centroid(qz, cents)
        .select("vec_id", "qv", "centroid_id")
        .localCheckpoint(eager=False)
    )
    # squared norms computed ONCE per vector (O(n·dim)) and carried into
    # the pair join — recomputing them per candidate pair would redo the
    # array fold up to cluster-size times per vector
    normed = best.withColumn("n2", vecfn.int_dot("qv", "qv"))
    a = normed.select(
        "centroid_id",
        F.col("vec_id").alias("id_a"),
        F.col("qv").alias("qa"),
        F.col("n2").alias("na"),
    )
    b = normed.select(
        "centroid_id",
        F.col("vec_id").alias("id_b"),
        F.col("qv").alias("qb"),
        F.col("n2").alias("nb"),
    )
    pairs = (
        a.join(b, ["centroid_id"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_b", vecfn.int_dot("qa", "qb").alias("dot"), "na", "nb")
    )
    dropped = (
        pairs.filter(
            (F.col("dot") > 0)
            & (
                F.lit(tau_den * tau_den) * F.col("dot") * F.col("dot")
                >= F.lit(tau_num * tau_num) * F.col("na") * F.col("nb")
            )
        )
        .select(F.col("id_b").alias("dup_id"))
        .distinct()
    )
    return (
        best.join(dropped, best["vec_id"] == dropped["dup_id"], "left")
        .groupBy("centroid_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.count("dup_id").alias("n_dropped"),
            (F.count(F.lit(1)) - F.count("dup_id")).alias("n_kept"),
        )
    )
