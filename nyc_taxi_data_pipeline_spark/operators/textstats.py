"""Text-analysis operators over a documents table.

Extension surface (BASELINE.json north star): language-ID, quality scoring,
token counting, fingerprinting — thin DataFrame wrappers over the codegen'd
expressions in functions.text. One projection, zero shuffles: these run at
scan speed over 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from nyc_taxi_data_pipeline_spark.functions import text as textfn


def text_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document stats: tokens, bpe-ish tokens, chars, punct ratio,
    stopword ratio, quality score."""
    return df.select(
        F.col(id_col),
        textfn.token_count(text_col).alias("n_tokens"),
        textfn.bpe_ish_token_count(text_col).alias("n_bpe_tokens"),
        textfn.char_count(text_col).alias("n_chars"),
        F.round(textfn.punct_ratio(text_col), 6).alias("punct_ratio"),
        F.round(textfn.stopword_ratio(text_col), 6).alias("stopword_ratio"),
        textfn.quality_score(text_col).alias("quality_score"),
    )


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 50,
    stride: int = 40,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sliding-window chunking for context-length-bounded training: each doc
    becomes ceil((n_tokens - overlap) / stride) chunks of `chunk_tokens`
    tokens overlapping by chunk_tokens - stride.

    One projection + one explode — tokens split once, chunk starts
    generated with sequence(), chunk text sliced JVM-side. Chunk rows carry
    (doc_id, chunk_id, n_tokens, chunk_text); empty docs produce no chunks.
    """
    overlap = chunk_tokens - stride
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    base = df.filter(F.trim(F.col(text_col)) != "").select(
        F.col(id_col), toks.alias("__toks")
    )
    starts = F.sequence(
        F.lit(1),
        F.greatest(F.size("__toks") - overlap, F.lit(1)),
        F.lit(stride),
    )
    exploded = base.select(
        id_col, "__toks", F.explode(starts).alias("__start")
    )
    chunk = F.slice(F.col("__toks"), F.col("__start"), chunk_tokens)
    return exploded.select(
        F.col(id_col),
        ((F.col("__start") - 1) / stride).cast("int").alias("chunk_id"),
        F.size(chunk).cast("int").alias("n_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


def content_defined_chunks(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    boundary_hexes: tuple[str, ...] = ("0", "1"),
    min_tokens: int = 4,
) -> DataFrame:
    """Content-defined chunking (the rsync/LBFS idea applied to tokens): a
    chunk boundary opens AFTER any token whose md5 starts with one of
    `boundary_hexes` (expected chunk length = 16/len(boundary_hexes)
    tokens), except that boundaries inside the first `min_tokens` of a
    chunk are suppressed (minimum-size clamp, as in LBFS). Because
    boundaries depend only on local content, an edit reflows only its own
    chunk — every other chunk's text (and hash) is byte-identical, unlike
    fixed-stride chunking where one inserted token shifts every later
    chunk. That makes chunk-level dedup/caching stable under edits.

    Shape: split once → posexplode tokens → boundary flag (md5 prefix,
    engine-portable) → running boundary count with min-size suppression
    via a size-`min_tokens` look-back window → groupBy (id, chunk)
    reassembles. Two shuffles (window + reassembly), both on doc id.

    The suppression rule is deliberately window-local rather than the
    sequential LBFS clamp: a raw boundary fires iff NO raw boundary
    occurs in the previous min_tokens-1 tokens. That keeps every boundary
    decision a pure function of its min_tokens-token neighborhood (edit
    locality provable per token), at the cost of occasionally suppressing
    more boundaries than the sequential rule would."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    ex = (
        df.filter(F.trim(F.col(text_col)) != "")
        .select(F.col(id_col).alias("id"), toks.alias("__toks"))
        .select("id", F.posexplode("__toks").alias("pos", "tok"))
    )
    is_cut = F.substring(F.md5(F.col("tok")), 1, 1).isin(*boundary_hexes)
    w = W.partitionBy("id").orderBy("pos")
    prev_cuts = F.sum(F.when(is_cut, 1).otherwise(0)).over(
        w.rowsBetween(-(min_tokens - 1), -1)
    )
    fires = is_cut & (F.coalesce(prev_cuts, F.lit(0)) == 0)
    chunked = ex.select(
        "id",
        "pos",
        "tok",
        F.coalesce(
            F.sum(F.when(fires, 1).otherwise(0)).over(
                w.rowsBetween(W.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("chunk_id"),
    )
    return (
        chunked.groupBy("id", "chunk_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_tokens"),
            F.array_join(
                F.array_sort(
                    F.collect_list(F.struct("pos", "tok"))
                ).getField("tok"),
                " ",
            ).alias("chunk_text"),
        )
        .select(
            F.col("id").alias(id_col),
            F.col("chunk_id").cast("int").alias("chunk_id"),
            "n_tokens",
            "chunk_text",
        )
    )


def with_lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append `lang_pred` from the stopword-marker heuristic."""
    return df.withColumn("lang_pred", textfn.lang_id(text_col))


def token_budget_by(df: DataFrame, group_col: str, text_col: str = "text") -> DataFrame:
    """Corpus token budget per group (e.g. per source / per language):
    one scan + one tiny aggregate."""
    return (
        df.groupBy(group_col)
        .agg(
            F.sum(textfn.token_count(text_col)).alias("total_tokens"),
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg(textfn.token_count(text_col)), 4).alias("avg_tokens"),
        )
        .orderBy(group_col)
    )


def sequence_packing(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
    budget_tokens: int = 512,
) -> DataFrame:
    """Assign each document to a fixed-token-budget training sequence
    ("pack") — the step between chunking and dataset mixing in an LLM
    data pipeline: pretraining consumes fixed-length sequences, and
    packing short documents together (with attention-mask separators)
    recovers the throughput that per-document padding wastes.

    Deterministic sequential fill WITHIN each `group_col` shard, ordered
    by `id_col`: a document starting at running-token offset `s` joins
    pack `s // budget_tokens` (start-position packing — a document
    straddling a boundary stays in the pack where it starts, the
    concat-then-slice semantics of block-packed pretraining corpora).
    Documents longer than the budget therefore span packs by
    construction; run `chunk_documents` upstream when hard per-pack
    caps are required.

    Scale shape: ONE window cumsum partitioned by the shard key — packs
    fill sequentially per shard but shards pack in parallel, so there is
    no global-order bottleneck; every step is a codegen'd JVM expression
    (no Python), and the whole assignment is reproducible in any SQL
    engine (integer cumsum + floor division), so it carries a full
    cross-engine oracle.

    Returns one row per (group, pack_id): n_docs, pack_tokens (sum of
    member token counts — boundary-straddling docs count wholly in their
    starting pack, so per-shard totals are conserved)."""
    toks = textfn.token_count(text_col)
    w = W.partitionBy(group_col).orderBy(id_col)
    start = (F.sum(toks).over(w) - toks).cast("long")
    # integer `div`, not `/`: `/` is double division, and a per-shard
    # token cumsum past 2^53 could round across a pack boundary before
    # the long cast — the oracle's `//` is exact, so this must be too
    assigned = df.select(
        F.col(group_col).alias("grp"),
        toks.alias("__tok"),
        start.alias("__start"),
    ).select(
        "grp",
        "__tok",
        F.expr(f"__start div {int(budget_tokens)}").alias("pack_id"),
    )
    return (
        assigned.groupBy(F.col("grp").alias(group_col), "pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__tok").alias("pack_tokens"),
        )
        .orderBy(group_col, "pack_id")
    )


def sequence_packing_bestfit(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
    budget_tokens: int = 512,
) -> DataFrame:
    """Greedy BEST-FIT-DECREASING packing within each shard — the
    hard-cap complement of `sequence_packing`: no pack exceeds
    `budget_tokens` (docs longer than the budget get a pack of their
    own), at the cost of reordering documents inside the shard. Use when
    sequences must never straddle pack boundaries (e.g. per-sequence
    loss masking without cross-doc attention); use `sequence_packing`
    when corpus order must be preserved.

    The greedy state (open packs and their remaining room) is inherently
    sequential, so this is an applyInPandas stage — one Python pass PER
    SHARD, shards packed in parallel across executors, which is the
    production shape: shard cardinality (sources/books/domains) is the
    parallelism, per-shard doc count the sequential cost. Deterministic:
    docs are processed by (tokens desc, id asc); ties in best-fit go to
    the lowest pack id.

    Returns one row per doc: (group, doc_id, n_tokens, pack_id)."""
    out_schema = (
        f"{group_col} string, {id_col} bigint, n_tokens long, pack_id long"
    )
    gcol, icol = group_col, id_col

    def pack_shard(pdf):
        # self-contained closure (executors import pandas, not this package)
        pdf = pdf.sort_values(
            ["__tok", icol], ascending=[False, True], kind="mergesort"
        )
        room: list[int] = []  # remaining tokens per open pack
        assigned = []
        for tok in pdf["__tok"]:
            # best fit: smallest remaining room that still takes tok;
            # ties resolve to the lowest pack id (stable scan order)
            best, best_room = -1, None
            for pid, r in enumerate(room):
                if tok <= r and (best_room is None or r < best_room):
                    best, best_room = pid, r
            if best < 0:
                room.append(max(budget_tokens - tok, 0))
                best = len(room) - 1
            else:
                room[best] -= tok
            assigned.append(best)
        pdf = pdf.assign(pack_id=assigned)
        return pdf[[gcol, icol, "__tok", "pack_id"]].rename(
            columns={"__tok": "n_tokens"}
        )

    with_tok = df.select(
        gcol, icol, textfn.token_count(text_col).alias("__tok")
    )
    return with_tok.groupBy(gcol).applyInPandas(pack_shard, schema=out_schema)


def repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram_sizes: tuple[int, ...] = (2, 3),
    max_dup_frac: float = 0.3,
) -> DataFrame:
    """Gopher-style intra-document repetition screen (Rae et al. 2021,
     'Scaling Language Models' §A1.1.2): for each n in `ngram_sizes`, the
    fraction of the doc's n-grams that are repeats of an earlier n-gram
    (1 - distinct/total). Boilerplate, template spam, and decoding loops
    show up as high duplicate fractions long before any cross-doc dedup
    runs; `keep = true` iff every fraction is <= `max_dup_frac`.

    One projection, zero shuffles: the token array is split once per row
    and each fraction is size(arr)/size(array_distinct(arr)) arithmetic —
    scan-speed over 100 TB like the rest of this module."""
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    base = df.select(F.col(id_col), toks.alias("__toks"))

    def ngrams(n: int):
        starts = F.sequence(
            F.lit(1), F.greatest(F.size("__toks") - (n - 1), F.lit(1))
        )
        return F.transform(
            starts, lambda i: F.array_join(F.slice(F.col("__toks"), i, n), " ")
        )

    cols = [F.col(id_col)]
    keep = F.lit(True)
    for n in ngram_sizes:
        g = ngrams(n)
        frac = F.when(
            F.size(g) == 0, F.lit(0.0)
        ).otherwise(1.0 - F.size(F.array_distinct(g)) / F.size(g))
        cols.append(F.round(frac, 6).alias(f"dup_{n}gram_frac"))
        keep = keep & (F.round(frac, 6) <= max_dup_frac)
    cols.append(keep.alias("keep"))
    return base.select(*cols)


def decontaminate_overlap(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    min_overlap_frac: float = 0.5,
) -> DataFrame:
    """Benchmark decontamination: flag eval documents whose k-gram set
    overlaps any train document by >= `min_overlap_frac` of the eval doc's
    k-grams (the GPT-3/PaLM n-gram-collision test — eval examples the model
    may have memorized from the training corpus must be dropped or the
    benchmark is contaminated).

    Returns (eval id, n_shingles, max_overlap_frac, contaminated) per eval
    doc. Scale shape: inverted-index equi-join on the shingle (shuffle on
    shingle, work ~ sum of postings products per shingle, never
    |train| x |eval|); overlap counts aggregate per (eval, train) pair and
    max-reduce per eval doc. Shingles cross the join as strings for oracle
    parity; a Spark-only deployment would project them through one
    xxhash64 first to shrink the shuffle rows ~4x."""
    def sh(df: DataFrame, out_id: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(out_id),
            F.explode(
                F.array_distinct(textfn.shingles(text_col, shingle_k))
            ).alias("__s"),
        )

    ev = sh(eval_df, "eval_id")
    ev_sizes = ev.groupBy("eval_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    shared = (
        ev.join(sh(train, "train_id"), "__s")
        .groupBy("eval_id", "train_id")
        .agg(F.count(F.lit(1)).alias("__shared"))
        .groupBy("eval_id")
        .agg(F.max("__shared").alias("__max_shared"))
    )
    return (
        ev_sizes.join(shared, "eval_id", "left")
        .select(
            "eval_id",
            "n_shingles",
            F.round(
                F.coalesce(F.col("__max_shared"), F.lit(0)) / F.col("n_shingles"), 6
            ).alias("max_overlap_frac"),
            (
                F.coalesce(F.col("__max_shared"), F.lit(0)) / F.col("n_shingles")
                >= min_overlap_frac
            ).alias("contaminated"),
        )
    )


def decontaminate_overlap_bloom(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    min_overlap_frac: float = 0.5,
    m_bits: int = 262144,
) -> DataFrame:
    """`decontaminate_overlap` with a bloom-prefiltered probe side — the
    composition that makes decontamination viable at 100 TB: the EVAL
    shingle set (small — benchmarks are thousands of docs, training
    corpora are billions) builds an m-bit bloom filter (k=2 positions
    derived from ONE 48-bit md5 per shingle — the Kirsch-Mitzenmauer
    double-hash trick, so the giant train side pays a single hash per
    posting), and train postings that miss the filter are dropped
    BEFORE the inverted-index shuffle. No false negatives ⇒ the flag
    columns are IDENTICAL to the exact path (false positives only add
    candidates the equality join discards anyway); the bloom words
    (≤ m/32 BIGINTs) broadcast to every executor. Returns the exact
    path's columns plus the measured probe stats
    (n_train_postings, n_train_pass) proving the prune happened."""
    word_bits = 32

    def sh(df: DataFrame, out_id: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(out_id),
            F.explode(
                F.array_distinct(textfn.shingles(text_col, shingle_k))
            ).alias("__s"),
        )

    h_of = (
        F.conv(F.substring(F.md5(F.col("__s")), 1, 12), 16, 10)
        .cast("long")
        .alias("__h")
    )
    ev = sh(eval_df, "eval_id").localCheckpoint(eager=False)
    ev_keys = ev.select("__s").distinct().select("__s", h_of)
    pos0 = F.expr(f"__h % {m_bits}")
    pos1 = F.expr(f"(__h div {m_bits}) % {m_bits}")
    bits = ev_keys.select(pos0.alias("__pos")).unionAll(
        ev_keys.select(pos1.alias("__pos"))
    )
    words = (
        bits.groupBy(F.expr(f"__pos div {word_bits}").alias("__w"))
        .agg(
            F.bit_or(
                F.expr(
                    f"shiftleft(CAST(1 AS BIGINT), CAST(__pos % {word_bits} AS INT))"
                )
            ).alias("__word")
        )
        .localCheckpoint(eager=False)
    )
    trh = sh(train, "train_id").select("train_id", "__s", h_of)
    trh = trh.localCheckpoint(eager=False)

    def probe(df: DataFrame, pos_expr, lane: int) -> DataFrame:
        w = words.select(
            F.col("__w").alias(f"__w{lane}"), F.col("__word").alias(f"__word{lane}")
        )
        return (
            df.withColumn(f"__pos{lane}", pos_expr)
            .join(
                F.broadcast(w),
                F.expr(f"__pos{lane} div {word_bits}") == F.col(f"__w{lane}"),
            )
            .filter(
                F.expr(
                    f"(shiftright(__word{lane}, CAST(__pos{lane} % {word_bits}"
                    f" AS INT)) & CAST(1 AS BIGINT)) = 1"
                )
            )
            .drop(f"__w{lane}", f"__word{lane}", f"__pos{lane}")
        )

    tr_pass = probe(probe(trh, pos0, 0), pos1, 1).select("train_id", "__s")
    stats = (
        trh.agg(F.count(F.lit(1)).alias("n_train_postings"))
        .crossJoin(
            F.broadcast(tr_pass.agg(F.count(F.lit(1)).alias("n_train_pass")))
        )
    )
    ev_sizes = ev.groupBy("eval_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    shared = (
        ev.join(tr_pass, "__s")
        .groupBy("eval_id", "train_id")
        .agg(F.count(F.lit(1)).alias("__shared"))
        .groupBy("eval_id")
        .agg(F.max("__shared").alias("__max_shared"))
    )
    return (
        ev_sizes.join(shared, "eval_id", "left")
        .crossJoin(F.broadcast(stats))
        .select(
            "eval_id",
            "n_shingles",
            F.round(
                F.coalesce(F.col("__max_shared"), F.lit(0)) / F.col("n_shingles"), 6
            ).alias("max_overlap_frac"),
            (
                F.coalesce(F.col("__max_shared"), F.lit(0)) / F.col("n_shingles")
                >= min_overlap_frac
            ).alias("contaminated"),
            F.col("n_train_postings").cast("bigint").alias("n_train_postings"),
            F.col("n_train_pass").cast("bigint").alias("n_train_pass"),
        )
    )
