"""Text-analysis operators for training-data pipelines — language-ID
heuristic, quality scoring, token counting, document fingerprinting.
All pure column expressions (codegen'd), deterministic, and reproducible
in ANSI SQL for the cross-engine oracle."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osmflat_rs_spark.plans.checkpoint import fresh_local_checkpoint

from osmflat_rs_spark.operators.dedup import WS, WS_INNER, words_expr

# tiny deterministic stopword lists (heuristic language ID)
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is"],
    "de": ["der", "die", "das", "und", "ist", "ein"],
    "fr": ["le", "la", "les", "et", "est", "un"],
}


def lang_id(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, n_words, en_ratio, lang_pred): stopword-ratio heuristic;
    prediction = argmax ratio with fixed tie order en > de > fr > unk."""
    w = words_expr(F.col(text_col))
    n = F.size(w)
    ratios = {
        lang: F.size(F.filter(w, lambda x: x.isin(sw))).cast("double") / n.cast("double")
        for lang, sw in STOPWORDS.items()
    }
    pred = (
        F.when((ratios["en"] >= ratios["de"]) & (ratios["en"] >= ratios["fr"]) & (ratios["en"] > 0), "en")
        .when((ratios["de"] >= ratios["fr"]) & (ratios["de"] > 0), "de")
        .when(ratios["fr"] > 0, "fr")
        .otherwise("unk")
    )
    return df.select(
        F.col(id_col),
        n.alias("n_words"),
        ratios["en"].alias("en_ratio"),
        pred.alias("lang_pred"),
    )


def quality_score(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, n_chars, n_words, avg_word_len, distinct_ratio): the classic
    cheap quality features (length, repetition)."""
    w = words_expr(F.col(text_col))
    n = F.size(w)
    total_len = F.aggregate(w, F.lit(0).cast("long"), lambda s, x: s + F.length(x))
    return df.select(
        F.col(id_col),
        F.length(text_col).cast("long").alias("n_chars"),
        n.alias("n_words"),
        (total_len.cast("double") / n.cast("double")).alias("avg_word_len"),
        (F.size(F.array_distinct(w)).cast("double") / n.cast("double")).alias("distinct_ratio"),
    )


def token_count(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, n_ws_tokens, n_bpeish): whitespace tokens + a BPE-ish regex
    count (alpha runs | digit runs | single non-space symbol)."""
    return df.select(
        F.col(id_col),
        F.size(words_expr(F.col(text_col))).alias("n_ws_tokens"),
        F.regexp_count(
            F.col(text_col), F.lit(f"[A-Za-z]+|[0-9]+|[^A-Za-z0-9{WS_INNER}]")
        ).alias("n_bpeish"),
    )


def fingerprint(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, fp): md5 of the whitespace-normalized lowercase text — the
    canonical near-exact dedup key."""
    norm = F.regexp_replace(F.lower(F.col(text_col)), f"{WS}+", " ")
    return df.select(F.col(id_col), F.md5(norm).alias("fp"))


def winnow_fingerprints(
    df: DataFrame, id_col: str, text_col: str, k: int = 3, w: int = 4
) -> DataFrame:
    """Winnowing document fingerprints (the rolling-hash scheme of
    Schleimer/Wilkerson/Aiken, SIGMOD'03): hash every word k-shingle,
    slide a window of ``w`` consecutive hashes, keep each window's MIN,
    dedup → the doc's fingerprint set. Guarantees any shared run of
    ≥ w+k-1 words between two docs yields at least one shared
    fingerprint (the local-containment property exact substring-ish
    matchers rely on).

    ENTIRELY in-row (transform/slice/array_min over the shingle hash
    array — zero shuffle until the output explode), and bit-reproducible
    in ANSI SQL via list lambdas + the md5-slice hash. → (id, fp) rows,
    distinct per doc.

    r6: the shingle-hash array is BOUND to a projected column before the
    window transform. Inlined, every window's ``slice(hs, …)`` (and the
    size/when references) re-evaluated the whole shingle+md5 tree — an
    O(n²) md5 blowup per document, measured 1,250 s of task CPU at the
    sf0.1 gate (23.5k docs); bound, the array materializes once per row
    (CollapseProject keeps multi-referenced non-cheap aliases) and the
    same gate runs in ~3 s of task CPU with identical output."""
    from osmflat_rs_spark.operators.dedup import _shingle_arr

    hs_expr = F.transform(
        _shingle_arr(F.col(text_col), k),
        lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long"),
    )
    bound = df.select(F.col(id_col).alias("_id"), hs_expr.alias("_hs"))
    hs = F.col("_hs")
    n = F.size(hs)
    fps = F.when(
        n >= w,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), n - w),
                lambda j: F.array_min(F.slice(hs, j + 1, w)),
            )
        ),
    ).otherwise(F.array(F.array_min(hs)))
    return bound.select("_id", F.explode(fps).alias("fp")).withColumnRenamed("_id", id_col)


def tfidf_top_terms(df: DataFrame, id_col: str, text_col: str, k: int = 5) -> DataFrame:
    """Top-``k`` TF-IDF terms per document → (id, term, tf, score).

    tf is the in-document term count; idf = ln(N / df) over the corpus
    (df = documents containing the term); score = round(tf·idf, 6) — the
    engine-wide float output contract. Ties rank by term ascending, so
    the result is fully deterministic and DuckDB-reproducible.

    Plan shape (the part that must survive 100 TB): ONE explode feeds
    BOTH aggregates — (doc, term, tf) via groupBy with map-side partial
    agg, then document frequency as a second, vocabulary-sized rollup OF
    that tf table (never a second pass over the corpus). The idf join is
    on term (broadcastable when the vocabulary fits; an ordinary
    hash-shuffle join otherwise), and the per-document top-k window
    partitions by doc_id — bounded by the document's own vocabulary, no
    global sort. The reference has no relevance surface (absence
    verified: osmflat's examples stop at counting/length folds); this is
    training-data-pipeline surface per the round-1 SURVEY §2.9 mandate.
    """
    from pyspark.sql import Window

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    toks = df.select(
        F.col(id_col), F.explode(words_expr(F.col(text_col))).alias("term")
    )
    tf = toks.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("_df"))
    n = df.select(F.count("*").alias("_n"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "_s",
            F.col("tf").cast("double")
            * F.log(F.col("_n").cast("double") / F.col("_df").cast("double")),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.col("_s").desc(), F.col("term").asc())
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .select(id_col, "term", "tf", F.round("_s", 6).alias("score"))
    )


def repetition_signals(
    df: DataFrame, id_col: str, text_col: str, top_n: int = 2, dup_n: int = 3
) -> DataFrame:
    """Gopher-style within-document repetition quality signals (Rae et
    al. 2021, "Scaling Language Models" §A1.1 — public filter rules) →
    (id, n_words, word_chars, top_ngram, top_ngram_frac,
    dup_ngram_char_frac).

    - ``top_ngram_frac``: fraction of word characters covered by the
      single most frequent ``top_n``-gram (count × gram-chars /
      word_chars) — Gopher's "fraction of characters in the most common
      n-gram". Ties break lexicographically ascending, so the winner is
      deterministic and DuckDB-reproducible.
    - ``dup_ngram_char_frac``: fraction of word characters at positions
      covered by ANY ``dup_n``-gram occurring ≥ 2 times in the doc —
      Gopher's "fraction of characters in duplicated n-grams", counted
      positionally so overlapping occurrences never double-count (the
      paper's "taking care not to count characters twice").

    Plan shape (per-doc bounded, no corpus-level state): grams are built
    IN-ROW (codegen transform/slice/array_join — the
    duplicate_passage_spans kernel), then ONE explode feeds both
    signals: gram counts via groupBy(id, gram) with map-side partials;
    the top gram via a per-doc top-1 window (bounded by the doc's own
    gram vocabulary); duplicated-gram coverage by rejoining the gram
    stream to the ≥2 counts on (id, gram), exploding each occurrence's
    covered positions, and summing DISTINCT positions' word lengths.
    Every shuffle is keyed by id or (id, gram) — a hot doc is a data-
    skew property, never a pair blow-up. Docs shorter than the gram
    width stay in the output with NULL top_ngram and 0.0 fractions
    (stable row count = input docs).
    """
    from pyspark.sql import Window

    if top_n < 1 or dup_n < 1:
        raise ValueError(f"gram sizes must be >= 1, got top_n={top_n} dup_n={dup_n}")

    ws = words_expr(F.col(text_col))
    base = df.select(
        F.col(id_col),
        ws.alias("_ws"),
        F.size(ws).cast("long").alias("n_words"),
        F.aggregate(ws, F.lit(0).cast("long"), lambda s, x: s + F.length(x)).alias(
            "word_chars"
        ),
    )

    def _grams(n: int) -> DataFrame:
        arr = F.transform(
            F.sequence(F.lit(0), F.size("_ws") - n),
            lambda i: F.array_join(F.slice("_ws", i + 1, n), " "),
        )
        return (
            base.filter(F.size("_ws") >= n)
            .select(F.col(id_col), F.posexplode(arr).alias("gpos", "gram"))
        )

    # signal 1: most frequent top_n-gram, deterministic tie-break
    counts_top = _grams(top_n).groupBy(id_col, "gram").agg(F.count("*").alias("_cnt"))
    w1 = Window.partitionBy(id_col).orderBy(F.col("_cnt").desc(), F.col("gram").asc())
    top = (
        counts_top.withColumn("_rk", F.row_number().over(w1))
        .filter(F.col("_rk") == 1)
        .select(
            F.col(id_col),
            F.col("gram").alias("top_ngram"),
            # gram chars = joined length minus the (top_n - 1) separators
            (F.col("_cnt") * (F.length("gram") - (top_n - 1))).alias("_top_chars"),
        )
    )

    # signal 2: distinct word positions covered by duplicated dup_n-grams
    gd = _grams(dup_n)
    dup = gd.groupBy(id_col, "gram").agg(F.count("*").alias("_c")).filter(F.col("_c") >= 2)
    covered = (
        gd.join(dup.select(id_col, "gram"), [id_col, "gram"])
        .select(
            F.col(id_col),
            F.explode(F.sequence(F.col("gpos"), F.col("gpos") + (dup_n - 1))).alias("pos"),
        )
        .distinct()
    )
    toks = base.select(F.col(id_col), F.posexplode("_ws").alias("pos", "_w"))
    dup_chars = (
        covered.join(toks, [id_col, "pos"])
        .groupBy(id_col)
        .agg(F.sum(F.length("_w")).alias("_dup_chars"))
    )

    wc = F.col("word_chars").cast("double")
    return (
        base.drop("_ws")
        .join(top, id_col, "left")
        .join(dup_chars, id_col, "left")
        .select(
            F.col(id_col),
            "n_words",
            "word_chars",
            "top_ngram",
            F.round(F.coalesce(F.col("_top_chars").cast("double") / wc, F.lit(0.0)), 6).alias(
                "top_ngram_frac"
            ),
            F.round(
                F.coalesce(F.col("_dup_chars").cast("double") / wc, F.lit(0.0)), 6
            ).alias("dup_ngram_char_frac"),
        )
    )


def contamination(
    docs: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    bench_text_col: str | None = None,
    n: int = 13,
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    word ``n``-gram with a benchmark/eval set (the public GPT-3 /
    C4-style 13-gram overlap rule — Brown et al. 2020 §C) →
    (id, n_grams, n_hit_grams, contaminated), one row per input doc.

    Plan shape (the 100-TB path): benchmark suites are SMALL relative
    to a training corpus, so the benchmark's distinct gram set is built
    once and BROADCAST; corpus grams are constructed IN-ROW (codegen
    transform/slice/array_join, the repetition_signals kernel),
    de-duplicated in-row, exploded, and hash-joined against the
    broadcast set — the corpus itself never shuffles, and the per-doc
    hit counts exchange only map-side-combined (id, cnt) partials.
    Docs shorter than ``n`` words stay in the output with 0 grams.
    """
    if n < 1:
        raise ValueError(f"gram size must be >= 1, got {n}")
    bench_text_col = bench_text_col or text_col

    # r6: the gram expression reads from a BOUND word-array column —
    # inlined, size/when/slice references re-evaluated words_expr per
    # window (O(n_words²) regex splits per doc: measured 18 s of task
    # CPU per corpus branch and 28 s serially for the single-split
    # benchmark scan at the sf0.1 gate). CollapseProject keeps the
    # multi-referenced alias, so the split runs once per row.
    grams_from_ws = F.when(
        F.size("_ws") >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size("_ws") - n),
                lambda i: F.array_join(F.slice(F.col("_ws"), i + 1, n), " "),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))

    n_part = bench.sparkSession.sparkContext.defaultParallelism
    bench_grams = (
        bench.select(F.col(bench_text_col).alias("_tx"))
        .repartition(n_part)  # spread the (typically single-split) scan
        .select(words_expr(F.col("_tx")).alias("_ws"))
        .select(F.explode(grams_from_ws).alias("gram"))
        .distinct()
    )
    # ONE corpus pass (r6): the old shape consumed the gram subtree in
    # two branches (hit explode + the n_grams carrier re-joined at the
    # end) — explode_outer keeps empty docs, the broadcast join flags
    # hits, and a single map-side-combined aggregate yields both counts.
    base = (
        docs.select(F.col(id_col), words_expr(F.col(text_col)).alias("_ws"))
        .select(F.col(id_col), grams_from_ws.alias("_grams"))
        .select(
            F.col(id_col),
            F.size("_grams").cast("long").alias("n_grams"),
            F.explode_outer("_grams").alias("gram"),
        )
    )
    return (
        base.join(F.broadcast(bench_grams.withColumn("_hit", F.lit(1))), "gram", "left")
        .groupBy(id_col)
        .agg(
            F.max("n_grams").alias("n_grams"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("long").alias("n_hit_grams"),
        )
        .select(
            F.col(id_col),
            "n_grams",
            "n_hit_grams",
            (F.col("n_hit_grams") > 0).alias("contaminated"),
        )
    )


def unigram_logprob(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Corpus-unigram-LM quality score (the CCNet-style cheap perplexity
    proxy — Wenzek et al. 2020 use a real LM; the unigram form is the
    standard cheap stand-in) → (id, n_tokens, avg_neg_log2p), where
    p(tok) = corpus_count(tok) / corpus_total and the score is the mean
    of −log2 p over the doc's tokens (low = stereotypical text, high =
    rare-token soup). Empty docs keep a row with NULL score.

    Plan shape: ONE token explode feeds both the vocabulary aggregate
    (map-side-combined groupBy(tok)) and the scoring join; the
    vocabulary (distinct corpus tokens — small vs the corpus)
    broadcasts so the corpus-side token stream joins without an
    exchange, leaving the per-doc mean as the only corpus-keyed shuffle
    (combined partials).
    """
    toks = docs.select(
        F.col(id_col), F.explode(words_expr(F.col(text_col))).alias("tok")
    )
    vocab = toks.groupBy("tok").agg(F.count("*").alias("_cnt"))
    total = vocab.agg(F.sum("_cnt").alias("_total"))
    v = F.broadcast(vocab.crossJoin(F.broadcast(total)))
    scored = (
        toks.join(v, "tok")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.round(
                F.avg(-F.log2(F.col("_cnt").cast("double") / F.col("_total").cast("double"))),
                6,
            ).alias("avg_neg_log2p"),
        )
    )
    ids = docs.select(F.col(id_col)).distinct()
    return ids.join(scored, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("n_tokens"), F.lit(0)).cast("long").alias("n_tokens"),
        F.col("avg_neg_log2p"),
    )


def chunk_tokens(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Sliding-window token chunking — the training-data op that splits
    long documents into fixed-size overlapping context windows (the
    HuggingFace ``return_overflowing_tokens``-with-stride convention):
    chunk k covers tokens [k*stride+1, k*stride+window] (1-based), the
    LAST chunk may be short, and n <= window docs yield exactly one
    chunk. Chunk count m = 1 if n <= window else ceil((n-window)/stride)
    + 1, so the final window always reaches token n (full coverage, no
    dropped tail). -> (id, chunk_idx, start_tok, n_tok, chunk_text).

    Pure Catalyst end to end: the ``words_expr`` whitespace contract
    (same WS class as every other text op), one ``F.sequence`` explode,
    ``F.slice`` + ``array_join`` re-materialization — codegen'd, no UDF,
    no shuffle at all (chunking is embarrassingly row-parallel; at
    10^12 docs the op is a map stage whose output is ~(avg_n/stride)x
    the input rows — size the downstream shuffle partitions for THAT
    row count, not the input's). Whitespace-only/empty text tokenizes
    to [''] (the engine-wide words_expr contract), so every doc emits
    >= 1 chunk row and chunk_text round-trips the (lowercased,
    squeezed) token stream exactly: array_join over single-space equals
    the tokenizer's inverse on the stripped text.
    """
    if window <= 0 or stride <= 0:
        raise ValueError(f"window and stride must be positive, got {window}/{stride}")
    n = F.size(F.col("_toks"))
    m = F.when(n <= window, F.lit(1)).otherwise(
        F.lit(1) + (n - window + stride - 1 - F.pmod(n - window + stride - 1, stride)) / stride
    ).cast("int")
    start = (F.col("chunk_idx") * stride + 1).cast("int")
    chunk = F.slice(F.col("_toks"), start, window)
    return (
        docs.select(F.col(id_col), words_expr(F.col(text_col)).alias("_toks"))
        .withColumn("chunk_idx", F.explode(F.sequence(F.lit(0), m - 1)))
        .select(
            F.col(id_col),
            F.col("chunk_idx"),
            start.alias("start_tok"),
            F.size(chunk).cast("int").alias("n_tok"),
            F.array_join(chunk, " ").alias("chunk_text"),
        )
    )


def pack_sequences(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    capacity: int = 2048,
    sep_tokens: int = 1,
) -> DataFrame:
    """GPT-style sequence packing — the training-data op that
    concatenates every document's token stream in ``id_col`` order
    (with ``sep_tokens`` virtual separator slots — the EOS convention —
    after each doc) and splits the global stream into fixed-``capacity``
    training sequences, documents crossing boundaries split across
    sequences (the concat-and-chunk packing of GPT-2/3 pipelines, vs
    ``chunk_tokens``'s per-doc windows).

    -> (seq_id, <id_col>, doc_tok_start, n_tok, seq_off): which 0-based
    token range of each doc lands where in which sequence — the segment
    map downstream materialization joins against (it never re-reads the
    global stream). Separator slots occupy positions but are virtual —
    they never appear as output tokens, so a sequence's segments can sum
    to < capacity.

    Scale shape: the ONLY global coordination is the exclusive prefix
    sum of (n_tok + sep) in id order: ``plans.indexing.sorted_prefix_scan``'s
    inclusive sum minus the doc's own slots (range partition + per-
    partition totals + driver-side #partitions-sized prefix — never a
    1-partition window). Everything after is per-row arithmetic + one
    bounded explode (a doc spans ceil(n/capacity)+1 sequences at most).
    At 10^12 docs the op is two scans and one range shuffle. Exact-int
    contract: positions stay < 2^53 (10^15 tokens) — beyond that, split
    the corpus into packing epochs.
    """
    if capacity <= 0 or sep_tokens < 0:
        raise ValueError(f"capacity must be positive, sep_tokens >= 0, got {capacity}/{sep_tokens}")
    from osmflat_rs_spark.plans.indexing import sorted_prefix_scan

    base = docs.select(
        F.col(id_col), F.size(words_expr(F.col(text_col))).cast("long").alias("n_tok_doc")
    ).withColumn("_w", F.col("n_tok_doc") + int(sep_tokens))
    off = sorted_prefix_scan(base, [id_col], long_sums=[("_w", "_end")]).withColumn(
        "g_off", F.col("_end") - F.col("_w")
    )

    def fdiv(col):  # exact floor-div for non-negative int64 positions
        return ((col - F.pmod(col, F.lit(capacity))) / F.lit(capacity)).cast("long")

    first = fdiv(F.col("g_off"))
    last = fdiv(F.col("g_off") + F.col("n_tok_doc") - 1)
    seg_start = F.greatest(F.col("g_off"), F.col("seq_id") * capacity)
    seg_end = F.least(
        F.col("g_off") + F.col("n_tok_doc") - 1, (F.col("seq_id") + 1) * capacity - 1
    )
    return (
        off.withColumn("seq_id", F.explode(F.sequence(first, last)))
        .select(
            F.col("seq_id"),
            F.col(id_col),
            (seg_start - F.col("g_off")).alias("doc_tok_start"),
            (seg_end - seg_start + 1).alias("n_tok"),
            (seg_start - F.col("seq_id") * capacity).alias("seq_off"),
        )
    )


# PII scrubbing — the redaction pass every LLM training pipeline runs
# before tokenization (emails / IPv4s / intl phone numbers → typed
# placeholder tokens). Patterns live in ONE table so the engine and the
# SQL oracle are generated from the same source; every pattern stays in
# the Java-regex ∩ RE2 common subset (no backrefs, no lookaround, ASCII
# \d/\b in both), which is what makes the gate hash-exact cross-engine.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\+\d{7,15}", "<PHONE>"),
)


def pii_scrub(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Redact PII → (id, text_clean, n_email, n_ipv4, n_phone).

    Patterns apply in PII_PATTERNS order, each COUNTED on the text as
    already scrubbed by the previous ones (an email's host never
    double-counts as an IPv4, a phone inside a replaced span is gone) —
    the order is part of the contract and the oracle restates it.
    Pure codegen column expressions: regexp_extract_all (count) +
    regexp_replace per pattern, zero shuffles, zero Python — the plan a
    10^12-document scrub must have (map-only, pushdown-transparent).
    """
    cur = F.col(text_col)
    counts = []
    for name, pat, token in PII_PATTERNS:
        counts.append(F.size(F.regexp_extract_all(cur, F.lit(pat), F.lit(0))).cast("long").alias(f"n_{name}"))
        cur = F.regexp_replace(cur, pat, token)
    return df.select(F.col(id_col), cur.alias("text_clean"), *counts)


def bigram_logprob(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Corpus-bigram-LM quality score with add-one smoothing → (id,
    n_bigrams, avg_neg_log2p): the sequence-aware step up from
    `unigram_logprob` (word-salad text scores high here even when its
    unigram distribution looks natural). p(w2|w1) = (c(w1,w2) + 1) /
    (c(w1·) + V) — Laplace over the corpus's own bigram counts, V = the
    corpus unigram vocabulary size; score = mean −log2 p over the doc's
    bigrams; docs with < 2 tokens keep a row with NULL score.

    Plan shape: bigrams are built IN-ROW (two array slices zipped —
    codegen, no self-join on token position), then ONE explode feeds
    both the count aggregates and the scoring join, exactly the
    unigram operator's shape. The bigram table is Zipf-shaped but
    distinct-bounded; both count tables broadcast so scoring adds zero
    exchanges beyond the per-doc mean.
    """
    w = words_expr(F.col(text_col))
    n = F.size(w)
    grams = F.when(
        n >= 2,
        F.arrays_zip(
            F.slice(w, 1, n - 1).alias("w1"), F.slice(w, 2, n - 1).alias("w2")
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    bg = docs.select(
        F.col(id_col), F.explode(grams).alias("g")
    ).select(id_col, F.col("g.w1").alias("w1"), F.col("g.w2").alias("w2"))
    toks = docs.select(F.explode(words_expr(F.col(text_col))).alias("tok"))
    vsize = toks.agg(F.count_distinct("tok").alias("_v"))
    bcnt = F.broadcast(bg.groupBy("w1", "w2").agg(F.count("*").alias("_cb")))
    ccnt = F.broadcast(bg.groupBy("w1").agg(F.count("*").alias("_c1")))
    scored = (
        bg.join(bcnt, ["w1", "w2"]).join(ccnt, "w1").crossJoin(F.broadcast(vsize))
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.round(
                F.avg(
                    -F.log2(
                        (F.col("_cb") + F.lit(1)).cast("double")
                        / (F.col("_c1") + F.col("_v")).cast("double")
                    )
                ),
                6,
            ).alias("avg_neg_log2p"),
        )
    )
    ids = docs.select(F.col(id_col)).distinct()
    return ids.join(scored, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("long").alias("n_bigrams"),
        F.col("avg_neg_log2p"),
    )


def bm25_score(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list,
    k1: float = 1.2,
    b: float = 0.75,
    keep_zero: bool = False,
) -> DataFrame:
    """Okapi BM25 relevance of every document against a fixed query →
    (id, n_tokens, score): the retrieval-quality scorer a training-data
    pipeline uses to mine topical subsets (the reference has no
    relevance surface — same §2.9 mandate as tfidf_top_terms).

    score = Σ_t idf_t · tf_t·(k1+1) / (tf_t + k1·(1−b + b·dl/avgdl)),
    idf_t = ln((N − df_t + ½)/(df_t + ½) + 1) — the BM25+ idf, strictly
    positive so stopword queries never flip sign. The per-term
    contributions are summed IN THE CALLER'S TERM ORDER as one fixed
    left-associated expression (query terms are plan-time constants),
    so the float result is a deterministic IEEE evaluation both engines
    reproduce; output rounds to 6 decimals (engine-wide contract).

    Plan shape at 100 TB: dl is computed IN-ROW (no explode); the token
    explode is filtered to the query terms BEFORE its one groupBy, so
    the shuffle carries only matching (doc, term) rows — corpus bytes
    never shuffle; per-term tf lands as conditional-sum columns (no
    pivot); corpus stats (N, Σdl, df_t) reduce to ONE row broadcast
    back. ``keep_zero=False`` (default) emits only docs containing ≥ 1
    query term — the retrieval shape; True left-joins every doc with
    score 0 for the zero-match rest.
    """
    terms = list(dict.fromkeys(query_terms))
    if not terms:
        raise ValueError("query_terms must be non-empty")
    if k1 <= 0 or not (0 <= b <= 1):
        raise ValueError(f"need k1 > 0 and 0 <= b <= 1, got k1={k1}, b={b}")
    toks = words_expr(F.col(text_col))
    base = df.select(F.col(id_col), F.size(toks).alias("dl"))
    matched = (
        df.select(F.col(id_col), F.explode(toks).alias("_term"))
        .filter(F.col("_term").isin(terms))
        .groupBy(id_col)
        .agg(
            *[
                F.sum(F.when(F.col("_term") == t, 1).otherwise(0)).alias(f"_tf{i}")
                for i, t in enumerate(terms)
            ]
        )
    )
    stats = (
        base.agg(
            F.count("*").alias("_n"), F.sum("dl").alias("_sdl")
        )
        .crossJoin(
            F.broadcast(
                matched.agg(
                    *[
                        F.sum(F.when(F.col(f"_tf{i}") > 0, 1).otherwise(0)).alias(f"_df{i}")
                        for i in range(len(terms))
                    ]
                )
            )
        )
    )
    joined = (
        base.join(matched, id_col, "left" if keep_zero else "inner")
        .crossJoin(F.broadcast(stats))
    )
    n_d = F.col("_n").cast("double")
    avgdl = F.col("_sdl").cast("double") / n_d
    norm = F.lit(1.0 - b) + F.lit(b) * (F.col("dl").cast("double") / avgdl)
    score = None
    for i in range(len(terms)):
        tf = F.coalesce(F.col(f"_tf{i}"), F.lit(0)).cast("double")
        dfr = F.coalesce(F.col(f"_df{i}"), F.lit(0)).cast("double")
        idf = F.log((n_d - dfr + F.lit(0.5)) / (dfr + F.lit(0.5)) + F.lit(1.0))
        contrib = idf * ((tf * F.lit(k1 + 1.0)) / (tf + F.lit(k1) * norm))
        score = contrib if score is None else score + contrib
    return joined.select(
        F.col(id_col),
        F.col("dl").cast("long").alias("n_tokens"),
        F.round(score, 6).alias("score"),
    )


def frequent_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_support: int | None = None,
    min_support_frac: tuple | None = None,
) -> DataFrame:
    """Frequent co-occurring token pairs (2-itemsets, Apriori-pruned) →
    (item_a, item_b, n_docs, support_a, support_b, lift): the
    market-basket / co-occurrence miner over document tokens (item_a <
    item_b; support counts DOCUMENTS, each doc's tokens deduped first).

    Threshold is EXACT: ``min_support`` is an absolute doc count, or
    ``min_support_frac=(num, den)`` an exact rational of the corpus
    size (support·den ≥ num·N in integers — no float threshold edge).
    ``lift`` = (n_docs·N)/(support_a·support_b), exact-int operands,
    one IEEE division, round-6 contract.

    Scale shape — the Apriori prune IS the plan: (1) one explode of
    in-row-deduped tokens feeds the item-support aggregate; (2) items
    below threshold are dropped BEFORE any pair is formed (a pair of
    infrequent items can't be frequent — the monotonicity lemma), via a
    broadcast semi-join; (3)
    pairs come from a self-equi-join of the PRUNED (doc, item) table on
    doc — whole-stage codegen, no per-row Python, fan-out bounded by
    per-doc FREQUENT-item counts, with AQE handling doc skew; (4) one
    map-side-combined pair count + the threshold filter.
    """
    if (min_support is None) == (min_support_frac is None):
        raise ValueError("pass exactly one of min_support / min_support_frac")
    if min_support is not None and min_support < 1:
        raise ValueError(f"min_support must be >= 1, got {min_support}")
    if min_support_frac is not None:
        num, den = min_support_frac
        if num < 0 or den < 1:
            raise ValueError(f"need num >= 0, den >= 1, got {min_support_frac}")
    toks = df.select(
        F.col(id_col).alias("_id"),
        F.explode(F.array_distinct(words_expr(F.col(text_col)))).alias("item"),
    )
    supp = toks.groupBy("item").agg(F.count("*").alias("support"))
    if min_support is not None:
        freq = supp.filter(F.col("support") >= min_support)
        thr = F.col("n_docs") >= min_support
    else:
        n_tot = df.agg(F.count("*").alias("_n"))
        freq = supp.crossJoin(F.broadcast(n_tot)).filter(
            F.col("support") * F.lit(den) >= F.lit(num) * F.col("_n")
        ).select("item", "support")
        thr = None  # applied below with the joined _n column
    pruned = toks.join(F.broadcast(freq).select("item"), "item").select("_id", "item")
    a = pruned.select("_id", F.col("item").alias("item_a"))
    b = pruned.select("_id", F.col("item").alias("item_b"))
    pairs = (
        a.join(b, "_id")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count("*").alias("n_docs"))
    )
    n_tot = df.agg(F.count("*").alias("_n"))
    pairs = pairs.crossJoin(F.broadcast(n_tot))
    if thr is not None:
        pairs = pairs.filter(thr)
    else:
        pairs = pairs.filter(F.col("n_docs") * F.lit(den) >= F.lit(num) * F.col("_n"))
    sa = freq.select(F.col("item").alias("item_a"), F.col("support").alias("support_a"))
    sb = freq.select(F.col("item").alias("item_b"), F.col("support").alias("support_b"))
    return (
        pairs.join(F.broadcast(sa), "item_a")
        .join(F.broadcast(sb), "item_b")
        .select(
            "item_a",
            "item_b",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("support_a").cast("long").alias("support_a"),
            F.col("support_b").cast("long").alias("support_b"),
            F.round(
                (F.col("n_docs") * F.col("_n")).cast("double")
                / (F.col("support_a") * F.col("support_b")).cast("double"),
                6,
            ).alias("lift"),
        )
    )


def feature_hash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    dim: int = 64,
    signed: bool = True,
) -> DataFrame:
    """Hashing-trick vectorizer (Weinberger et al. 2009, ICML — the
    "feature hashing" paper; sklearn's HashingVectorizer): each doc →
    a FIXED dim-wide integer vector, vec[b] = Σ over tokens with
    bucket(t) = b of sign(t) — the vocabulary-free embedding for cheap
    clustering / mixing / linear models over a 100 TB corpus, where a
    fitted vocabulary (TF-IDF's df pass) is itself a corpus-wide
    shuffle this operator deliberately avoids.

    bucket(t) = md5-60bit(t) mod dim and sign(t) = ±1 from an
    independent seeded digest — the engine's portable hash family
    (``dedup.md5_int60``), so the SQL oracle reproduces vectors
    bit-for-bit. The signed variant makes collisions cancel in
    expectation (the paper's unbiasedness construction);
    ``signed=False`` gives plain non-negative counts. Duplicate tokens
    count with multiplicity. → (id, vec: array<long> of length dim) —
    exact ints, no floats anywhere.

    Physical shape: ZERO shuffles and zero Python — tokens map once to
    (bucket, sign) structs in-row, then one ``aggregate`` HOF folds an
    int64 accumulator array of width dim. Cost is O(dim · tokens) array
    updates per doc, evaluated in Catalyst's interpreted HOF path (the
    r3 MinHash lesson): fine for dim ≤ a few hundred; for dim in the
    thousands, prefer the explode → (id, bucket) count → map_from_
    entries regroup, which trades one id-keyed Exchange for O(tokens)
    work. dim is the knob — state it with the model, not the data.
    """
    if dim < 1:
        raise ValueError(f"dim must be >= 1, got {dim}")
    from osmflat_rs_spark.operators.dedup import md5_int60

    toks = words_expr(F.col(text_col))
    # (bucket, sign) per token, hashed ONCE; sign from an independent
    # seeded digest ('s:' prefix keeps it off the bucket digest)
    bs = F.transform(
        toks,
        lambda t: F.struct(
            F.pmod(md5_int60(t), F.lit(dim)).alias("b"),
            (
                (F.pmod(md5_int60(F.concat(F.lit("s:"), t)), F.lit(2)) * 2 - 1)
                if signed
                else F.lit(1)
            ).cast("long").alias("s"),
        ),
    )
    vec = F.aggregate(
        bs,
        F.array_repeat(F.lit(0).cast("long"), dim),
        lambda acc, e: F.transform(
            acc, lambda v, i: v + F.when(e["b"] == i.cast("long"), e["s"]).otherwise(F.lit(0))
        ),
    )
    return df.select(F.col(id_col), vec.alias("vec"))


def boilerplate_strip(
    df: DataFrame,
    id_col: str,
    text_col: str,
    group_col: str,
    line_words: int = 8,
    min_docs: int = 3,
) -> DataFrame:
    """CCNet-style boilerplate removal — drop lines that repeat across
    many documents of the same group (domain/source): navigation bars,
    cookie banners, license footers. A line is *boilerplate* when it
    appears verbatim in >= ``min_docs`` DISTINCT documents within its
    ``group_col`` partition (reference analog: the dedup-by-repeated-
    paragraph stage every web-corpus pipeline runs before training).

    Lines here are the tokenizer-contract word stream regrouped in
    consecutive ``line_words``-token windows (the synthetic corpus has
    no newlines; a real corpus would pass its own pre-split lines —
    the counting/stripping plan is identical either way).

    -> (id, n_lines, n_boiler, clean_text): per doc, total lines, lines
    stripped, and the surviving lines rejoined in original order.

    Scale shape: line fan-out is a pure codegen map (no shuffle);
    the document-frequency count is ONE exchange keyed (group, line) —
    count(DISTINCT id) per line partial-aggregates map-side after the
    in-map (group, line, id) dedup Spark plans for it; the boilerplate
    mark rejoins on the same (group, line) key (AQE reuses the
    exchange), and the final reassembly is one id-keyed aggregate whose
    collect_list is bounded by the doc's own line count — nothing is
    ever corpus-wide in memory. Skew note: a pathological group where
    ONE line appears in 10^9 docs only inflates a count, never a
    collect — the frequency table stays |distinct lines| rows.
    """
    if line_words < 1:
        raise ValueError(f"line_words must be >= 1, got {line_words}")
    if min_docs < 2:
        raise ValueError(f"min_docs must be >= 2, got {min_docs}")
    toks = words_expr(F.col(text_col))
    n_lines = F.ceil(F.size("_toks") / F.lit(line_words)).cast("int")
    lines = (
        df.select(F.col(id_col), F.col(group_col).alias("_g"), toks.alias("_toks"))
        .withColumn("_li", F.explode(F.sequence(F.lit(0), n_lines - 1)))
        .select(
            F.col(id_col),
            "_g",
            "_li",
            F.array_join(
                F.slice(F.col("_toks"), F.col("_li") * line_words + 1, line_words), " "
            ).alias("_line"),
        )
    )
    boiler = (
        lines.groupBy("_g", "_line")
        .agg(F.count_distinct(F.col(id_col)).alias("_df"))
        .filter(F.col("_df") >= min_docs)
        .select("_g", "_line", F.lit(True).alias("_boiler"))
    )
    marked = lines.join(boiler, ["_g", "_line"], "left")
    keep = F.col("_boiler").isNull()
    return (
        marked.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum(F.when(keep, 0).otherwise(1)).cast("long").alias("n_boiler"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.when(keep, F.struct(F.col("_li"), F.col("_line"))))
                    ),
                    lambda s: s["_line"],
                ),
                " ",
            ).alias("clean_text"),
        )
    )


def ngram_novelty(df: DataFrame, id_col: str, text_col: str, k: int = 3) -> DataFrame:
    """Corpus n-gram novelty score — the memorization/duplication proxy
    LLM data pipelines gate on (the inverse of Lee et al.'s dedup
    signal): per document, the fraction of its DISTINCT k-word shingles
    that appear in NO other document
    → (doc_id, n_shingles, n_novel, novelty). novelty 1.0 = wholly
    original text; low novelty = boilerplate/template/copied content.

    Scale shape — no shingle-table self-join and no join BACK of the
    document-frequency table onto the exploded shingles (the naive form
    re-shuffles the whole corpus's shingles a second time): a shingle
    with corpus df = 1 has exactly one owner, which IS its min(_id), so
    the novel-count per doc falls out of the SAME groupBy(shingle)
    aggregate that computes df — filter df = 1, regroup by owner. Two
    key-partitioned shuffles total (shingle, then doc id), both
    map-side combined; shingling itself is the in-row codegen HOF
    (`dedup._shingle_arr`, zero shuffle).

    Exactness: counts are exact int64; novelty is ONE int-ratio IEEE
    division. Docs shorter than k words carry their full lowercased
    text as the single shingle (the `_shingle_arr` contract), so
    n_shingles ≥ 1 and the division never sees zero."""
    from osmflat_rs_spark.operators.dedup import shingles

    sh = shingles(df, id_col, text_col, k)  # distinct (_id, shingle)
    per_doc = sh.groupBy("_id").agg(F.count("*").alias("n_shingles"))
    novel = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("_df"), F.min("_id").alias("_owner"))
        .filter(F.col("_df") == 1)
        .groupBy("_owner")
        .agg(F.count("*").alias("n_novel"))
    )
    out = per_doc.join(novel, per_doc["_id"] == novel["_owner"], "left")
    return out.select(
        F.col("_id").alias(id_col),
        "n_shingles",
        F.coalesce(F.col("n_novel"), F.lit(0)).alias("n_novel"),
        (
            F.coalesce(F.col("n_novel"), F.lit(0)).cast("double")
            / F.col("n_shingles").cast("double")
        ).alias("novelty"),
    )


def lexical_diversity(
    df: DataFrame, id_col: str, text_col: str, carry_cols: tuple = ()
) -> DataFrame:
    """(id, n_tokens, n_types, n_hapax, ttr, hapax_ratio): per-document
    lexical-diversity profile — type-token ratio and hapax-legomena
    fraction, two standard corpus-quality features (low TTR flags
    boilerplate/spam; a high hapax share flags OCR noise and gibberish)
    next to :func:`quality_score` in a training-data filter stack.

    Scale shape: ZERO shuffle. Instead of the explode → groupBy(doc,
    token) exchange (whose payload is the corpus re-keyed by token),
    the token array is sorted IN ROW (``array_sort``) and every count
    falls out of run boundaries of the sorted array: a type is a run,
    a hapax is a run of length 1. Adjacent-equal flags come from one
    ``zip_with`` over the array and its shift; run-of-1 positions from
    a second ``zip_with`` over the 0-padded flag array. All built-in
    array expressions — JVM-side, map-only, partition-count preserved —
    so the operator composes under any upstream partitioning without
    adding an exchange (same discipline as minhash shingling,
    dedup.py). Per-row cost O(T log T) in the doc's token count.

    Tokenization is the repo-wide ``words_expr`` contract (lowercase,
    explicit Unicode WS class, edge-strip; empty text yields the ['']
    singleton — counted as one token/one type on BOTH engines, so no
    zero-denominator cliffs exist and ratios are always defined).
    Reference analog: per-entity tag-statistics loops
    (osmflat-rs/examples/count.rs:24-43) — the same one-pass-per-entity
    statistics discipline, here over token multisets.
    """
    toks = F.array_sort(words_expr(F.col(text_col)))
    carry = [F.col(c) for c in carry_cols]
    d = df.select(F.col(id_col), *carry, toks.alias("_t"))
    n = F.size(F.col("_t"))
    zero = F.lit(0).cast("long")
    # eqp[i] = 1 iff sorted[i+1] == sorted[i]  (length n-1, [] when n=1)
    eqp = F.zip_with(
        F.slice(F.col("_t"), 1, n - 1),
        F.slice(F.col("_t"), 2, n - 1),
        lambda a, b: (a == b).cast("long"),
    )
    d = d.select(d[id_col], *carry_cols, n.alias("n_tokens"), eqp.alias("_e"))
    n_eq = F.aggregate("_e", zero, lambda acc, x: acc + x)
    # pad flags with 0 at both ends: a run of length 1 at i is
    # (no equal-neighbour before) AND (none after).
    padded = F.concat(F.array(zero), F.col("_e"), F.array(zero))
    run1 = F.zip_with(
        F.slice(padded, 1, F.col("n_tokens")),
        F.slice(padded, 2, F.col("n_tokens")),
        lambda a, b: (F.lit(1) - a) * (F.lit(1) - b),
    )
    n_hapax = F.aggregate(run1, zero, lambda acc, x: acc + x)
    d = d.select(
        d[id_col],
        *carry_cols,
        "n_tokens",
        (F.col("n_tokens") - n_eq).alias("n_types"),
        n_hapax.alias("n_hapax"),
    )
    return d.select(
        d[id_col],
        *carry_cols,
        "n_tokens",
        "n_types",
        "n_hapax",
        (F.col("n_types").cast("double") / F.col("n_tokens")).alias("ttr"),
        (F.col("n_hapax").cast("double") / F.col("n_types")).alias("hapax_ratio"),
    )


def zipf_slope(
    df: DataFrame,
    text_col: str,
    group_col: str,
    top_r: int = 128,
    salt_buckets: int = 8,
) -> DataFrame:
    """(group, n_ranks, slope, intercept): per-group Zipf
    rank-frequency fit — OLS of ln(freq) on ln(rank) over the group's
    ``top_r`` most frequent tokens (count desc, token asc tie-break).
    A healthy natural-language corpus sits near slope −1 (Zipf 1949);
    a shallow slope flags templated/boilerplate shards and a cliff
    flags token spam — a standard corpus-level diagnostic next to the
    per-doc :func:`lexical_diversity` in a training-data QA stack.

    Scale shape: tokens reduce map-side into (group, token) partial
    counts (one exchange keyed by the vocabulary — the corpus itself
    is never re-shuffled), then the rank window runs over the
    skew-capped two-phase top-n (sampling._two_phase_top_n) so no
    reducer ever sorts a whole language's vocabulary; the fit
    consumes exactly ``top_r`` rows per group via closed-form OLS
    sums. ln-derived outputs are ROUND(·, 9) on both engines (the
    entropy-gate float contract); the ≤ top_r-term sums keep
    reassociation error ~1e-12, far inside the rounding.

    Groups with a single ranked token have a degenerate (zero)
    normal-equation denominator and yield NULL slope/intercept.
    """
    from osmflat_rs_spark.operators.sampling import _two_phase_top_n

    if top_r < 2:
        raise ValueError(f"top_r must be >= 2, got {top_r}")
    toks = df.select(
        F.col(group_col).alias("_g"),
        F.explode(words_expr(F.col(text_col))).alias("_tok"),
    )
    tf = toks.groupBy("_g", "_tok").agg(F.count(F.lit(1)).alias("_c"))
    ranked = _two_phase_top_n(
        tf, ["_g"], [F.col("_c").desc(), F.col("_tok").asc()], top_r, salt_buckets
    )
    pts = ranked.select(
        "_g",
        F.log(F.col("rk").cast("double")).alias("_x"),
        F.log(F.col("_c").cast("double")).alias("_y"),
    )
    a = pts.groupBy("_g").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("_x").alias("_sx"),
        F.sum("_y").alias("_sy"),
        F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
        F.sum(F.col("_x") * F.col("_y")).alias("_sxy"),
    )
    den = F.col("_n") * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    slope_raw = (F.col("_n") * F.col("_sxy") - F.col("_sx") * F.col("_sy")) / den
    icept_raw = (F.col("_sy") - slope_raw * F.col("_sx")) / F.col("_n")
    return a.select(
        F.col("_g").alias(group_col),
        F.col("_n").cast("long").alias("n_ranks"),
        F.when(den != 0, F.round(slope_raw, 9)).alias("slope"),
        F.when(den != 0, F.round(icept_raw, 9)).alias("intercept"),
    )


def dsir_importance(
    df: DataFrame,
    id_col: str,
    text_col: str,
    is_target,
    dim: int = 4096,
) -> DataFrame:
    """(id, n_feats, log_weight): DSIR data-selection importance
    weights (Xie et al. 2023, "Data Selection for Language Models via
    Importance Resampling") — per document, the hashed-n-gram
    log-likelihood ratio ln p_target(doc)/ln p_source(doc) under two
    bag-of-buckets unigram models: features are word uni+bigrams
    hashed into ``dim`` buckets (the portable ``md5_int60`` family, so
    the SQL oracle reproduces every bucket), the target distribution
    is estimated from rows where ``is_target`` holds, the source
    distribution from the WHOLE corpus, both Laplace-(+1)-smoothed
    over all ``dim`` buckets. High log_weight = "looks like the
    target domain" — resample on it to tilt a 100-TB crawl toward a
    quality corpus without training a classifier.

    Scale shape: the corpus is exploded ONCE into a checkpointed (doc,
    target-flag, bucket) multiplicity table — the single corpus-keyed
    exchange — and BOTH distributions, the totals, and the per-doc
    sums all derive from that reduced table (plan-audited: the naive
    form recomputed the explode per consumer — three corpus passes);
    the bucket dictionary is ≤ dim rows and BROADCASTS. Nothing
    all-pairs, nothing driver-side. Per-doc weights sum m_b·lr_b over
    DISTINCT buckets (multiplicity as an exact int64 factor), so the
    float work per doc is ≤ min(n_feats, dim) terms; ln-derived
    output carries the repo's ROUND(·, 9) contract.
    """
    from osmflat_rs_spark.operators.dedup import md5_int60

    if dim < 1:
        raise ValueError(f"dim must be >= 1, got {dim}")
    toks = words_expr(F.col(text_col))
    n = F.size(toks)
    bi = F.zip_with(
        F.slice(toks, 1, n - 1),
        F.slice(toks, 2, n - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    feats = F.concat(toks, bi)
    bks = F.transform(feats, lambda t: F.pmod(md5_int60(t), F.lit(dim)))
    ex = df.select(
        F.col(id_col).alias("_id"),
        is_target.cast("boolean").alias("_tgt"),
        F.explode(bks).alias("_b"),
    )
    # ONE corpus explode + ONE exchange: everything downstream derives
    # from the (doc, bucket) multiplicity table (a plan audit caught the
    # first draft recomputing the explode for each distribution — 6
    # parquet scans, no ReusedExchange; at 100 TB that is three corpus
    # passes for one)
    db = fresh_local_checkpoint(ex.groupBy("_id", "_tgt", "_b").agg(F.count(F.lit(1)).alias("_m")))
    dist = db.groupBy("_b").agg(
        F.sum("_m").alias("_cs"),
        F.sum(F.when(F.col("_tgt"), F.col("_m")).otherwise(0)).cast("long").alias("_ct"),
    )
    totals = dist.agg(
        (F.log(F.sum("_cs") + F.lit(dim).cast("double"))
         - F.log(F.sum("_ct") + F.lit(dim).cast("double"))).alias("_const")
    )
    lr = dist.select(
        "_b",
        (F.log(F.col("_ct").cast("double") + 1) - F.log(F.col("_cs").cast("double") + 1)).alias("_lr"),
    )
    per_doc = (
        db.join(F.broadcast(lr), "_b")
        .groupBy("_id")
        .agg(
            F.sum("_m").cast("long").alias("n_feats"),
            F.sum(F.col("_m") * F.col("_lr")).alias("_s"),
        )
    )
    return per_doc.crossJoin(F.broadcast(totals)).select(
        F.col("_id").alias(id_col),
        "n_feats",
        F.round(F.col("_s") + F.col("n_feats") * F.col("_const"), 9).alias("log_weight"),
    )


def corpus_kl(
    df: DataFrame,
    text_col: str,
    group_col: str,
    dim: int = 1024,
) -> DataFrame:
    """(group, n_tokens, kl): per-group corpus drift — KL(P_group ‖
    P_corpus) between Laplace-smoothed hashed-unigram bucket
    distributions (the same portable ``md5_int60`` bucket family as
    :func:`dsir_importance`). The monitoring scalar for a sharded
    ingest: a shard whose KL jumps is no longer drawn from the corpus
    distribution — dedupe/contamination/language drift screens key off
    exactly this (cf. importance resampling's LLR, which this is the
    expectation of under P_group).

    Scale shape: ONE explode pass reduces to the checkpointed (group,
    bucket) table and every margin (bucket, group, grand total)
    re-aggregates THAT, the full group × dim grid
    is rebuilt in-row (explode over ``sequence`` — zero-count buckets
    MUST contribute their smoothed mass or the sum is silently wrong),
    and the corpus dictionary (≤ dim rows) BROADCASTS. The per-group
    sum spans exactly ``dim`` ln-terms → ROUND(kl, 6) contract.
    """
    from osmflat_rs_spark.operators.dedup import md5_int60

    if dim < 1:
        raise ValueError(f"dim must be >= 1, got {dim}")
    toks = words_expr(F.col(text_col))
    ex = df.select(
        F.col(group_col).alias("_g"),
        F.explode(F.transform(toks, lambda t: F.pmod(md5_int60(t), F.lit(dim)))).alias("_b"),
    )
    # one corpus explode; margins derive from the (group, bucket)
    # reduce (the dsir plan-audit lesson: per-consumer recomputation
    # triples the corpus passes)
    cl = fresh_local_checkpoint(ex.groupBy("_g", "_b").agg(F.count(F.lit(1)).alias("_cl")))
    cb = cl.groupBy("_b").agg(F.sum("_cl").alias("_cb"))
    nl = cl.groupBy("_g").agg(F.sum("_cl").alias("_nl"))
    nn = cl.agg(F.sum("_cl").alias("_n"))
    grid = nl.withColumn("_b", F.explode(F.sequence(F.lit(0).cast("long"), F.lit(dim - 1).cast("long"))))
    j = (
        grid.join(cl, ["_g", "_b"], "left")
        .join(F.broadcast(cb), "_b", "left")
        .crossJoin(F.broadcast(nn))
        .select(
            "_g", "_nl",
            F.coalesce(F.col("_cl"), F.lit(0).cast("long")).alias("_cl"),
            F.coalesce(F.col("_cb"), F.lit(0).cast("long")).alias("_cb"),
            "_n",
        )
    )
    p = (F.col("_cl").cast("double") + 1) / (F.col("_nl").cast("double") + dim)
    term = p * (
        F.log(F.col("_cl").cast("double") + 1)
        - F.log(F.col("_nl").cast("double") + dim)
        - F.log(F.col("_cb").cast("double") + 1)
        + F.log(F.col("_n").cast("double") + dim)
    )
    return (
        j.groupBy("_g")
        .agg(
            F.first("_nl").alias("n_tokens"),
            F.round(F.sum(term), 6).alias("kl"),
        )
        .select(F.col("_g").alias(group_col), "n_tokens", "kl")
    )


def heaps_fit(
    df: DataFrame,
    id_col: str,
    text_col: str,
    group_col: str,
) -> DataFrame:
    """(group, n_docs, beta, ln_k, r2): per-group Heaps'-law fit —
    OLS of ln(types) on ln(tokens) across the group's documents
    (V ≈ K·N^β; natural corpora sit near β ≈ 0.4-0.6 — Heaps 1978).
    A β drifting toward 1 flags unmixed/unique-ID-heavy shards, toward
    0 templated ones; the cross-document complement of the per-corpus
    :func:`zipf_slope` (the two exponents are duals under the Zipf
    model).

    Composition: per-doc (n_tokens, n_types) come from
    :func:`lexical_diversity` (carried group column, zero-shuffle
    sorted-run counting), so the ONLY exchange is the per-group OLS
    aggregate over
    six closed-form sums. Empty docs contribute the ([''], 1, 1)
    point (ln 1 = 0) rather than a NULL cliff. Degenerate groups
    (constant ln-tokens) yield NULL fit columns. ln-floats under the
    repo's ROUND(·, 9) contract.
    """
    ld = lexical_diversity(df, id_col, text_col, carry_cols=(group_col,))
    pts = ld.select(
        F.col(group_col).alias("_g"),
        F.log(F.col("n_tokens").cast("double")).alias("_x"),
        F.log(F.col("n_types").cast("double")).alias("_y"),
    )
    a = pts.groupBy("_g").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("_x").alias("_sx"),
        F.sum("_y").alias("_sy"),
        F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
        F.sum(F.col("_x") * F.col("_y")).alias("_sxy"),
        F.sum(F.col("_y") * F.col("_y")).alias("_syy"),
    )
    den = F.col("_n") * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    num = F.col("_n") * F.col("_sxy") - F.col("_sx") * F.col("_sy")
    deny = F.col("_n") * F.col("_syy") - F.col("_sy") * F.col("_sy")
    beta = num / den
    lnk = (F.col("_sy") - beta * F.col("_sx")) / F.col("_n")
    return a.select(
        F.col("_g").alias(group_col),
        F.col("_n").cast("long").alias("n_docs"),
        F.when(den != 0, F.round(beta, 9)).alias("beta"),
        F.when(den != 0, F.round(lnk, 9)).alias("ln_k"),
        F.when((den != 0) & (deny != 0), F.round(num * num / (den * deny), 9)).alias("r2"),
    )


def cdc_chunks(
    df: DataFrame,
    id_col: str,
    text_col: str,
    mask_bits: int = 3,
) -> DataFrame:
    """Content-defined chunking (the Rabin/LBFS scheme of
    Muthitacharoen et al., SOSP'01, at word granularity): a chunk
    boundary falls AFTER every token whose hash ≡ 0 (mod 2^mask_bits)
    — so boundaries depend only on LOCAL content, and an insertion
    early in a document shifts at most one chunk instead of re-aligning
    every fixed-stride window (the property that makes storage dedup
    and incremental sync work; contrast :func:`chunk_tokens`' fixed
    stride). Mean chunk length ≈ 2^mask_bits tokens; a forced boundary
    closes the final chunk. → (id, chunk_idx, start_tok, n_tok,
    digest), digest = md5 of the space-joined chunk — group equal
    digests across a corpus for chunk-level dedup.

    ENTIRELY in-row until the output explode (the winnowing
    discipline): token hashes, boundary positions (filter over
    sequence), chunk spans (zip_with of the boundary list against its
    shift) and digests are all Catalyst array expressions,
    bit-reproducible in ANSI SQL list lambdas via the md5-slice hash
    family. Empty text yields the single ['']-token chunk.
    """
    if mask_bits < 0:
        raise ValueError(f"mask_bits must be >= 0, got {mask_bits}")
    mask = 1 << mask_bits
    ws = words_expr(F.col(text_col))
    base = df.select(F.col(id_col), ws.alias("_ws"))
    hs = F.transform(
        F.col("_ws"),
        lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long"),
    )
    n = F.size(F.col("_ws"))
    bp = F.filter(
        F.sequence(F.lit(1), n),
        lambda i: (F.pmod(F.get(hs, i - 1), F.lit(mask)) == 0) | (i == n),
    )
    starts = F.concat(F.array(F.lit(0)), F.slice(bp, 1, F.size(bp) - 1))
    spans = F.zip_with(
        starts,
        bp,
        lambda s, e: F.struct((s + 1).alias("start"), (e - s).alias("len")),
    )
    chunks = F.transform(
        spans,
        lambda sp: F.struct(
            sp["start"].alias("start_tok"),
            sp["len"].alias("n_tok"),
            F.md5(F.array_join(F.slice(F.col("_ws"), sp["start"], sp["len"]), " ")).alias("digest"),
        ),
    )
    return base.select(
        F.col(id_col), F.posexplode(chunks).alias("chunk_idx", "_c")
    ).select(
        id_col,
        "chunk_idx",
        F.col("_c.start_tok").alias("start_tok"),
        F.col("_c.n_tok").alias("n_tok"),
        F.col("_c.digest").alias("digest"),
    )


def _bpe_merge_expr(sym, a: str, b: str):
    """Greedy left-to-right in-row merge of adjacent (a, b) → 'ab' over
    a symbol array — one fold; F.get (not element_at) keeps the
    empty-accumulator probe NULL-safe under ANSI mode."""
    return F.aggregate(
        sym,
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.get(acc, F.size(acc) - 1) == a) & (s == b),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(a + b))
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def bpe_train(
    df: DataFrame,
    text_col: str,
    n_merges: int = 20,
    max_word_len: int = 32,
):
    """Learn a byte-pair-encoding merge table from a corpus (Sennrich
    et al. 2016, the subword tokenizer-training algorithm behind
    GPT-2/RoBERTa vocabularies, word-internal variant) → (rank, left,
    right, freq): at each rank, the corpus-wide most frequent adjacent
    symbol pair (ties broken lexicographically — fully deterministic),
    merged greedily left-to-right before the next round.

    Scale shape — the part that matters at 100 TB: the corpus is
    touched ONCE (tokenize → (word, freq) aggregate); all ``n_merges``
    rounds run on that VOCABULARY table (Heaps-bounded, millions of
    rows where the corpus has trillions): per round one in-row
    adjacent-pair explode + weighted groupBy, a ONE-ROW argmax collect
    (the bounded driver action — same class as the IVF trainer's k×dim
    pull), and an in-row fold re-segmentation. ``localCheckpoint``
    truncates the growing lineage each round so round r's plan does
    not replay rounds 0..r−1. Stops early when no pair repeats.
    Words longer than ``max_word_len`` chars are dropped (runaway
    tokens — URLs, DNA — would dominate the fold cost; standard
    practice). Deterministic end-to-end, so a pytest reference BPE
    reproduces the table exactly.
    """
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    wf = (
        df.select(F.explode(words_expr(F.col(text_col))).alias("w"))
        .filter((F.col("w") != "") & (F.length("w") <= max_word_len))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    # char split: substring(w, i, 1) per position
    chars = F.transform(
        F.sequence(F.lit(1), F.length("w")), lambda i: F.col("w").substr(i, F.lit(1))
    )
    words = wf.select("freq", chars.alias("sym")).transform(fresh_local_checkpoint)
    merges = []
    for r in range(n_merges):
        n = F.size("sym")
        pairs = words.select(
            "freq",
            F.explode(
                F.zip_with(
                    F.slice("sym", 1, n - 1),
                    F.slice("sym", 2, n - 1),
                    lambda a, b: F.struct(a.alias("a"), b.alias("b")),
                )
            ).alias("p"),
        )
        top = (
            pairs.groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("freq").alias("c"))
            .orderBy(F.col("c").desc(), "a", "b")
            .limit(1)
            .collect()
        )
        if not top or top[0]["c"] < 2:
            break
        a, b, c = top[0]["a"], top[0]["b"], int(top[0]["c"])
        merges.append((r, a, b, c))
        words = words.select(
            "freq", _bpe_merge_expr(F.col("sym"), a, b).alias("sym")
        ).transform(fresh_local_checkpoint)
    spark = df.sparkSession
    return spark.createDataFrame(
        merges, "rank int, left string, right string, freq long"
    )


def bpe_apply(
    df: DataFrame,
    id_col: str,
    text_col: str,
    merges,
    max_word_len: int = 32,
) -> DataFrame:
    """Tokenize with a learned BPE merge table → (id, n_words,
    n_subwords, subwords): every word is char-split and the merges
    replay IN RANK ORDER (the same greedy fold as training — parity by
    construction, both sides call ``_bpe_merge_expr``). ``merges`` is
    the trainer's output DataFrame or a [(rank, left, right)] list;
    the table is collected driver-side (it is vocabulary-small by
    definition) and compiled into one chained in-row expression — the
    application pass is map-only, zero shuffle, zero Python. Words
    longer than ``max_word_len`` pass through unsplit (mirroring the
    trainer's drop rule without losing text)."""
    if hasattr(merges, "collect"):
        rows = [(r["rank"], r["left"], r["right"]) for r in merges.collect()]
    else:
        rows = [(r[0], r[1], r[2]) for r in merges]
    rows.sort()
    ws = words_expr(F.col(text_col))
    word_sub = F.when(
        F.length(F.col("x")) <= max_word_len,
        F.transform(
            F.sequence(F.lit(1), F.length(F.col("x"))),
            lambda i: F.col("x").substr(i, F.lit(1)),
        ),
    ).otherwise(F.array(F.col("x")))
    base = df.select(
        F.col(id_col), F.posexplode(ws).alias("_wi", "x")
    ).filter(F.col("x") != "")
    sym = word_sub
    for _, a, b in rows:
        sym = _bpe_merge_expr(sym, a, b)
    per_word = base.select(id_col, "_wi", sym.alias("_sub"))
    ordered = F.array_sort(F.collect_list(F.struct("_wi", "_sub")))
    return per_word.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum(F.size("_sub")).alias("n_subwords"),
        F.flatten(F.transform(ordered, lambda e: e["_sub"])).alias("subwords"),
    )


def corpus_js(
    df: DataFrame,
    text_col: str,
    group_col: str,
    dim: int = 1024,
) -> DataFrame:
    """(group, n_tokens, js): per-group Jensen–Shannon divergence to
    the corpus — the SYMMETRIC, bounded (≤ ln 2) sibling of
    :func:`corpus_kl`: JS = ½KL(P‖M) + ½KL(Q‖M) with M = ½(P+Q) over
    the same Laplace-smoothed md5 unigram buckets. Use KL to ask "is
    this shard drawn from the corpus" (asymmetric, unbounded) and JS
    when you need a comparable 0..ln2 score across shards of wildly
    different sizes (√JS is a metric).

    Same physical shape as corpus_kl (one corpus explode → checkpointed
    (group, bucket) reduce, margins re-aggregate THAT, full group×dim
    grid in-row, dictionary broadcast); the mixture M needs no extra
    pass — it is an expression over the same (c_l, c_b) pair. ROUND 6.
    """
    from osmflat_rs_spark.operators.dedup import md5_int60

    if dim < 1:
        raise ValueError(f"dim must be >= 1, got {dim}")
    toks = words_expr(F.col(text_col))
    ex = df.select(
        F.col(group_col).alias("_g"),
        F.explode(F.transform(toks, lambda t: F.pmod(md5_int60(t), F.lit(dim)))).alias("_b"),
    )
    cl = fresh_local_checkpoint(ex.groupBy("_g", "_b").agg(F.count(F.lit(1)).alias("_cl")))
    cb = cl.groupBy("_b").agg(F.sum("_cl").alias("_cb"))
    nl = cl.groupBy("_g").agg(F.sum("_cl").alias("_nl"))
    nn = cl.agg(F.sum("_cl").alias("_n"))
    grid = nl.withColumn(
        "_b", F.explode(F.sequence(F.lit(0).cast("long"), F.lit(dim - 1).cast("long")))
    )
    j = (
        grid.join(cl, ["_g", "_b"], "left")
        .join(F.broadcast(cb), "_b", "left")
        .crossJoin(F.broadcast(nn))
        .select(
            "_g", "_nl",
            F.coalesce(F.col("_cl"), F.lit(0).cast("long")).alias("_cl"),
            F.coalesce(F.col("_cb"), F.lit(0).cast("long")).alias("_cb"),
            "_n",
        )
    )
    p = (F.col("_cl").cast("double") + 1) / (F.col("_nl").cast("double") + dim)
    q = (F.col("_cb").cast("double") + 1) / (F.col("_n").cast("double") + dim)
    m = (p + q) / 2
    term = (
        p * (F.log(p) - F.log(m)) / 2
        + q * (F.log(q) - F.log(m)) / 2
    )
    return (
        j.groupBy("_g")
        .agg(F.first("_nl").alias("n_tokens"), F.round(F.sum(term), 6).alias("js"))
        .select(F.col("_g").alias(group_col), "n_tokens", "js")
    )


def pmi_collocations(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    min_count: int = 5,
) -> DataFrame:
    """Pointwise-mutual-information collocations (Church & Hanks 1990)
    → one row per adjacent bigram with c_xy ≥ min_count: (w1, w2,
    c_xy, c_x, c_y, pmi) — the classic "which word pairs belong
    together" extractor ("new york" scores high, "of the" scores ~0)
    and the complement of :func:`bigram_logprob`: that scores DOCS by
    the corpus LM, this scores the PAIRS themselves.

    pmi = ln( p(x,y) / (p(x)·p(y)) ) with p(x,y) = c_xy/N_bi and
    p(x) = c_x/N_uni — computed as ONE pinned-order double expression
    over five exact int64 counts, ln((c_xy·N_uni·N_uni) /
    (N_bi·c_x·c_y)), so both engines evaluate the identical float
    path (ROUND 6). min_count is the standard sparsity guard (PMI of
    a 1-count pair is pure noise).

    Plan shape: bigrams in-row (two slices zipped, zero self-join),
    ONE explode shared by the bigram and unigram reduces, both
    map-side combined; the unigram table joins back twice, broadcast.
    Scalar N's ride a 1-row broadcast. Output is
    distinct-bigram-bounded (Zipf-truncated by min_count), never
    corpus-row-bounded."""
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    w = words_expr(F.col(text_col))
    n = F.size(w)
    grams = F.when(
        n >= 2,
        F.arrays_zip(
            F.slice(w, 1, n - 1).alias("w1"), F.slice(w, 2, n - 1).alias("w2")
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    bg = docs.select(F.explode(grams).alias("g")).select(
        F.col("g.w1").alias("w1"), F.col("g.w2").alias("w2")
    )
    toks = docs.select(F.explode(words_expr(F.col(text_col))).alias("tok"))
    uni = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    nuni = toks.agg(F.count(F.lit(1)).alias("n_uni"))
    bcnt = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_xy"))
    nbi = bg.agg(F.count(F.lit(1)).alias("n_bi"))
    u1 = F.broadcast(uni.select(F.col("tok").alias("w1"), F.col("c").alias("c_x")))
    u2 = F.broadcast(uni.select(F.col("tok").alias("w2"), F.col("c").alias("c_y")))
    cand = bcnt.filter(F.col("c_xy") >= min_count)
    j = (
        cand.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(nuni))
        .crossJoin(F.broadcast(nbi))
    )
    nu = F.col("n_uni").cast("double")
    pmi = F.log(
        (F.col("c_xy").cast("double") * nu * nu)
        / (F.col("n_bi").cast("double") * F.col("c_x").cast("double") * F.col("c_y").cast("double"))
    )
    return j.select(
        "w1", "w2",
        F.col("c_xy").cast("long").alias("c_xy"),
        F.col("c_x").cast("long").alias("c_x"),
        F.col("c_y").cast("long").alias("c_y"),
        F.round(pmi, 6).alias("pmi"),
    )


def gopher_rules(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    min_words: int = 50,
    max_words: int = 100_000,
    min_avg_len: int = 3,
    max_avg_len: int = 10,
    max_symbol_ratio=(1, 10),
    min_alpha_ratio=(4, 5),
    max_dup_line_ratio=(3, 10),
) -> DataFrame:
    """Gopher-style repetition/quality rule bundle (Rae et al. 2021,
    §A1.1 — the filter recipe most LLM corpus pipelines start from) →
    one row per doc: (id, n_words, and one boolean per rule +
    ``pass_all``). Rules, each INDEPENDENTLY reported so downstream
    can ablate them instead of inheriting one opaque verdict:

    - ``ok_word_count``: min_words ≤ n_words ≤ max_words;
    - ``ok_avg_word_len``: mean word length in [min_avg_len,
      max_avg_len] — decided in EXACT integer cross-multiplication
      (Σlen ≥ min·n and Σlen ≤ max·n), no float mean;
    - ``ok_symbol_ratio``: #hash-or-ellipsis symbols ≤ (num/den)·n_words;
    - ``ok_alpha_words``: words containing ≥1 alphabetic char ≥
      (num/den)·n_words;
    - ``ok_dup_lines``: duplicate (post-trim, non-empty) lines ≤
      (num/den)·#lines — the repetition rule, computed in-row from
      the line split (distinct vs total line counts).

    All ratio rules are exact rational comparisons (cross-multiplied
    int64) — no division anywhere, so every engine agrees on every
    boundary document. Pure codegen expressions over one row; zero
    shuffles, zero Python. Empty/whitespace-only docs fail
    ``ok_word_count`` (n_words counts the [''] sentinel's empty
    string as one word of length 0 — the words_expr contract — so
    min_words ≥ 1 rejects them through the length rule as intended).
    """
    for nm, (a, b) in (
        ("max_symbol_ratio", max_symbol_ratio),
        ("min_alpha_ratio", min_alpha_ratio),
        ("max_dup_line_ratio", max_dup_line_ratio),
    ):
        if not (0 <= a <= b and b > 0):
            raise ValueError(f"{nm} must be a rational in [0, 1], got {(a, b)}")
    w = words_expr(F.col(text_col))
    n = F.size(w).cast("long")
    total_len = F.aggregate(w, F.lit(0).cast("long"), lambda s, x: s + F.length(x))
    # '...' removal drops 3 chars per hit, '#' one: count hits, not chars
    n_hash = (
        F.length(F.col(text_col)) - F.length(F.regexp_replace(F.col(text_col), "#", ""))
    ).cast("long")
    n_ell = (
        (
            F.length(F.col(text_col))
            - F.length(F.regexp_replace(F.col(text_col), r"\.\.\.", ""))
        )
        / 3
    ).cast("long")
    n_alpha_words = F.size(F.filter(w, lambda x: x.rlike("[A-Za-z]"))).cast("long")
    lines = F.filter(
        F.transform(F.split(F.col(text_col), "\n"), lambda s: F.trim(s)),
        lambda s: s != "",
    )
    n_lines = F.size(lines).cast("long")
    n_dup_lines = (n_lines - F.size(F.array_distinct(lines)).cast("long")).cast("long")
    sa, sb = int(max_symbol_ratio[0]), int(max_symbol_ratio[1])
    aa, ab = int(min_alpha_ratio[0]), int(min_alpha_ratio[1])
    da, db = int(max_dup_line_ratio[0]), int(max_dup_line_ratio[1])
    ok_wc = (n >= min_words) & (n <= max_words)
    ok_awl = (total_len >= F.lit(min_avg_len) * n) & (total_len <= F.lit(max_avg_len) * n)
    ok_sym = (n_hash + n_ell) * F.lit(sb) <= n * F.lit(sa)
    ok_alpha = n_alpha_words * F.lit(ab) >= n * F.lit(aa)
    ok_dup = n_dup_lines * F.lit(db) <= n_lines * F.lit(da)
    return docs.select(
        F.col(id_col),
        n.alias("n_words"),
        ok_wc.alias("ok_word_count"),
        ok_awl.alias("ok_avg_word_len"),
        ok_sym.alias("ok_symbol_ratio"),
        ok_alpha.alias("ok_alpha_words"),
        ok_dup.alias("ok_dup_lines"),
        (ok_wc & ok_awl & ok_sym & ok_alpha & ok_dup).alias("pass_all"),
    )


def skipgram_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 2,
    subsample_t=(1, 1000),
    min_count: int = 1,
) -> DataFrame:
    """Skip-gram (center, context) pair extraction with frequency
    subsampling (Mikolov et al. 2013) → (center, context, n_pairs) —
    the word2vec/SGNS training-pair generator as a corpus operator:
    for every kept token, every neighbor within ±``window`` POSITIONS
    OF THE KEPT SEQUENCE yields a pair (the standard implementation
    subsamples FIRST, then windows over the survivors — distant words
    become neighbors when the stopwords between them drop, which is
    exactly the effect Mikolov describes).

    Subsampling is DETERMINISTIC where word2vec's is random: token w
    (corpus frequency f, corpus size N) is kept at position p iff
    md5_60(doc:p:w) / 2^60 < min(1, sqrt(t·N/f)) — the standard keep
    probability √(t/freq) with t = ``subsample_t`` (num/den), decided
    by the engine-wide hash so re-runs and the SQL oracle agree
    exactly. Tokens with corpus count < ``min_count`` drop outright.

    Scale shape: ONE explode with position feeds the count reduce;
    the keep decision joins the (word → count) table back (broadcast
    — Heaps-bounded vocab); windows re-assemble per doc via a bounded
    self-join on (doc, kept-rank distance ≤ window) — pairs amplify
    ×2·window which IS the output, not overhead."""
    if window < 1 or min_count < 1:
        raise ValueError(f"bad window/min_count: {window}, {min_count}")
    t_num, t_den = int(subsample_t[0]), int(subsample_t[1])
    if not (0 < t_num <= t_den):
        raise ValueError(f"subsample_t must be a rational in (0, 1], got {subsample_t}")
    from pyspark.sql import Window as W

    from osmflat_rs_spark.operators.dedup import md5_int60

    toks = docs.select(
        F.col(id_col).alias("_d"),
        F.posexplode(words_expr(F.col(text_col))).alias("_p", "_w"),
    )
    vocab = toks.groupBy("_w").agg(F.count(F.lit(1)).alias("_f"))
    n_tot = toks.agg(F.count(F.lit(1)).alias("_N"))
    kept = (
        toks.join(F.broadcast(vocab), "_w")
        .crossJoin(F.broadcast(n_tot))
        .filter(F.col("_f") >= min_count)
    )
    u = (
        md5_int60(
            F.concat(
                F.col("_d").cast("string"), F.lit(":"), F.col("_p").cast("string"),
                F.lit(":"), F.col("_w"),
            )
        )
        + F.lit(1)
    ).cast("double") / F.lit(2.0**60)
    keep_p = F.least(
        F.lit(1.0),
        F.sqrt(
            F.lit(float(t_num)) * F.col("_N").cast("double")
            / (F.lit(float(t_den)) * F.col("_f").cast("double"))
        ),
    )
    kept = kept.filter(u < keep_p).select(
        "_d", "_p", "_w",
        F.row_number().over(W.partitionBy("_d").orderBy("_p")).alias("_r"),
    )
    a = kept.select("_d", F.col("_r").alias("_ra"), F.col("_w").alias("center"))
    b = kept.select("_d", F.col("_r").alias("_rb"), F.col("_w").alias("context"))
    pairs = a.join(b, "_d").filter(
        (F.col("_rb") != F.col("_ra"))
        & (F.abs(F.col("_rb") - F.col("_ra")) <= window)
    )
    return pairs.groupBy("center", "context").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    )


def calibration_ece(
    df: DataFrame,
    score_fp_col: str,
    label_col: str,
    n_bins: int = 10,
    fp_scale: int = 10**6,
):
    """Reliability curve + Expected Calibration Error → one row per
    non-empty bin: (bin, n, n_pos, conf, acc, gap, ece) — "when the
    model says 0.9, is it right 90% of the time", the standard
    trustworthiness readout for any scoring model the pipeline
    produces (quality scores, langid confidences, dedup
    similarities). ECE = Σ (n_b/N)·|acc_b − conf_b| over equal-width
    score bins, repeated on every row (single-row metrics don't
    hash-join well; the per-bin rows are the useful part anyway).

    Scores arrive as FIXED-POINT integers (``score_fp_col`` ∈
    [0, fp_scale] — the engine's score producers already emit
    lattices); binning is exact integer arithmetic (bin = min(n_bins−1,
    score·n_bins div scale)), per-bin sums exact, and conf/acc/gap/ece
    are pinned-order double divisions at the end (ROUND 6). One
    map-side-combined groupBy of ≤ n_bins rows; a 1-row total
    broadcast. Out-of-range scores raise (a silent clamp would hide a
    producer bug)."""
    if n_bins < 2:
        raise ValueError(f"n_bins must be >= 2, got {n_bins}")
    sc = int(fp_scale)
    base = df.select(
        F.col(score_fp_col).cast("long").alias("_s"),
        (F.col(label_col).cast("int") > 0).cast("long").alias("_y"),
    ).filter(F.col("_s").isNotNull())
    bad = base.filter((F.col("_s") < 0) | (F.col("_s") > sc)).limit(1).count()
    if bad:
        raise ValueError(f"scores must lie in [0, {sc}]")
    bin_ = F.least(F.lit(n_bins - 1).cast("long"), F.expr(f"(_s * {n_bins}) div {sc}L"))
    g = base.groupBy(bin_.alias("bin")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("_y").alias("n_pos"),
        F.sum("_s").alias("_ss"),
    )
    # ECE in exact integers: (n_b/N)·|acc−conf| = |n_pos_b·sc − ss_b| /
    # (N·sc) — the weighted gap's numerator is an exact int64, so the
    # across-bin Σ is order-free and ece is ONE division (a float Σ of
    # per-bin weights would be summation-order-dependent cross-engine)
    tot = g.agg(
        F.sum("n").alias("_N"),
        F.sum(F.abs(F.col("n_pos") * F.lit(sc) - F.col("_ss"))).alias("_enum"),
    )
    j = g.crossJoin(F.broadcast(tot))
    conf = F.col("_ss").cast("double") / F.col("n").cast("double") / F.lit(float(sc))
    acc = F.col("n_pos").cast("double") / F.col("n").cast("double")
    gap = F.abs(acc - conf)
    ece = F.col("_enum").cast("double") / (F.col("_N") * F.lit(sc)).cast("double")
    withgap = j.select(
        "bin", "n", "n_pos",
        conf.alias("_conf"), acc.alias("_acc"), gap.alias("_gap"),
        ece.alias("_ece"),
    )
    return withgap.select(
        F.col("bin").cast("long").alias("bin"),
        F.col("n").cast("long").alias("n"),
        F.col("n_pos").cast("long").alias("n_pos"),
        F.round("_conf", 6).alias("conf"),
        F.round("_acc", 6).alias("acc"),
        F.round("_gap", 6).alias("gap"),
        F.round("_ece", 6).alias("ece"),
    )
