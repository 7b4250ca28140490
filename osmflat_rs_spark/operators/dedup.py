"""Deduplication operators for large-scale training-data pipelines.

All hot paths are JVM-side column expressions (md5/conv/regexp/array HOFs
— whole-stage-codegen'd); no Python UDFs anywhere. Hash functions are
md5-derived 60-bit ints (``conv(substr(md5(x),1,15),16,10)``) so an
external SQL engine (DuckDB oracle) can reproduce them bit-for-bit —
cross-engine determinism is part of the operator contract.

Scale notes (10^12 docs):
- exact dedup: one hash-shuffle on the digest (map-side combine free);
- minhash-LSH: signatures are per-row (no shuffle), candidate generation
  shuffles on band-hash (bounded fan-out = n_bands rows/doc), verification
  joins only candidate pairs — never all-pairs;
- banding parameters (n_hashes, n_bands) choose the jaccard recall curve:
  P(candidate) = 1 - (1 - j^(n/b))^b.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


#: The cross-engine WHITESPACE CONTRACT (r4, ADVICE r03 #8): an explicit
#: enumerated character class, because no engine's builtin ``\s`` agrees
#: with another's — Java's ``\s`` is ASCII-only, RE2's (DuckDB) is
#: ASCII-only, Python's str-``\s`` is Unicode-aware AND additionally
#: matches U+001C..1F. The contract: ASCII \t \n \x0B \f \r space, NEL
#: U+0085, LS/PS U+2028/2029, and the Zs category (U+00A0 NBSP, U+1680,
#: U+2000-200A, U+202F, U+205F, U+3000 ideographic space). ``WS_INNER``
#: is the class body (for embedding in other classes), ``WS`` the
#: bracketed class. Java and RE2 both accept this exact source text; the
#: DuckDB oracles and the Python model reference carry their own twins
#: (__spark_entry__._WS_SQL, tests' WS_PY) kept in sync by the
#: cross-engine unicode-whitespace tests.
WS_INNER = r"\t\n\x0B\f\r \x{0085}\x{00A0}\x{1680}\x{2000}-\x{200A}\x{2028}\x{2029}\x{202F}\x{205F}\x{3000}"
WS = f"[{WS_INNER}]"


def md5_int60(col) -> "F.Column":
    """Deterministic 60-bit integer hash, reproducible in ANSI SQL as
    ('0x' || substr(md5(x),1,15))::bigint."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def words_expr(text_col) -> "F.Column":
    r"""Lowercased whitespace tokenization (regexp_split_to_array analog).

    Edge whitespace is stripped BEFORE the split: ``split`` on ``\s+``
    yields '' tokens at padded string edges, which counted phantom words
    (n_words, every ratio denominator) and deflated jaccard for
    whitespace-padded near-dups (' hello world' vs 'hello world' scored
    0.667, r3 review). regexp_replace + split stays whole-stage-codegen
    (an F.filter HOF would be evaluated interpreted, the r3 MinHash
    lesson); empty/whitespace-only text still yields [''] — same as
    before, so no size()==0 division cliffs appear. The DuckDB oracles
    mirror the identical strip (same positions, same sets). Whitespace
    is the explicit ``WS`` contract class (r4): NBSP/ideographic spaces
    split tokens identically in every engine."""
    return F.split(F.regexp_replace(F.lower(text_col), f"^{WS}+|{WS}+$", ""), f"{WS}+")


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact duplicate groups by content digest → (dup_group, n_docs,
    min_doc_id). One shuffle on the digest; partial agg map-side."""
    return (
        df.select(F.md5(F.col(text_col)).alias("dup_group"), F.col(id_col))
        .groupBy("dup_group")
        .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("min_doc_id"))
        .filter(F.col("n_docs") > 1)
    )


def doc_words(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, pos, w) exploded word stream (pos 0-based)."""
    return df.select(
        F.col(id_col).alias("_id"), F.posexplode(words_expr(F.col(text_col))).alias("pos", "w")
    )


def _shingle_arr(text_col, k: int = 3):
    """In-row k-word shingle array — ZERO shuffle (contrast the r01 form:
    posexplode + lead() windows, i.e. a full shuffle+sort of every word in
    the corpus — VERDICT r01 "What's wrong" #3). Pure Catalyst HOFs
    (``transform(sequence(...))`` + ``slice`` + ``array_join``), identical
    construction expressible in the DuckDB oracle via list lambdas.
    Docs shorter than k words yield their full lowercased text."""
    ws = words_expr(text_col)
    return F.when(
        F.size(ws) >= k,
        F.transform(
            F.sequence(F.lit(0), F.size(ws) - k),
            lambda i: F.array_join(F.slice(ws, i + 1, k), " "),
        ),
    ).otherwise(F.array(F.lower(text_col)))


def shingles(df: DataFrame, id_col: str, text_col: str, k: int = 3) -> DataFrame:
    """Distinct (id, shingle) pairs (public contract; the minhash path
    skips the distinct — MIN is duplicate-insensitive)."""
    return df.select(
        F.col(id_col).alias("_id"), F.explode(_shingle_arr(F.col(text_col), k)).alias("shingle")
    ).distinct()


def minhash_hash32(col, i: int):
    """The i-th 32-bit MinHash component hash of a shingle Column: one
    md5 digest yields FOUR independent slices; seeded digests ('1:'||x)
    extend past 4. SINGLE source of truth — the batch pipeline here and
    the streaming twin (streaming/incremental.py) must stay bit-identical
    (the driver oracles assert it), so neither re-derives the scheme."""
    seed, j = divmod(i, 4)
    digest = F.md5(col) if seed == 0 else F.md5(F.concat(F.lit(f"{seed}:"), col))
    return F.conv(F.substring(digest, 1 + 8 * j, 8), 16, 10).cast("long")


def band_hash(*sig_cols):
    """LSH band hash over this band's signature components — shared by
    the batch banding and the streaming bucket keys (same parity note as
    minhash_hash32)."""
    return F.md5(F.concat_ws("_", *[c.cast("string") for c in sig_cols]))


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, n_hashes: int = 8, k: int = 3
) -> DataFrame:
    """(id, sig_0..sig_{n-1}): min over shingles of 32-bit hash slices.
    One md5 digest yields FOUR independent 32-bit hash functions (8-hex
    slices), so n_hashes costs ceil(n/4) digests per shingle instead of n
    (md5 is the dominant per-row cost at scale; 32-bit width keeps
    within-doc collision odds ~n²/2³³ — negligible for real documents).
    Seeded digests ('1:'||shingle, ...) extend past 4. One shuffle total
    (the groupBy on id — map-side partial mins collapse each doc to one
    row per partition before it). Reproducible in ANSI SQL:
    ('0x' || substr(md5(seed || shingle), j*8+1, 8))::BIGINT.

    Shingle construction (r3): ``explode(sequence) + element_at +
    concat_ws`` — whole-stage-codegen'd projections, measured 1.6x faster
    than the lambda-HOF ``transform/slice/array_join`` form
    (``_shingle_arr``, kept for the public ``shingles()`` API): Catalyst
    evaluates HOF lambdas interpreted, per element. Signatures are
    bit-identical between the two shapes (asserted in tests)."""
    ws = words_expr(F.col(text_col))
    base = df.select(
        F.col(id_col).alias("_id"), F.lower(F.col(text_col)).alias("_lt"), ws.alias("_ws")
    ).withColumn("_i", F.explode(F.sequence(F.lit(1), F.greatest(F.size("_ws") - k + 1, F.lit(1)))))
    shingle = F.when(
        F.size("_ws") >= k,
        F.concat_ws(" ", *[F.element_at("_ws", F.col("_i") + m) for m in range(k)]),
    ).otherwise(F.col("_lt"))
    sh = base.select("_id", shingle.alias("shingle"))
    # r6: single-parse SQL per signature instead of ~10 py4j expression
    # calls each (bench times plan construction); the parsed tree is the
    # exact minhash_hash32 tree (parity asserted in tests).
    def _sig_sql(i: int) -> str:
        seed, j = divmod(i, 4)
        digest = "md5(shingle)" if seed == 0 else f"md5(concat('{seed}:', shingle))"
        return f"min(cast(conv(substring({digest}, {1 + 8 * j}, 8), 16, 10) as bigint))"

    aggs = [F.expr(_sig_sql(i)).alias(f"sig_{i}") for i in range(n_hashes)]
    return sh.groupBy("_id").agg(*aggs)


def lsh_candidate_pairs(sigs: DataFrame, n_hashes: int = 8, n_bands: int = 4) -> DataFrame:
    """Distinct (id_a < id_b) pairs sharing ≥1 band — the bucket-join.
    Shuffle key = (band index, band hash); hot buckets are bounded by
    band-width choice, and the pair join never materializes non-candidates.

    Band rows are EXPLODED IN-ROW from one pass over ``sigs`` (r3: the
    old union-of-n_bands-selects shape evaluated the signature subplan
    once per band — measured 2x wall-clock on the 200k-doc dedup bench)."""
    rows_per_band = n_hashes // n_bands
    if rows_per_band * n_bands != n_hashes:
        # reject instead of silently ignoring the trailing components:
        # sig_{b*r} slicing below would use only the first r*n_bands
        # signatures, making the documented recall curve wrong and the
        # batch pipeline diverge from stream_neardup_candidates (which
        # raises for the same inputs)
        raise ValueError("n_bands must divide n_hashes")
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                band_hash(
                    *[F.col(f"sig_{b * rows_per_band + r}") for r in range(rows_per_band)]
                ).alias("bh"),
            )
            for b in range(n_bands)
        ]
    )
    allb = sigs.select("_id", F.explode(bands).alias("bk")).select(
        "_id", F.col("bk.band").alias("band"), F.col("bk.bh").alias("bh")
    )
    left = allb.select("band", "bh", F.col("_id").alias("id_a"))
    right = allb.select("band", "bh", F.col("_id").alias("id_b"))
    return (
        # SHUFFLE_HASH: AQE's broadcast choice serializes the ~n_docs x
        # n_bands band table into a single-threaded relation build on the
        # critical path (measured 350 ms at the sf0.1 gate); two tiny
        # keyed exchanges + parallel per-partition hash builds are
        # cheaper at every scale, and (band, bh) keys hash-spread evenly
        # by construction (guide §3.1).
        left.hint("SHUFFLE_HASH").join(right, ["band", "bh"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def _length_ratio_ok(threshold: float):
    """Lossless jaccard prune bound: jaccard(A,B) ≥ t ⟹ |A∩B| ≥ t·|A∪B|
    with |A∩B| ≤ min(|A|,|B|), |A∪B| ≥ max(|A|,|B|) ⟹ min/max ≥ t. The
    SAME float-division shape as the final jaccard filter (both compare a
    monotone-dominating ratio against t), so no surviving pair is ever
    dropped. Expects columns na/nb."""
    return (
        F.least(F.col("na"), F.col("nb")).cast("double")
        / F.greatest(F.col("na"), F.col("nb")).cast("double")
    ) >= F.lit(threshold)


def jaccard_for_pairs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float | None = None,
    base: DataFrame | None = None,
) -> DataFrame:
    """Exact word-set jaccard for candidate pairs → (id_a, id_b, jaccard).

    When ``threshold`` is given, pairs that cannot reach it are pruned via
    the lossless length-ratio bound (jaccard ≥ t ⟹ min(na,nb)/max(na,nb)
    ≥ t); pairs surviving the prune but below threshold are still returned
    with their jaccard (the caller applies the final filter), so the only
    rows ever dropped are provably below it.

    Shape (r3): word SETS stay IN-ROW (``array_distinct``) and the
    intersection is ``size(array_intersect(wa, wb))`` — no word-level
    explode, no per-word shuffle (the old exploded self-join was the
    dominant cost of the whole minhash pipeline: 49s of a 55s 200k-doc
    run). The corpus is semi-pruned to docs that actually appear in a
    candidate pair before carrying word arrays — at near-dup rates the
    verification input is a tiny fraction of the corpus.

    ``base``: an optional precomputed (_id, ws, n) tokenization (r6) —
    callers that already materialized word arrays (the prefix path's
    tokenize-once table) pass it to skip re-deriving them from ``df``."""
    if base is None:
        base = df.select(
            F.col(id_col).alias("_id"),
            F.array_distinct(words_expr(F.col(text_col))).alias("ws"),
        ).withColumn("n", F.size("ws").cast("long"))
    ids = (
        pairs.select(F.col("id_a").alias("_id"))
        .unionByName(pairs.select(F.col("id_b").alias("_id")))
        .distinct()
    )
    # r6: bp (the candidate-pruned corpus with word arrays) is consumed
    # twice (id_a and id_b sides) — materialize once per action, else the
    # scan + array_distinct + semi-join subtree re-plans per side. At
    # near-dup rates bp is a small fraction of the corpus by contract.
    bp = base.join(ids, "_id", "left_semi").localCheckpoint(eager=True)
    j = pairs.join(
        bp.select(F.col("_id").alias("id_a"), F.col("ws").alias("wa"), F.col("n").alias("na")),
        "id_a",
    ).join(
        bp.select(F.col("_id").alias("id_b"), F.col("ws").alias("wb"), F.col("n").alias("nb")),
        "id_b",
    )
    if threshold is not None:
        j = j.filter(_length_ratio_ok(threshold))
    inter = F.size(F.array_intersect("wa", "wb")).cast("long")
    return j.select(
        "id_a",
        "id_b",
        (inter.cast("double") / (F.col("na") + F.col("nb") - inter).cast("double")).alias("jaccard"),
    )


def minhash_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    n_hashes: int = 8,
    n_bands: int = 4,
    k: int = 3,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: shingle → minhash → band bucket
    join → exact jaccard verification ≥ threshold. The candidate step IS
    part of the operator semantics (banded recall), making the whole
    pipeline deterministic and SQL-reproducible."""
    # r6: materialize the per-doc signature table once (guide §3.3
    # "materialise an intermediate to truncate the plan"): the LSH
    # band self-join consumes it twice and the verification's candidate
    # prune re-plans the whole subtree twice more — the shingle+digest
    # aggregate (the pipeline's dominant CPU) ran 4x per action
    # (measured: two ~5 s-CPU broadcast-build stages at the sf0.1 gate,
    # 66 Exchange nodes in the plan). Signatures are one 9-long row per
    # doc — linear, the right thing to pin at any scale; localCheckpoint
    # is per-action materialization, recomputed from the inputs on every
    # fresh call.
    sigs = minhash_signatures(df, id_col, text_col, n_hashes, k).localCheckpoint(eager=True)
    cand = lsh_candidate_pairs(sigs, n_hashes, n_bands)
    jac = jaccard_for_pairs(df, cand, id_col, text_col, threshold=threshold)
    return jac.filter(F.col("jaccard") >= threshold)


def ngram_jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str, bucket_col: str, threshold: float = 0.6,
    method: str = "allpairs",
) -> DataFrame:
    """Exact word-set jaccard ≥ threshold WITHIN a bucket column (e.g.
    source/domain). Two LOSSLESS candidate-generation methods, identical
    output (parity-tested; the driver gate hash-checks both against the
    same SQL oracle):

    - ``method="prefix"`` (r5 — the scale path): PPJoin-style prefix
      filtering (Xiao et al., WWW'08 — public algorithm). Tokens get a
      global df-ascending order per bucket; a doc's PREFIX is its first
      ``n - ceil(t·n) + 1`` tokens in that order, and any pair with
      jaccard ≥ t must collide on ≥1 prefix token (if the intersection
      avoided x's prefix it would fit in the suffix: |∩| ≤ ceil(t·n)-1 <
      ceil(t·n) ≤ |∩| — contradiction). Candidates come from an
      equi-join on (bucket, prefix-token) instead of per-bucket
      all-pairs: the quadratic survives only inside true near-dup
      clusters. The price is a word-level df shuffle (linear) — the
      right trade once buckets grow past ~10^4 docs.
    - ``method="allpairs"`` (default for small buckets): per-bucket
      pair enumeration with the length-ratio prune; zero word-level
      shuffles. The per-bucket O(n²) is the declared bound; for a
      bucket whose n² is itself intractable use the prefix method or
      MinHash-LSH.

    Length-ratio prefilter (lossless): jaccard(A,B) ≥ t ⟹ |A∩B| ≥
    t·|A∪B| with |A∩B| ≤ min(|A|,|B|) and |A∪B| ≥ max(|A|,|B|), so
    min/max ≥ t. The bound is applied with the SAME float division shape
    as the final jaccard filter (both compare a monotone-dominating ratio
    against t), so no surviving pair can be dropped. It prunes BOTH the
    pair enumeration and the word-level intersection join — the hot-bucket
    quadratic only materializes length-compatible pairs.

    Shape (r3): the pair join carries the word-set ARRAYS in-row and the
    intersection is ``size(array_intersect(wa, wb))`` — the old
    word-exploded self-join (a per-(bucket, word) shuffle of the whole
    corpus) is gone; the only shuffle left is the pair join."""
    if method not in ("allpairs", "prefix"):
        raise ValueError(f"method must be 'allpairs' or 'prefix', got {method!r}")
    if method == "prefix":
        return _ngram_jaccard_prefix(df, id_col, text_col, bucket_col, threshold)
    base = df.select(
        F.col(id_col).alias("_id"),
        F.col(bucket_col).alias("_bk"),
        F.array_distinct(words_expr(F.col(text_col))).alias("ws"),
    ).withColumn("n", F.size("ws").cast("long"))
    ratio_ok = _length_ratio_ok(threshold)

    a = base.select(
        F.col("_bk"), F.col("_id").alias("id_a"), F.col("n").alias("na"), F.col("ws").alias("wa")
    )
    b = base.select(
        F.col("_bk"), F.col("_id").alias("id_b"), F.col("n").alias("nb"), F.col("ws").alias("wb")
    )
    inter = F.size(F.array_intersect("wa", "wb")).cast("long")
    return (
        a.join(b, "_bk")
        .filter((F.col("id_a") < F.col("id_b")) & ratio_ok)
        .select(
            "id_a",
            "id_b",
            (inter.cast("double") / (F.col("na") + F.col("nb") - inter).cast("double")).alias(
                "jaccard"
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def _ngram_jaccard_prefix(
    df: DataFrame, id_col: str, text_col: str, bucket_col: str, threshold: float
) -> DataFrame:
    """Prefix-filtered exact jaccard (see ``ngram_jaccard_pairs``).

    The ceil in the prefix length is computed as ``ceil(t·n − 1e-9)``:
    float error must never ROUND UP past the true rational ceil — an
    over-estimate would shorten the prefix and silently DROP qualifying
    pairs (lossy), while the nudge's occasional under-estimate only
    lengthens the prefix (more candidates, still lossless). Verification
    reuses ``jaccard_for_pairs`` (in-row array_intersect over the
    semi-pruned corpus), so the final values are bit-identical to the
    all-pairs form."""
    from pyspark.sql import Window

    # r6: tokenize ONCE, distributed. The corpus parquet is few/single
    # splits at bench scale, and a Project sits below a repartition where
    # it was written — so word-array computation ran on the scan task
    # (0.7 s serial, twice). Spreading the RAW text first, projecting
    # after the exchange, and eagerly checkpointing gives one distributed
    # tokenization that every consumer (toks, dfreq, prefix ranks, and
    # the verification's word arrays) shares — the tokenize-once table,
    # linear in the corpus.
    n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    base = (
        df.select(
            F.col(id_col).alias("_id"),
            F.col(bucket_col).alias("_bk"),
            F.col(text_col).alias("_tx"),
        )
        .repartition(n_part, "_id")
        .select(
            "_id",
            "_bk",
            F.array_distinct(words_expr(F.col("_tx"))).alias("ws"),
        )
        .withColumn("n", F.size("ws").cast("long"))
        .localCheckpoint(eager=True)
    )
    toks = base.select("_id", "_bk", "n", F.explode("ws").alias("w"))
    dfreq = toks.groupBy("_bk", "w").agg(F.count("*").alias("_df"))
    # per-doc token rank in the bucket's df-ascending order (ties by
    # token text — any consistent total order preserves the guarantee)
    w_doc = Window.partitionBy("_id").orderBy(F.col("_df").asc(), F.col("w").asc())
    prefix_len = F.col("n") - F.ceil(F.col("n") * F.lit(threshold) - F.lit(1e-9)) + 1
    # r6: (a) explicit keyed fan-out before the per-doc window — AQE
    # sized its exchange on ~1 MB of token bytes and ran it on ONE task
    # (1.4 s serial); HashPartitioning(_id) satisfies the window
    # clustering so this is the stage's only exchange. (b) eager
    # localCheckpoint: pref is consumed by BOTH join sides (pa, pb) and
    # again via the verification's semi-prune — un-materialized, the
    # whole scan→explode→df-join→window subtree re-planned FOUR times
    # (8 parquet scans in the before-plan). pref is the prefix-token
    # table, a bounded fraction of the corpus — the linear "decision"
    # table of guide §8; per-action materialization, recomputed per call.
    pref = (
        toks.join(dfreq, ["_bk", "w"])
        .repartition(n_part, "_id")
        .withColumn("_rn", F.row_number().over(w_doc))
        .filter(F.col("_rn") <= prefix_len)
        .localCheckpoint(eager=True)
    )
    pa = pref.select("_bk", "w", F.col("_id").alias("id_a"), F.col("n").alias("na"))
    pb = pref.select("_bk", "w", F.col("_id").alias("id_b"), F.col("n").alias("nb"))
    # explicit keyed fan-out (r6): candidate pairs are tiny in BYTES but
    # carry the whole verification CPU downstream — AQE sized the
    # distinct's exchange on ~1 MB of pair bytes and coalesced it to 1-2
    # tasks, serializing ~7 s of array_intersect verification at the
    # sf0.1 gate (10.4 s wall → 2.9 s). The user-specified count is
    # immune to coalescing, HashPartitioning(id_a, id_b) satisfies the
    # distinct clustering (no second exchange), and the broadcast verify
    # joins inherit the same spread (guide §2.5 — CPU-dense small
    # shuffles must not be sized by bytes).
    cand = (
        pa.join(pb, ["_bk", "w"])
        .filter((F.col("id_a") < F.col("id_b")) & _length_ratio_ok(threshold))
        .select("id_a", "id_b")
        .repartition(n_part, "id_a", "id_b")
        .distinct()
        .localCheckpoint(eager=True)
    )
    return jaccard_for_pairs(
        df, cand, id_col, text_col, threshold=threshold, base=base.drop("_bk")
    ).filter(
        F.col("jaccard") >= threshold
    )


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 16) -> DataFrame:
    """Per-doc SimHash over distinct words: bit j set iff the signed vote
    Σ ±1 (sign = word-hash bit j) is positive. Pure column arithmetic."""
    # ONE exchange (r6): hash-partition by _id up front — partitioning by
    # a SUBSET of the distinct key satisfies the (_id, w) clustering, and
    # the vote groupBy(_id) then needs no shuffle either. The old shape
    # paid two exchanges and AQE coalesced the second (1 MB of votes)
    # onto a single task that serialized the 16-sum aggregate (guide
    # §2.4; the explicit count follows spark.sql.shuffle.partitions).
    n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    ws = (
        doc_words(df, id_col, text_col)
        .select("_id", "w")
        .repartition(n_part, "_id")
        .distinct()
        .withColumn("h", md5_int60(F.col("w")))
    )
    votes = ws.groupBy("_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"v{j}")
            for j in range(bits)
        ]
    )
    sh = F.lit(0).cast("long")
    for j in range(bits):
        sh = sh + F.when(F.col(f"v{j}") > 0, F.lit(1 << j).cast("long")).otherwise(F.lit(0).cast("long"))
    return votes.select(F.col("_id"), sh.alias("simhash"))


def embedding_cosine_pairs(
    df: DataFrame, id_col: str, vec_col: str, bucket_col: str, threshold: float = 0.9,
) -> DataFrame:
    """Near-dup pairs by cosine similarity within a bucket (blocking key).
    Dot products via aggregate/zip_with HOFs — JVM-side, sequential fold
    (deterministic float order).

    Scale note: within a bucket this is exact all-pairs (O(n²) per
    bucket — that IS the operator's semantics; unlike jaccard there is no
    lossless norm-based prefilter for cosine of arbitrary-sign vectors,
    and an SRP pre-bucket would make the result approximate). For hot
    buckets pick a finer ``bucket_col``, or route through
    ``embedding_neardup_srp`` / ``ann.srp_bucketed_topk`` when
    approximate recall is acceptable."""
    v = df.select(
        F.col(id_col).alias("_id"),
        F.col(bucket_col).alias("_bk"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).withColumn("norm", F.sqrt(F.aggregate(F.zip_with("v", "v", lambda a, b: a * b), F.lit(0.0), lambda s, x: s + x)))
    a = v.select("_bk", F.col("_id").alias("id_a"), F.col("v").alias("va"), F.col("norm").alias("na"))
    b = v.select("_bk", F.col("_id").alias("id_b"), F.col("v").alias("vb"), F.col("norm").alias("nb"))
    return (
        a.join(b, "_bk")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cosine",
            # zero-norm guard: one all-zero embedding in a bucket would
            # ANSI-DIVIDE_BY_ZERO the whole dedup job; cosine is
            # undefined there and such rows can never be near-dups, so
            # they score NULL and fall out at the threshold filter
            F.when(
                (F.col("na") > 0) & (F.col("nb") > 0),
                F.aggregate(F.zip_with("va", "vb", lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x)
                / (F.col("na") * F.col("nb")),
            ),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def embedding_neardup_srp(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.9,
    n_planes: int = 6,
    n_tables: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Global cosine near-dup pairs WITHOUT a semantic blocking key: SRP
    (signed-random-projection) LSH buckets generate candidates, exact
    cosine verifies them — the scale escape the all-pairs form's
    docstring promises (``embedding_cosine_pairs``: "route through SRP
    when approximate recall is acceptable").

    Semantics: APPROXIMATE RECALL, EXACT PRECISION. Every emitted pair
    really has cosine ≥ threshold (candidates are re-scored with the
    exact kernel), so the output is always a SUBSET of the exact global
    all-pairs result; a pair is missed only if its two vectors share no
    (table, bucket) across all ``n_tables`` tables. For pairs at
    cosine = t the per-table collision prob is q^n_planes with
    q = 1 − arccos(t)/π (t=0.9 → q≈0.857, miss ≈ 1.8% at 6×8 defaults);
    recall rises toward 1 above the threshold. Hyperplanes are the same
    deterministic md5-derived ±1 weights as ``ann.srp_bucketed_topk`` —
    recall on a fixed corpus is a CONSTANT, not a random draw, which is
    what lets a correctness gate pin it.

    Scale shape (10^12 vectors): the bucketing pass is per-row column
    arithmetic (no shuffle); the candidate self-join shuffles ONLY
    (bucket_id, doc_id) rows — n_tables rows per doc, never the float
    vectors; the verify join rejoins vectors by id for candidate pairs
    only. Nothing is all-pairs at corpus level; hot SRP buckets (dense
    regions) bound the per-bucket quadratic exactly like the jaccard
    banding does, and finer n_planes splits them.

    Bucketing is ``ann.srp_bucket_ids`` (one NumPy matmul per Arrow
    batch); a NULL vector has no buckets, so it pairs with nothing.

    Reference parity note: the reference has no embedding operators —
    this extends the training-data-pipeline surface (SURVEY §2.8)."""
    from osmflat_rs_spark.operators.ann import _dot, srp_bucket_ids

    v = df.select(
        F.col(id_col).alias("_id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    bk = v.withColumn("bk", F.explode(srp_bucket_ids(F.col("v"), n_planes, n_tables, dim))).select(
        "_id", "bk"
    )
    cand = (
        bk.alias("a")
        .join(bk.alias("b"), F.col("a.bk") == F.col("b.bk"))
        .filter(F.col("a._id") < F.col("b._id"))
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )
    # verify kernel: norms precomputed ONCE per vector (the
    # embedding_cosine_pairs discipline) so each candidate pair pays one
    # zip_with dot instead of three — `sqrt(aa)·sqrt(bb)` here is
    # bit-identical to _with_cosine's denom (same two sqrts, same
    # product, same division; `na·nb > 0` ⟺ `denom > 0`), it is just
    # not re-derived per pair (r6: the 3-dot HOF tree dominated the
    # 1.6M-candidate verify at the 3-plane bench point)
    vn = v.withColumn("n", F.sqrt(_dot(F.col("v"), F.col("v"))))
    pairs = (
        cand.join(
            vn.select(F.col("_id").alias("id_a"), F.col("v").alias("va"), F.col("n").alias("na")),
            "id_a",
        )
        .join(
            vn.select(F.col("_id").alias("id_b"), F.col("v").alias("vb"), F.col("n").alias("nb")),
            "id_b",
        )
    )
    return (
        pairs.withColumn(
            "cosine",
            F.when(
                F.col("na") * F.col("nb") > 0,
                _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")),
            ),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def duplicate_passage_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document duplicated PASSAGE extraction: maximal word spans
    covered by exact k-gram matches that occur in ≥ ``min_docs`` distinct
    documents (the ExactSubstr operation of Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better" — public
    algorithm; that paper's suffix-array formulation is replaced by a
    relational one that shuffles hashes, not text). Reference analog: the
    same explode → group → re-join shape as the tag-dedup pass
    (osmflatc/src/osmpbf/mod.rs tag dedup), applied to word grams.

    Physical shape, in scale order:
      1. grams are built IN-ROW (``transform(sequence)`` + ``slice`` +
         ``array_join`` — whole-stage codegen, zero shuffle) and
         immediately reduced to a 60-bit md5 slice, so no wide exchange
         ever carries gram TEXT — only (hash, doc, pos) longs.
      2. duplicated-gram detection is one groupBy on the gram hash with
         map-side partial aggregation; at 10^12 grams this is the one
         big (but narrow-row) exchange.
      3. occurrence recovery is a shuffle hash SEMI join of the gram
         stream against the duplicated-hash set on the same key (no
         broadcast assumption: the dup set is corpus-sized in the worst
         case). The gram stream is recomputed rather than cached —
         in-row codegen re-derivation is cheaper than materializing
         O(corpus) state, the same trade minhash_signatures makes.
      4. span assembly is the classic interval-merge: per doc, order the
         surviving positions, open a new run when a position clears the
         running max span end by more than one word, then min/max per
         run. One narrow shuffle on doc id.

    The 60-bit hash identifies grams (2^-60 pair-collision rate, same
    contract as minhash_hash32); a collision can only WIDEN a span by
    one false gram, never drop one. Docs shorter than k words carry no
    grams and are absent from the output.

    Returns (id_col, span_start, span_end, n_words, n_grams): word
    positions are 0-based inclusive over the words_expr tokenization,
    n_words = span_end - span_start + 1, n_grams = k-gram occurrences
    merged into the span.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if min_docs < 2:
        raise ValueError(f"min_docs must be >= 2, got {min_docs}")
    ws = words_expr(F.col(text_col))
    gram_arr = F.transform(
        F.sequence(F.lit(0), F.size(ws) - k),
        lambda i: F.array_join(F.slice(ws, i + 1, k), " "),
    )
    grams = (
        df.filter(F.size(ws) >= k)
        .select(F.col(id_col).alias("_id"), F.posexplode(gram_arr).alias("pos", "gram"))
        .select("_id", "pos", md5_int60(F.col("gram")).alias("h"))
    )
    dup = (
        grams.groupBy("h")
        .agg(F.countDistinct("_id").alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("h")
    )
    occ = grams.join(dup, "h", "left_semi").select("_id", "pos")
    w = Window.partitionBy("_id").orderBy("pos")
    prev_end = F.max(F.col("pos") + (k - 1)).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    runs = occ.withColumn(
        "new_run",
        (prev_end.isNull() | (F.col("pos") > prev_end + 1)).cast("int"),
    ).withColumn(
        "run", F.sum("new_run").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        runs.groupBy("_id", "run")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + (k - 1)).alias("span_end"),
            (F.max("pos") + k - F.min("pos")).alias("n_words"),
            F.count("*").alias("n_grams"),
        )
        .select(
            F.col("_id").alias(id_col),
            "span_start",
            "span_end",
            "n_words",
            "n_grams",
        )
    )


def edit_distance_join(
    df: DataFrame,
    id_col: str,
    str_col: str,
    max_dist: int,
    method: str = "band",
    q: int = 3,
) -> DataFrame:
    """Blocked edit-distance self-join → (id_a, id_b, dist): unordered
    pairs whose strings are within Levenshtein ``max_dist`` (id_a <
    id_b) — the fuzzy-key dedup family member (near-identical titles /
    URLs / prefixes) complementing the token-set operators (MinHash,
    jaccard) which are blind to character-level edits.

    Scale shape — LENGTH-BAND blocking: |len(a) − len(b)| ≤ d is a
    necessary condition for distance ≤ d, so rows bucket by
    ⌊len/(d+1)⌋ and each row PROBES its own and the next bucket (band
    width > d ⇒ qualifying pairs always land in same-or-adjacent
    buckets — lossless). One equi-join on the bucket key, the exact
    length filter + pair canonicalization + dropDuplicates BEFORE the
    expensive verify, then ONE ``levenshtein(a, b, threshold)`` call
    per surviving candidate (Spark's thresholded form early-exits the
    DP at band ``d`` — O(d·min(la,lb)) instead of O(la·lb) — and
    returns −1 above it, giving filter and output distance from the
    same evaluation). All JVM codegen, no Python.

    Contract: distance is unit-cost Levenshtein over characters;
    cross-engine parity is pinned for ASCII/BMP text (engines disagree
    on surrogate-pair counting). Within-bucket quadratics are bounded
    by the caller's length distribution — a corpus where most strings
    share one length band degrades to the documented per-bucket
    all-pairs (same declared trade as ngram_jaccard_pairs).
    """
    if max_dist < 0:
        raise ValueError(f"max_dist must be >= 0, got {max_dist}")
    if method not in ("band", "qgram"):
        raise ValueError(f"method must be 'band' or 'qgram', got {method!r}")
    if q < 1:
        raise ValueError(f"q must be >= 1, got {q}")
    prepared = df.select(
        F.col(id_col).alias("_id"),
        F.col(str_col).alias("_s"),
        F.length(F.col(str_col)).alias("_ln"),
    )
    if method == "qgram":
        return _editdist_qgram(prepared, max_dist, q)
    return _editdist_band(prepared, max_dist)


def _editdist_band(prepared: DataFrame, max_dist: int) -> DataFrame:
    """The length-band candidate scheme of ``edit_distance_join`` over a
    prepared (_id, _s, _ln) frame (shared by method='band' and the
    qgram path's short-string subset)."""
    w = max_dist + 1
    s = prepared.withColumn("_home", F.expr(f"_ln div {w}"))
    probe = s.withColumn(
        "_bkt", F.explode(F.array(F.col("_home"), F.col("_home") + 1))
    ).select(F.col("_id").alias("_ida"), F.col("_s").alias("_sa"),
             F.col("_ln").alias("_la"), "_bkt")
    home = s.select(F.col("_id").alias("_idb"), F.col("_s").alias("_sb"),
                    F.col("_ln").alias("_lb"), F.col("_home").alias("_bkt"))
    cand = (
        probe.join(home, "_bkt")
        .filter(F.col("_ida") != F.col("_idb"))
        .filter(F.abs(F.col("_la") - F.col("_lb")) <= max_dist)
        .select(
            F.least("_ida", "_idb").alias("id_a"),
            F.greatest("_ida", "_idb").alias("id_b"),
            F.when(F.col("_ida") < F.col("_idb"), F.col("_sa")).otherwise(F.col("_sb")).alias("_x"),
            F.when(F.col("_ida") < F.col("_idb"), F.col("_sb")).otherwise(F.col("_sa")).alias("_y"),
        )
        # explicit keyed fan-out (guide §2.5): the banded-DP verify
        # downstream is CPU-dense — AQE would size this exchange on
        # bytes and run the levenshtein pass on half the cores
        .repartition(
            int(prepared.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")),
            "id_a",
            "id_b",
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    d = F.levenshtein(F.col("_x"), F.col("_y"), max_dist)
    return (
        cand.withColumn("dist", d)
        .filter(F.col("dist") >= 0)
        .select("id_a", "id_b", F.col("dist").cast("long").alias("dist"))
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bucket_col: str,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact word-set CONTAINMENT ≥ threshold within a bucket →
    ORDERED pairs (id_a, id_b, containment) where containment =
    |A∩B| / |A| — "a's vocabulary is inside b" — the asymmetric dedup
    signal symmetric jaccard structurally misses: a snippet quoted
    whole inside a long page scores jaccard |A|/|B| ≈ 0 but containment
    1.0 (the Broder 1997 resemblance-vs-containment distinction; the
    subset-duplication case in training-data dedup).

    Same physical shape as ``ngram_jaccard_pairs(method='allpairs')``:
    in-row distinct word sets, per-bucket pair join carrying the arrays
    (no word-level corpus shuffle), one ``array_intersect`` per
    surviving candidate.
    LOSSLESS prune before the intersect: |A∩B| ≤ min(|A|,|B|), so
    containment ≤ min(na,nb)/na — the bound is applied with the SAME
    float division shape as the final filter, so no qualifying pair is
    dropped (the jaccard operator's prune argument, asymmetric form).
    Ordered output: each (a≠b) pair meets exactly once per direction;
    expect both (a,b) and (b,a) when the sets are near-equal.
    Per-bucket O(n²) is the declared bound — same trade as the jaccard
    all-pairs form; route giant buckets through MinHash-LSH first.
    """
    base = df.select(
        F.col(id_col).alias("_id"),
        F.col(bucket_col).alias("_bk"),
        F.array_distinct(words_expr(F.col(text_col))).alias("ws"),
    ).withColumn("n", F.size("ws").cast("long"))
    a = base.select(
        F.col("_bk"), F.col("_id").alias("id_a"), F.col("n").alias("na"), F.col("ws").alias("wa")
    )
    b = base.select(
        F.col("_bk"), F.col("_id").alias("id_b"), F.col("n").alias("nb"), F.col("ws").alias("wb")
    )
    prune_ok = (
        F.least(F.col("na"), F.col("nb")).cast("double") / F.col("na").cast("double")
        >= F.lit(threshold)
    )
    inter = F.size(F.array_intersect("wa", "wb")).cast("long")
    return (
        a.join(b, "_bk")
        .filter((F.col("id_a") != F.col("id_b")) & prune_ok)
        .select(
            "id_a",
            "id_b",
            (inter.cast("double") / F.col("na").cast("double")).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


def hamming_neardup_pairs(
    df: DataFrame,
    id_col: str,
    hash_col: str,
    bits: int,
    max_hamming: int = 3,
    n_blocks: int | None = None,
) -> DataFrame:
    """All unordered pairs whose ``bits``-wide integer fingerprints are
    within Hamming distance ``max_hamming`` → (id_a, id_b, hamming).
    The generic second half of every fingerprint dedup: SimHash values
    (``simhash``), image dHash/pHash (``multimodal.dhash_images``) —
    any per-row bit signature.

    Scale shape — Manku et al.'s (WWW'07 simhash dedup) block-combination
    multi-index: split the word into B = ``n_blocks`` bit-blocks (the
    last absorbs the remainder); distance ≤ k corrupts at most k blocks,
    so for every qualifying pair some (B−k)-combination of blocks is
    fully intact. Key every combination — C(B, k) tables, each keyed on
    the hash masked to that combination's bits — and candidates come
    from ONE equi-join on (combination, key): LOSSLESS, never all-pairs.
    The default B = k+1 makes each combination a single block (classic
    pigeonhole banding). Exactly-once with NO dedup shuffle: a pair is
    owned by its FIRST intact combination — the join row on combination
    c survives only if ``(a XOR b) & M_c' != 0`` for every c' < c, M_c'
    being that combination's bit mask — and orientation by ``id_a <
    id_b``. Verification is one ``bit_count(a XOR b)`` per surviving
    candidate — JVM codegen, reproducible in SQL (the gate's DuckDB
    oracle). Masks are plain int64 bit patterns, so 64-bit hashes with
    the sign bit set key correctly and no key can overflow.

    **Corpus-size regime — pick B.** k+1 banding keys on bits/(k+1)-wide
    values (16 bits at 64/k=3), so ACCIDENTAL candidate density grows
    ~n²·(k+1)/2^(bits/(k+1)) — fine to ~10^5 rows, a birthday blowup at
    10^7 (measured: 4M random hashes did not finish where B=6 takes
    seconds). A larger B trades table fan-out (C(B,k)× explode) for key
    width bits·(B−k)/B: B=6, k=3 → 20 tables × ~32-bit keys → density
    n²·20/2^32. The right B depends on the corpus size, which the join
    cannot know without an extra job, so the caller sets it.

    Per-key candidate density is the skew surface (a zero-image dHash
    cluster is the classic hot value) — AQE skew split plus the
    verify's cheapness bound it; the within-cluster quadratic is
    genuine duplication, the thing being found.
    """
    import itertools

    if bits < 1 or bits > 64:
        raise ValueError(f"bits must be in [1, 64], got {bits}")
    k = max_hamming
    if not (0 <= k < bits):
        raise ValueError(f"max_hamming must be in [0, bits), got {k}")
    nb = k + 1 if n_blocks is None else n_blocks
    if nb <= k:
        raise ValueError(f"n_blocks must exceed max_hamming, got {nb} <= {k}")
    if nb > bits:
        raise ValueError(f"n_blocks={nb} exceeds bits={bits}")
    w = bits // nb
    widths = [w] * (nb - 1) + [bits - w * (nb - 1)]

    def signed(u):  # unsigned 64-bit pattern -> the int64 literal Spark holds
        return u - (1 << 64) if u >= 1 << 63 else u

    masks = [
        F.lit(signed(sum(((1 << widths[j]) - 1) << (w * j) for j in combo))).cast("long")
        for combo in itertools.combinations(range(nb), nb - k)
    ]
    base = df.select(F.col(id_col).alias("_id"), F.col(hash_col).cast("long").alias("_h"))
    tables = F.posexplode(F.array(*masks)).alias("_c", "_m")

    def side(id_alias, h_alias):
        return base.select(
            F.col("_id").alias(id_alias), F.col("_h").alias(h_alias), tables
        ).select(id_alias, h_alias, "_c", F.col(h_alias).bitwiseAND(F.col("_m")).alias("_kv"))

    x = F.col("_ha").bitwiseXOR(F.col("_hb"))
    # first-intact ownership: every combination below _c must differ
    own = F.lit(True)
    for c, m in enumerate(masks[:-1]):
        own = own & ((F.col("_c") <= c) | (x.bitwiseAND(m) != 0))
    return (
        side("id_a", "_ha")
        .join(side("id_b", "_hb").hint("shuffle_hash"), ["_c", "_kv"])
        .filter((F.col("id_a") < F.col("id_b")) & own)
        .withColumn("hamming", F.bit_count(x).cast("long"))
        .filter(F.col("hamming") <= k)
        .select("id_a", "id_b", "hamming")
    )


def _editdist_qgram(prepared: DataFrame, max_dist: int, q: int) -> DataFrame:
    """Ed-Join-style q-gram prefix filtering (Xiao et al., VLDB'08 —
    the published scale path for edit-distance joins; the length band
    alone degrades to per-bucket all-pairs whenever the corpus shares
    few lengths, measured in BENCH/BASELINE.md "Round 5 (continuation
    2b): fingerprint-join scale paths").

    Count-filter foundation: one edit changes at most ``q`` of a
    string's positional q-gram SLOTS, so ED(a,b) ≤ d ⇒ the gram BAG
    difference |Ga \\ Gb| ≤ q·d. Bags are realized as occurrence-
    indexed elements (gram, occ) — bag intersection ≡ Σ min(counts),
    insensitive to which occurrence shifted, so the bound survives
    occurrence renumbering. Prefix theorem (the jaccard prefix
    operator's lemma, applied with pair overlap bound o =
    max(la,lb) − q + 1 − q·d): both strings' (q·d+1)-prefixes in one
    global (df asc, element) order must share an element — candidates
    come from ONE equi-join on prefix elements, LOSSLESS, never
    all-pairs; the within-cluster quadratic survives only among true
    near-dups.

    The overlap bound is only ≥ 1 when max(la,lb) ≥ q + q·d — shorter
    pairs may legitimately share NO gram (e.g. q=3, d=2: "abcde" vs
    two-substitution "axcye" have disjoint gram sets), so every pair
    whose LONGER member is ≤ q−1+q·d routes through the length-band
    scheme (a short-string subset whose band join is tiny), and the
    qgram path keeps only pairs with greatest(len) ≥ q+q·d — disjoint
    and complete (then min ≥ max−d ≥ q, both sides own grams, and
    o ≥ 1 makes the prefix join lossless). Verification is
    the same ONE thresholded ``levenshtein`` as the band path —
    identical outputs, parity-tested.
    """
    from pyspark.sql import Window

    d = max_dist
    cut = q - 1 + q * d  # below this, the count filter gives no guarantee
    short_pairs = _editdist_band(prepared.filter(F.col("_ln") <= cut), d)

    longs = prepared.filter(F.col("_ln") >= q)
    grams = longs.withColumn(
        "_i", F.explode(F.sequence(F.lit(1), F.col("_ln") - q + 1))
    ).select("_id", "_s", "_ln", F.substring(F.col("_s"), F.col("_i"), q).alias("_g"), "_i")
    w_occ = Window.partitionBy("_id", "_g").orderBy("_i")
    elems = grams.withColumn("_occ", F.row_number().over(w_occ))
    dfreq = elems.groupBy("_g", "_occ").agg(F.count(F.lit(1)).alias("_df"))
    w_doc = Window.partitionBy("_id").orderBy(
        F.col("_df").asc(), F.col("_g").asc(), F.col("_occ").asc()
    )
    pref = (
        elems.join(dfreq, ["_g", "_occ"])
        .withColumn("_rn", F.row_number().over(w_doc))
        .filter(F.col("_rn") <= q * d + 1)
    )
    pa = pref.select(
        "_g", "_occ", F.col("_id").alias("_ida"), F.col("_s").alias("_sa"),
        F.col("_ln").alias("_la"),
    )
    pb = pref.select(
        "_g", "_occ", F.col("_id").alias("_idb"), F.col("_s").alias("_sb"),
        F.col("_ln").alias("_lb"),
    )
    cand = (
        pa.join(pb, ["_g", "_occ"])
        .filter(F.col("_ida") < F.col("_idb"))
        .filter(F.abs(F.col("_la") - F.col("_lb")) <= d)
        .filter(F.greatest(F.col("_la"), F.col("_lb")) > cut)
        .select(
            F.col("_ida").alias("id_a"),
            F.col("_idb").alias("id_b"),
            F.col("_sa").alias("_x"),
            F.col("_sb").alias("_y"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    dist = F.levenshtein(F.col("_x"), F.col("_y"), d)
    long_pairs = (
        cand.withColumn("dist", dist)
        .filter(F.col("dist") >= 0)
        .select("id_a", "id_b", F.col("dist").cast("long").alias("dist"))
    )
    return short_pairs.unionByName(long_pairs)


def retain_best(
    scored: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "score",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Near-dup retain-best: given EVERY document with a quality score
    and the near-dup pair graph, pick one survivor per duplicate cluster
    — the highest-score member, ties to the LOWEST id (deterministic) —
    and keep every singleton. This is the selection step real pipelines
    run after MinHash clustering: drop the dups but keep the *best*
    copy, not an arbitrary one (``dedup_cluster_representatives`` keeps
    the min-id copy; this keeps the max-quality copy).

    -> (id, component, score, keep): all input docs, their duplicate
    component (own id when unpaired), and the keep decision.

    Scale shape: components come from graph.connected_components over
    the pair graph only — the corpus never enters it; the corpus-wide
    work is one left join onto the (node, component) table and ONE
    map-side-combined aggregate per component computing
    max(struct(score, -id)) — the argmax is a 16-byte partial, never a
    per-group collect, and the keep-mark rejoin shares the component key with the aggregate so AQE
    reuses the exchange. Scores compare as their column type — use an
    integer score for a bit-stable contract (float NaN sorts above all
    values in Spark but below in some engines; the oracle gate uses a
    BIGINT token count for exactly this reason).
    """
    from osmflat_rs_spark.operators.graph import connected_components

    cc = connected_components(pairs, src=id_a, dst=id_b)
    m = (
        scored.select(F.col(id_col), F.col(score_col).alias("_score"))
        .join(cc, scored[id_col] == cc["node"], "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("component"), F.col(id_col)).alias("component"),
            F.col("_score"),
        )
    )
    best = m.groupBy("component").agg(
        F.max(F.struct(F.col("_score"), (-F.col(id_col)).alias("_nid"))).alias("_b")
    )
    return (
        m.join(best, "component")
        .select(
            F.col(id_col),
            "component",
            F.col("_score").alias("score"),
            (
                (F.col("_score") == F.col("_b")["_score"])
                & (F.col(id_col) == -F.col("_b")["_nid"])
            ).alias("keep"),
        )
    )


def cluster_safe_split(
    df: DataFrame,
    id_col: str,
    pairs: DataFrame,
    test_pct: int = 10,
    val_pct: int = 10,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """(id, cluster, split): leakage-safe train/val/test assignment —
    the split is a deterministic hash of the document's NEAR-DUP
    CLUSTER, not of the document, so no two near-duplicates ever land
    on opposite sides of a train/eval boundary (the contamination mode
    train-test splits by doc id silently create; cf. the dedup papers'
    motivation — Lee et al. 2022 measure eval inflation from exactly
    these cross-split duplicates).

    Composition, not a new kernel: components come from
    ``graph.connected_components`` over the near-dup pair graph (the
    PAIRED subset only); unpaired docs are their own singleton cluster
    via LEFT JOIN + COALESCE (the retain_best shape). The bucket is
    ``md5_int60('split:' || cluster) mod 100`` — the engine's portable
    hash family, so the SQL oracle reproduces every assignment and the
    split is stable across runs, partitionings, and engines. Corpus
    touched once (one id-keyed equi-join against the component map);
    thresholds are integer percents, raising unless
    0 <= test+val <= 100.
    """
    from osmflat_rs_spark.operators.graph import connected_components

    if not (0 <= test_pct and 0 <= val_pct and test_pct + val_pct <= 100):
        raise ValueError(f"bad split percents: test={test_pct}, val={val_pct}")
    cc = connected_components(pairs, src=id_a, dst=id_b)
    j = df.select(F.col(id_col)).join(cc, df[id_col] == cc["node"], "left")
    cluster = F.coalesce(F.col("component"), df[id_col]).alias("cluster")
    out = j.select(df[id_col], cluster)
    bucket = F.pmod(
        md5_int60(F.concat(F.lit("split:"), F.col("cluster").cast("string"))),
        F.lit(100),
    )
    return out.select(
        id_col,
        "cluster",
        F.when(bucket < test_pct, "test")
        .when(bucket < test_pct + val_pct, "val")
        .otherwise("train")
        .alias("split"),
    )
