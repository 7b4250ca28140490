"""Dedup / text / ANN / multimodal operator tests against independent
pandas oracles (small inputs, exact or property checks)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from osmflat_rs_spark.operators import ann, dedup, multimodal, textops

# Python-re twin of the engine's whitespace contract class (dedup.WS):
# explicit enumeration — python's builtin \s is Unicode-wide PLUS
# U+001C..1F, so it cannot serve as the reference either
WS_PY = "[\t\n\x0b\f\r \u0085\u00a0\u1680\u2000-\u200a\u2028\u2029\u202f\u205f\u3000]"

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog", "a"),
    (2, "the quick brown fox jumps over the lazy cat", "a"),
    (3, "completely different words entirely here now", "a"),
    (4, "the quick brown fox jumps over the lazy dog", "b"),  # exact dup of 1
    (5, "der schnelle braune fuchs und der hund", "b"),
    (6, "le chat est sur la table et le chien", "b"),
]


@pytest.fixture(scope="module")
def small_docs_df(spark):
    return spark.createDataFrame(DOCS, schema="doc_id long, text string, src string")


def test_exact_dedup(small_docs_df):
    got = dedup.exact_dedup(small_docs_df, "doc_id", "text").collect()
    assert len(got) == 1
    assert got[0]["n_docs"] == 2 and got[0]["min_doc_id"] == 1


def test_shingles_short_doc(spark):
    df = spark.createDataFrame([(1, "one two")], schema="doc_id long, text string")
    got = dedup.shingles(df, "doc_id", "text", k=3).collect()
    assert [(r["_id"], r["shingle"]) for r in got] == [(1, "one two")]


def test_minhash_finds_near_dups(small_docs_df):
    pairs = dedup.minhash_dedup(small_docs_df, "doc_id", "text", threshold=0.5).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 4) in found  # exact dup always survives
    assert (1, 2) in found or (2, 4) in found  # 8/10 word overlap
    for r in pairs:
        assert r["jaccard"] >= 0.5


def test_ngram_jaccard_blocked(small_docs_df):
    pairs = dedup.ngram_jaccard_pairs(small_docs_df, "doc_id", "text", "src", threshold=0.6).collect()
    found = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs}
    # distinct word sets: 8 each ("the" dedups), 7 shared → 7/9
    assert found[(1, 2)] == pytest.approx(7 / 9)
    assert (1, 4) not in found  # different blocks → never compared
    assert (1, 3) not in found


def test_simhash_similar_docs_close(small_docs_df):
    got = {r["_id"]: r["simhash"] for r in dedup.simhash(small_docs_df, "doc_id", "text").collect()}
    assert got[1] == got[4]  # identical text → identical simhash
    ham_12 = bin(got[1] ^ got[2]).count("1")
    ham_13 = bin(got[1] ^ got[3]).count("1")
    assert ham_12 < ham_13  # near-dup closer than unrelated


def test_lang_id(small_docs_df):
    got = {r["doc_id"]: r["lang_pred"] for r in textops.lang_id(small_docs_df, "doc_id", "text").collect()}
    assert got[1] == "en" and got[5] == "de" and got[6] == "fr"


def test_quality_and_tokens(small_docs_df):
    q = {r["doc_id"]: r for r in textops.quality_score(small_docs_df, "doc_id", "text").collect()}
    assert q[1]["n_words"] == 9
    assert q[1]["distinct_ratio"] == pytest.approx(8 / 9)
    t = {r["doc_id"]: r for r in textops.token_count(small_docs_df, "doc_id", "text").collect()}
    assert t[1]["n_ws_tokens"] == 9 and t[1]["n_bpeish"] == 9


def test_fingerprint_normalizes_whitespace(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world")], schema="doc_id long, text string"
    )
    got = {r["doc_id"]: r["fp"] for r in textops.fingerprint(df, "doc_id", "text").collect()}
    assert got[1] == got[2]


@pytest.fixture(scope="module")
def emb_df(spark):
    rng = np.random.RandomState(5)
    vecs = rng.randn(40, 16).astype(np.float32)
    vecs[7] = vecs[3] + 0.01 * rng.randn(16).astype(np.float32)  # near-dup pair
    rows = [(i, [float(x) for x in vecs[i]], i % 4) for i in range(40)]
    return spark.createDataFrame(rows, schema="vec_id long, embedding array<float>, label int")


def test_cosine_topk_matches_numpy(emb_df):
    pdf = emb_df.toPandas()
    V = np.stack([np.array(v, dtype=np.float64) for v in pdf["embedding"]])
    q = emb_df.filter(F.col("vec_id") == 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = ann.cosine_topk(emb_df, q, k=3, round_digits=None).orderBy("rank").collect()
    sims = V @ V[3] / (np.linalg.norm(V, axis=1) * np.linalg.norm(V[3]))
    want = sorted(range(40), key=lambda i: (-sims[i], i))[:3]
    assert [r["vec_id"] for r in got] == want
    assert got[0]["vec_id"] == 3 and got[1]["vec_id"] == 7  # self, then near-dup


def test_embedding_cosine_pairs(emb_df):
    got = dedup.embedding_cosine_pairs(emb_df, "vec_id", "embedding", "label", 0.95).collect()
    assert {(r["id_a"], r["id_b"]) for r in got} == {(3, 7)}


def test_srp_ann_recall(emb_df):
    q = emb_df.filter(F.col("vec_id") == 3).select(F.col("vec_id").alias("query_id"), "embedding")
    got = ann.srp_bucketed_topk(emb_df, q, k=3, dim=16).orderBy("rank").collect()
    assert got[0]["vec_id"] == 3  # self always shares every bucket
    assert any(r["vec_id"] == 7 for r in got)  # near-dup recalled


def test_multimodal_plumbing(spark):
    refs = spark.createDataFrame(
        [(f"media://node/{i}/0.png",) for i in range(10)], schema="media_ref string"
    )
    media = multimodal.synthesize_media(refs)
    feats = multimodal.extract_features(media, fake=True).collect()
    assert len(feats) == 10
    for r in feats:
        assert 0 <= r["mean_luma"] <= 255
        assert len(r["feat"]) == 8
    # determinism: same input → same features
    feats2 = multimodal.extract_features(multimodal.synthesize_media(refs), fake=True).collect()
    assert sorted((r["media_ref"], r["mean_luma"]) for r in feats) == sorted(
        (r["media_ref"], r["mean_luma"]) for r in feats2
    )
    # stub guard: real decode path must raise loudly
    with pytest.raises(Exception, match="NotImplementedError|codecs"):
        multimodal.extract_features(media, fake=False).collect()


def test_media_pipeline_from_ingest(tables):
    """End-to-end multimodal path: the ingest ``media`` table (interleaved
    media spans) → synthesized binary payloads → Arrow-batched feature
    extraction; every media span of the corpus flows through."""
    media_refs = tables["media"].select("media_ref")
    n_refs = media_refs.count()
    assert n_refs > 0
    media = multimodal.synthesize_media(media_refs)
    feats = multimodal.extract_features(media, fake=True)
    assert feats.count() == n_refs
    row = feats.first()
    assert row["media_type"] in ("node", "way", "relation")


def test_frame_sample(spark):
    refs = spark.createDataFrame([("media://video/1/0.mp4",)], schema="media_ref string")
    rows = multimodal.frame_sample(refs, every_n=10).collect()
    assert len(rows) >= 1
    assert all(r["frame_idx"] % 10 == 0 for r in rows)


def test_srp_recall_floor(spark):
    """VERDICT r01 gap #2: srp_bucketed_topk was the one green-looking row
    with no actual check. Recall@5 vs the brute-force baseline on the
    driver embeddings, 3 disjoint query sets — deterministic (md5-seeded
    hyperplanes, fixed data): measured 0.96 / 0.88 / 0.84 with the
    defaults (6 planes × 8 tables × 1-probe multiprobe); floor 0.8."""
    from pyspark.sql import functions as F

    from osmflat_rs_spark.operators.ann import cosine_topk, srp_bucketed_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    recalls = []
    for qids in ([0, 1, 2, 3, 4], [10, 11, 12, 13, 14], [20, 21, 22, 23, 24]):
        q = emb.filter(F.col("vec_id").isin(qids)).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        exact = {(r["query_id"], r["vec_id"]) for r in cosine_topk(emb, q, k=5).collect()}
        approx = {(r["query_id"], r["vec_id"]) for r in srp_bucketed_topk(emb, q, k=5, dim=64).collect()}
        recalls.append(len(exact & approx) / len(exact))
    assert all(r >= 0.8 for r in recalls), f"recall@5 below floor: {recalls}"


def test_multimodal_real_decode_builtin_ppm(spark):
    """fake=False runs end-to-end with zero codec deps on real P6 PPM
    payloads; mean_luma must equal a local re-decode of the same bytes."""
    refs = spark.createDataFrame(
        [(f"media://node/{i}/0.ppm",) for i in range(8)], schema="media_ref string"
    )
    media = multimodal.synthesize_media_real(refs)
    got = {r["media_ref"]: r for r in multimodal.extract_features(media, fake=False).collect()}
    assert len(got) == 8
    for r in media.collect():
        img = multimodal.decode_image(bytes(r["payload"]))
        assert img.shape == (r["height"], r["width"])
        assert abs(got[r["media_ref"]]["mean_luma"] - float(img.mean())) < 1e-9
        assert len(got[r["media_ref"]]["feat"]) == 8


def test_decode_image_builtin_bmp_and_p5():
    """Built-in decoders: hand-built 24-bit BMP (bottom-up, padded rows)
    and P5 PGM with a header comment decode to the exact pixels."""
    import struct

    # 3x2 P5 with comment
    pix = np.array([[0, 128, 255], [10, 20, 30]], dtype=np.uint8)
    p5 = b"P5\n# a comment\n3 2\n255\n" + pix.tobytes()
    assert (multimodal.decode_image(p5) == pix).all()

    # 2x2 24-bit BMP, bottom-up, stride padded to 8 bytes
    bgr = np.array(
        [[[255, 0, 0], [0, 255, 0]], [[0, 0, 255], [255, 255, 255]]], dtype=np.uint8
    )  # rows as stored (bottom-up): file row 0 = image row 1
    stride = 8
    body = b"".join(bgr[y].tobytes() + b"\x00\x00" for y in range(2))
    header = (
        b"BM"
        + struct.pack("<IHHI", 54 + len(body), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 24, 0, len(body), 2835, 2835, 0, 0)
    )
    img = multimodal.decode_image(header + body)
    assert img.shape == (2, 2)
    # top-left of the IMAGE = last stored row's first pixel = BGR(0,0,255) = red
    assert img[0, 0] == np.clip(np.round(0.299 * 255), 0, 255)


def test_decode_image_pil_fallback():
    """Other formats route through PIL when present; skip cleanly when not."""
    PIL = pytest.importorskip("PIL")  # noqa: F841
    import io

    from PIL import Image

    im = Image.new("L", (4, 3), color=77)
    buf = io.BytesIO()
    im.save(buf, format="PNG")
    img = multimodal.decode_image(buf.getvalue())
    assert img.shape == (3, 4) and (img == 77).all()


def test_embedding_neardup_srp_subset_and_recall(spark):
    """SRP-bucketed global near-dup (the scale escape from the all-pairs
    form): output must be a SUBSET of the exact global pair set (exact
    precision — candidates are re-scored with the exact kernel), recall
    ≥ 0.8 at the gate's parameters, and every emitted cosine must equal
    the exact kernel's value for that pair. Deterministic hyperplanes →
    these are constants of the fixture, not flaky draws."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = {
        (r["id_a"], r["id_b"]): round(r["cosine"], 9)
        for r in dedup.embedding_cosine_pairs(
            emb.withColumn("_g", F.lit(1)), "vec_id", "embedding", "_g", 0.4
        ).collect()
    }
    srp = {
        (r["id_a"], r["id_b"]): round(r["cosine"], 9)
        for r in dedup.embedding_neardup_srp(
            emb, "vec_id", "embedding", 0.4, n_planes=3, n_tables=12
        ).collect()
    }
    assert set(srp) <= set(exact)
    assert len(srp) >= 0.8 * len(exact) > 0
    assert all(srp[p] == exact[p] for p in srp)  # same exact-verify kernel


def _srp_encode_check(spark, n_planes, n_tables, dim=64):
    """Assert ``ann.srp_bucket_ids`` (one BLAS matmul per batch) gives, on
    every fixture embedding, the buckets of a left-to-right sequential
    sum over the ``ann._srp_sign`` weights — a BLAS-vs-sequential ulp
    difference could only flip a projection lying on a hyperplane, and
    this pins that none does. A NULL vector gets no buckets. Returns the
    reference buckets {vec_id: [combined id per table]}."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    emb = emb.unionByName(spark.createDataFrame([(-1, None)], "vec_id long, v array<double>"))
    vecs = {r["vec_id"]: r["v"] for r in emb.collect()}
    got = {
        r["vec_id"]: list(r["bk"])
        for r in emb.select(
            "vec_id", ann.srp_bucket_ids(F.col("v"), n_planes, n_tables, dim).alias("bk")
        ).collect()
    }
    sign = [[[ann._srp_sign(t, p, d) for d in range(dim)] for p in range(n_planes)] for t in range(n_tables)]
    want = {-1: []}  # the NULL vector
    for vid, v in vecs.items():
        if v is None:
            continue
        ids = []
        for t in range(n_tables):
            bucket = 0
            for p in range(n_planes):
                acc = 0.0
                for d in range(dim):
                    acc += v[d] * sign[t][p][d]
                if acc > 0:
                    bucket |= 1 << p
            ids.append((t << n_planes) | bucket)
        want[vid] = ids
    assert len(got) == 501 and got == want
    return want


def test_srp_topk_corpus_encode_parity(spark):
    """srp_bucketed_topk's encode at its defaults (6 planes × 8 tables)
    must match the sequential-sum reference encode, and in both
    multiprobe modes every returned row must be reachable in that
    reference bucket space: some table where query and corpus buckets
    differ in at most ``probes`` bits."""
    ref = _srp_encode_check(spark, n_planes=6, n_tables=8)
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id").isin([0, 1, 2])).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    for probes in (0, 1):
        rows = ann.srp_bucketed_topk(emb, q, k=5, dim=64, probes=probes).collect()
        assert len(rows) > 0
        for r in rows:
            qb, cb = ref[r["query_id"]], ref[r["vec_id"]]
            assert any(bin(a ^ b).count("1") <= probes for a, b in zip(qb, cb)), (probes, r)


def test_embedding_neardup_srp_encode_parity(spark):
    """embedding_neardup_srp's encode at the near-dup gate's 3 × 12 must
    match the sequential-sum reference encode, and its pairs must be
    exactly the exact-kernel pairs (cosine ≥ 0.4) that share a bucket in
    that reference encode — a drift would silently split the bucket
    space."""
    ref = _srp_encode_check(spark, n_planes=3, n_tables=12)
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = {
        (r["id_a"], r["id_b"])
        for r in dedup.embedding_cosine_pairs(
            emb.withColumn("_g", F.lit(1)), "vec_id", "embedding", "_g", 0.4
        ).collect()
    }
    srp = {
        (r["id_a"], r["id_b"])
        for r in dedup.embedding_neardup_srp(
            emb, "vec_id", "embedding", 0.4, n_planes=3, n_tables=12
        ).collect()
    }
    want = {(a, b) for a, b in exact if set(ref[a]) & set(ref[b])}
    assert srp == want and len(srp) > 0


def test_srp_dim_mismatch_raises(spark):
    """A ``dim`` other than the vector length must fail loudly in both
    SRP operators, naming both numbers — not bucket every row into the
    same few ids."""
    from pyspark.errors import PythonException

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")  # 64-d
    q = emb.filter(F.col("vec_id") < 3).select(F.col("vec_id").alias("query_id"), "embedding")
    msg = r"ValueError: srp_bucket_ids: dim=32 but a vector has length 64"
    with pytest.raises(PythonException, match=msg):
        ann.srp_bucketed_topk(emb, q, k=5, dim=32).collect()
    with pytest.raises(PythonException, match=msg):
        dedup.embedding_neardup_srp(emb, "vec_id", "embedding", 0.4, dim=32).collect()


def test_embedding_neardup_srp_id_only_candidate_shuffle(spark):
    """Plan contract: the SRP candidate self-join must Exchange only
    (bucket, id) rows — the float vectors join back AFTER the distinct,
    keyed by id. A plan that shuffles the embedding arrays through the
    bucket join would multiply shuffle bytes by dim × n_tables at 10^12
    rows."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = dedup.embedding_neardup_srp(emb, "vec_id", "embedding", 0.4, n_planes=3, n_tables=12)
    plan = out._sc._jvm.PythonSQLUtils.explainString(out._jdf.queryExecution(), "formatted")
    import re

    # every hashpartitioning Exchange key set must avoid the vector column
    exchanges = re.findall(r"Arguments: hashpartitioning\(([^)]*)\)", plan)
    assert exchanges  # non-vacuous: the candidate distinct always shuffles
    for args in exchanges:
        assert "v#" not in args and "embedding" not in args, args


def test_winnow_local_containment(spark):
    """Winnowing guarantee: two docs sharing a run of >= w+k-1 words
    share at least one fingerprint; disjoint docs share none."""
    from osmflat_rs_spark.operators.textops import winnow_fingerprints

    shared = "lorem ipsum dolor sit amet consectetur"  # 6 words = w+k-1 (w=4,k=3)
    rows = [
        (1, f"aaa bbb {shared} ccc ddd"),
        (2, f"xxx yyy zzz {shared} qqq"),
        (3, "totally different words with no overlap at all here"),
    ]
    df = spark.createDataFrame(rows, schema="doc_id long, text string")
    fps = winnow_fingerprints(df, "doc_id", "text", k=3, w=4).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    assert by_doc[1] & by_doc[2], "shared 6-word run must yield a shared fingerprint"
    assert not (by_doc[1] & by_doc[3]) and not (by_doc[2] & by_doc[3])


def test_ivf_recall_floor_and_determinism(spark):
    """IVF ANN (the second scale path next to SRP): recall@5 vs brute
    force ≥ 0.8 at n_probes=8/16 on the (unclustered — worst-case)
    fixture embeddings, 3 query seeds; training is deterministic."""
    from pyspark.sql import functions as F

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    c1 = ann.train_ivf_centroids(emb, n_clusters=16)
    c2 = ann.train_ivf_centroids(emb, n_clusters=16)
    assert (c1 == c2).all(), "k-means training must be deterministic"
    recalls = []
    for qids in ([0, 1, 2, 3, 4], [10, 11, 12, 13, 14], [20, 21, 22, 23, 24]):
        q = emb.filter(F.col("vec_id").isin(qids)).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        exact = {(r["query_id"], r["vec_id"]) for r in ann.cosine_topk(emb, q, k=5).collect()}
        approx = {
            (r["query_id"], r["vec_id"])
            for r in ann.ivf_topk(emb, q, c1, k=5, n_probes=8).collect()
        }
        recalls.append(len(exact & approx) / len(exact))
    assert all(r >= 0.8 for r in recalls), f"IVF recall@5 below floor: {recalls}"


def test_ivf_sample_repartition_invariant(spark):
    """VERDICT r02 #5: centroid training must not depend on partition
    layout. The hash-ordered sample draws identical rows whatever the
    physical partitioning, so centroids match bit-for-bit."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    c1 = ann.train_ivf_centroids(emb, n_clusters=8, sample_size=200)
    c2 = ann.train_ivf_centroids(emb.repartition(13), n_clusters=8, sample_size=200)
    c3 = ann.train_ivf_centroids(emb.coalesce(1), n_clusters=8, sample_size=200)
    assert np.array_equal(c1, c2) and np.array_equal(c1, c3)


def test_minhash_signature_shapes_agree(spark):
    """The codegen explode/element_at shingling inside minhash_signatures
    must produce bit-identical signatures to the public _shingle_arr HOF
    form (including the short-doc fallback)."""
    from osmflat_rs_spark.operators.dedup import _shingle_arr, minhash_signatures

    rows = [(1, "alpha beta gamma delta eps"), (2, "one two"), (3, "x"), (4, "a b c")]
    df = spark.createDataFrame(rows, schema="doc_id long, text string")
    got = {tuple(r) for r in minhash_signatures(df, "doc_id", "text").collect()}
    sh = df.select(
        F.col("doc_id").alias("_id"), F.explode(_shingle_arr(F.col("text"), 3)).alias("shingle")
    )
    aggs = []
    for i in range(8):
        seed, j = divmod(i, 4)
        digest = (
            F.md5(F.col("shingle")) if seed == 0 else F.md5(F.concat(F.lit(f"{seed}:"), F.col("shingle")))
        )
        aggs.append(F.min(F.conv(F.substring(digest, 1 + 8 * j, 8), 16, 10).cast("long")).alias(f"sig_{i}"))
    want = {tuple(r) for r in sh.groupBy("_id").agg(*aggs).collect()}
    assert got == want


def test_resize_images_pixel_exact(spark):
    """Nearest-neighbor resize must equal a local NumPy index-grid
    resample of the same decoded bytes, for every image (real P6 PPM
    payloads, zero codec deps); output buffer is exactly out_w*out_h."""
    import numpy as np

    refs = spark.createDataFrame(
        [(f"media://node/{i}/0.ppm",) for i in range(6)], schema="media_ref string"
    )
    media = multimodal.synthesize_media_real(refs)
    out_w, out_h = 16, 12
    got = {
        r["media_ref"]: r
        for r in multimodal.resize_images(media, out_w, out_h, fake=False).collect()
    }
    assert len(got) == 6
    for r in media.collect():
        img = multimodal.decode_image(bytes(r["payload"]))
        ih, iw = img.shape
        ys = np.minimum((np.arange(out_h) * ih) // out_h, ih - 1)
        xs = np.minimum((np.arange(out_w) * iw) // out_w, iw - 1)
        want = img[np.ix_(ys, xs)].astype(np.uint8)
        g = got[r["media_ref"]]
        assert (g["width"], g["height"]) == (out_w, out_h)
        buf = np.frombuffer(bytes(g["pixels"]), dtype=np.uint8)
        assert buf.size == out_w * out_h
        assert (buf.reshape(out_h, out_w) == want).all()

    # fake path: plumbing only, deterministic across runs
    fake1 = {r["media_ref"]: bytes(r["pixels"]) for r in multimodal.resize_images(
        multimodal.synthesize_media(refs), 8, 8, fake=True).collect()}
    fake2 = {r["media_ref"]: bytes(r["pixels"]) for r in multimodal.resize_images(
        multimodal.synthesize_media(refs), 8, 8, fake=True).collect()}
    assert fake1 == fake2 and all(len(v) == 64 for v in fake1.values())


def test_whitespace_padded_near_dups_score_full_jaccard(spark):
    """split on \\s+ yields '' tokens at padded string edges — they used
    to count as phantom words (deflating jaccard to 0.667 for a
    whitespace-padded exact dup) and inflate n_ws_tokens."""
    from osmflat_rs_spark.operators.textops import token_count

    docs = spark.createDataFrame(
        [(1, "  hello world"), (2, "hello world  "), (3, "hello world")],
        schema="doc_id long, text string",
    )
    pairs = spark.createDataFrame([(1, 2), (1, 3), (2, 3)], schema="id_a long, id_b long")
    out = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.jaccard_for_pairs(docs, pairs, "doc_id", "text").collect()
    }
    assert all(abs(v - 1.0) < 1e-12 for v in out.values()), out
    counts = {r["doc_id"]: r["n_ws_tokens"] for r in token_count(docs, "doc_id", "text").collect()}
    assert counts == {1: 2, 2: 2, 3: 2}


def test_words_expr_matches_python_reference_on_random_text(spark):
    """Randomized cross-validation of the tokenizer contract: engine
    words_expr == python re-based reference (lower, strip edges, split
    on \\s+) over 200 seeded random strings mixing words, tabs,
    newlines, unicode and edge padding — the exact surface the oracle
    SQL mirrors."""
    import random
    import re as _re

    rng = random.Random(99)
    pieces = [
        "Hello", "WORLD", "añejo", "x1", "", " ", "\t", "\n", "  ", "zz",
        " ", "　", " ", " ",  # r4: unicode WS in the mix
    ]
    texts = []
    for _ in range(200):
        texts.append("".join(rng.choice(pieces) for _ in range(rng.randint(1, 12))) or "a")

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], schema="i int, text string")
    got = {
        r["i"]: list(r["ws"])
        for r in df.select("i", dedup.words_expr(F.col("text")).alias("ws")).collect()
    }

    for i, t in enumerate(texts):
        stripped = _re.sub(f"^{WS_PY}+|{WS_PY}+$", "", t.lower())
        want = _re.split(f"{WS_PY}+", stripped)  # [''] for empty, like Spark
        assert got[i] == want, (t, got[i], want)


def test_unicode_whitespace_contract_cross_engine(spark):
    """ADVICE r03 #8 'Done =' criterion: U+00A0 (NBSP) and U+3000
    (ideographic space) must split tokens IDENTICALLY in the engine
    (Java regex), the DuckDB oracle (RE2), and the Python reference —
    none of their builtin \\s classes agree, so all three use the
    explicit enumerated contract class."""
    import re as _re

    import duckdb

    texts = [
        "hello world",          # NBSP between words
        "　padded　edge　",  # ideographic-space padding
        "mixed  　 runs",
        "tab\tand ls",          # LINE SEPARATOR
        "plain ascii only",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], schema="i int, text string")
    engine = {
        r["i"]: list(r["ws"])
        for r in df.select("i", dedup.words_expr(F.col("text")).alias("ws")).collect()
    }

    import __spark_entry__ as entry

    con = duckdb.connect()
    con.execute("CREATE TABLE t (i INT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(texts)))
    ws_sql = entry._WS_SQL
    duck = {
        i: list(ws)
        for i, ws in con.sql(
            f"SELECT i, regexp_split_to_array(regexp_replace(lower(text), "
            f"'^{ws_sql}+|{ws_sql}+$', '', 'g'), '{ws_sql}+') FROM t"
        ).fetchall()
    }

    for i, t in enumerate(texts):
        stripped = _re.sub(f"^{WS_PY}+|{WS_PY}+$", "", t.lower())
        want = _re.split(f"{WS_PY}+", stripped)
        assert engine[i] == want, (t, engine[i], want)
        assert duck[i] == want, (t, duck[i], want)


def test_ngram_jaccard_prefix_method_identical(spark):
    """r5: the PPJoin-style prefix-filtered candidate generation is
    LOSSLESS — byte-identical pairs + jaccards to the all-pairs form on
    the real corpus at a low threshold (many qualifying pairs, so a
    dropped candidate would show), and on a crafted corpus with the edge
    shapes: exact dups, singleton-token docs, empty docs, threshold
    exactly at a rational boundary (t*n integral — the float-ceil nudge
    case)."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

    def run(df, t, **kw):
        return {
            (r["id_a"], r["id_b"], round(r["jaccard"], 9))
            for r in dedup.ngram_jaccard_pairs(df, "doc_id", "text", "lang", t, **kw).collect()
        }

    for t in (0.2, 0.6):
        base = run(docs, t)
        pref = run(docs, t, method="prefix")
        assert pref == base and (t > 0.2 or len(base) > 0)

    crafted = spark.createDataFrame(
        [
            (1, "a b c d e", "x"),
            (2, "a b c d e", "x"),      # exact dup of 1
            (3, "a b c d f", "x"),      # 4/6 with 1 -> passes t=0.6, J=2/3
            (4, "z", "x"),              # singleton
            (5, "z", "x"),              # singleton dup
            (6, "", "x"),               # empty: never pairs
            (7, "q r s t u", "y"),      # other bucket: never crosses
            (8, "a b c d e", "y"),
        ],
        schema="doc_id long, text string, lang string",
    )
    # t=0.6 with n=5: t*n = 3.0 exactly -> ceil must stay 3 (prefix len 3)
    base = run(crafted, 0.6)
    pref = run(crafted, 0.6, method="prefix")
    assert pref == base
    assert (1, 2) in {(a, b) for a, b, _ in base}
    assert (4, 5) in {(a, b) for a, b, _ in base}
    assert not any(6 in (a, b) for a, b, _ in base)
    assert not any({a, b} == {1, 8} for a, b, _ in base)


# ---------------------------------------------------------------------------
# duplicate_passage_spans (ExactSubstr of Lee et al. 2022, relational form)


def _span_rows(got):
    return sorted(
        (r["doc_id"], r["span_start"], r["span_end"], r["n_words"], r["n_grams"])
        for r in got
    )


def test_dup_spans_shared_passage_positions(spark):
    # docs 1 and 2 share the 5-word run "p q r s t" at different offsets;
    # with k=3 the shared grams cover words [1,5] in doc1 and [0,4] in doc2.
    df = spark.createDataFrame(
        [
            (1, "u1 p q r s t u2 u3"),
            (2, "p q r s t v1 v2 v3"),
            (3, "w1 w2 w3 w4 w5 w6 w7 w8"),
        ],
        schema="doc_id long, text string",
    )
    got = _span_rows(dedup.duplicate_passage_spans(df, "doc_id", "text", k=3).collect())
    assert got == [(1, 1, 5, 5, 3), (2, 0, 4, 5, 3)]


def test_dup_spans_gap_splits_adjacent_merges(spark):
    # doc 1 carries passages P1 (3 words, shared with doc 2) and P2
    # (3 words, shared with doc 3): back-to-back in doc 1a they merge into
    # one 6-word span; separated by unique words in doc 1b they split.
    rows = [
        (10, "p1a p1b p1c p2a p2b p2c"),           # adjacent -> one span
        (11, "p1a p1b p1c x1 x2 x3 p2a p2b p2c"),  # gapped -> two spans
        (2, "p1a p1b p1c y1 y2 y3"),
        (3, "z1 z2 z3 p2a p2b p2c"),
    ]
    df = spark.createDataFrame(rows, schema="doc_id long, text string")
    got = _span_rows(dedup.duplicate_passage_spans(df, "doc_id", "text", k=3).collect())
    assert (10, 0, 5, 6, 2) in got           # merged across the P1|P2 seam
    assert (11, 0, 2, 3, 1) in got and (11, 6, 8, 3, 1) in got
    assert (2, 0, 2, 3, 1) in got and (3, 3, 5, 3, 1) in got


def test_dup_spans_self_repetition_not_flagged(spark):
    # a doc repeating its OWN phrase is not cross-document duplication
    # (min_docs counts DISTINCT docs); too-short docs carry no grams.
    df = spark.createDataFrame(
        [(1, "echo echo echo echo echo echo"), (2, "al be"), (3, "other words here")],
        schema="doc_id long, text string",
    )
    assert dedup.duplicate_passage_spans(df, "doc_id", "text", k=3).count() == 0


def _dup_spans_model(docs, k, min_docs=2):
    """Independent pure-Python model: brute-force gram index + interval merge."""
    import re

    toks = {d: re.split(WS_PY + "+", t.strip().lower()) for d, t in docs}
    gram_docs = {}
    for d, ws in toks.items():
        for i in range(len(ws) - k + 1):
            gram_docs.setdefault(tuple(ws[i : i + k]), set()).add(d)
    out = []
    for d, ws in toks.items():
        pos = [
            i
            for i in range(len(ws) - k + 1)
            if len(gram_docs[tuple(ws[i : i + k])]) >= min_docs
        ]
        run = []
        for p in pos:
            if run and p <= run[-1][-1] + k:  # p <= prev_pos + k  <=> overlaps/adjacent
                run[-1].append(p)
            else:
                run.append([p])
        for r in run:
            out.append((d, r[0], r[-1] + k - 1, r[-1] + k - r[0], len(r)))
    return sorted(out)


def test_dup_spans_matches_model_on_random_corpus(spark):
    # seeded random corpus over a small vocabulary so natural cross-doc
    # k-gram collisions occur, plus planted shared passages
    rng = np.random.default_rng(7)
    vocab = [f"w{i}" for i in range(30)]
    passage = "alpha beta gamma delta epsilon zeta"
    docs = []
    for d in range(40):
        words = list(rng.choice(vocab, size=rng.integers(2, 25)))
        if d % 5 == 0:
            at = int(rng.integers(0, len(words) + 1))
            words[at:at] = passage.split()
        docs.append((d, " ".join(words)))
    df = spark.createDataFrame(docs, schema="doc_id long, text string")
    got = _span_rows(dedup.duplicate_passage_spans(df, "doc_id", "text", k=4).collect())
    assert got == _dup_spans_model(docs, k=4)


def test_dup_spans_arg_validation(spark):
    df = spark.createDataFrame([(1, "a b c")], schema="doc_id long, text string")
    with pytest.raises(ValueError):
        dedup.duplicate_passage_spans(df, "doc_id", "text", k=0)
    with pytest.raises(ValueError):
        dedup.duplicate_passage_spans(df, "doc_id", "text", min_docs=1)


# ---------------------------------------------------------------------------
# count-min sketch (relational mergeable summary) + HLL wrapper


@pytest.fixture(scope="module")
def skewed_keys_df(spark):
    # zipf-ish: key 0 is hot (400 rows), keys 1..50 get 2..12 rows each
    rng = np.random.default_rng(11)
    rows = [(0,)] * 400 + [(int(k),) for k in range(1, 51) for _ in range(int(rng.integers(2, 13)))]
    return spark.createDataFrame(rows, schema="k long")


def test_cms_never_undercounts_and_row_sums(spark, skewed_keys_df):
    from osmflat_rs_spark.operators import sketch

    d, w = 4, 64
    sk = sketch.cms_build(skewed_keys_df, "k", depth=d, width=w)
    n = skewed_keys_df.count()
    # each sketch row partitions the stream: its counters sum to N
    sums = {r["r"]: r["s"] for r in sk.groupBy("r").agg(F.sum("cnt").alias("s")).collect()}
    assert sums == {r: n for r in range(d)}
    exact = {r["k"]: r["c"] for r in skewed_keys_df.groupBy("k").agg(F.count("*").alias("c")).collect()}
    est = {
        r["k"]: r["est"]
        for r in sketch.cms_estimate(sk, skewed_keys_df.select("k").distinct(), "k", d, w).collect()
    }
    assert set(est) == set(exact)
    assert all(est[k] >= exact[k] for k in exact)          # CM never undercounts
    import math
    eps_n = math.e / w * n                                  # ε·N bound
    assert all(est[k] - exact[k] <= eps_n for k in exact)


def test_cms_merge_equals_build_over_union(spark, skewed_keys_df):
    from osmflat_rs_spark.operators import sketch

    half_a = skewed_keys_df.filter(F.monotonically_increasing_id() % 2 == 0)
    # complement via except-all keeps duplicates balanced
    a = skewed_keys_df.limit(300)
    b = skewed_keys_df.subtract(spark.createDataFrame([], "k long"))  # full
    sa = sketch.cms_build(a, "k", depth=3, width=32)
    rest = skewed_keys_df.exceptAll(a)
    sb = sketch.cms_build(rest, "k", depth=3, width=32)
    merged = {(r["r"], r["c"]): r["cnt"] for r in sketch.cms_merge(sa, sb).collect()}
    full = {(r["r"], r["c"]): r["cnt"] for r in sketch.cms_build(skewed_keys_df, "k", depth=3, width=32).collect()}
    assert merged == full


def test_cms_heavy_hitters_finds_hot_key(skewed_keys_df):
    from osmflat_rs_spark.operators import sketch

    got = sketch.cms_heavy_hitters(skewed_keys_df, "k", depth=4, width=64, min_fraction=0.2)
    keys = {r["k"] for r in got.collect()}
    assert 0 in keys                       # the 400-row key is ~47% of the stream
    assert all(k == 0 or k <= 50 for k in keys)
    # no false negatives by construction; false positives bounded: with
    # eps*N ~ 36 and per-key truth <= 12, nothing else reaches 20% (~171)
    assert keys == {0}


def test_cms_estimate_unseen_key_is_zero_or_collision(spark, skewed_keys_df):
    from osmflat_rs_spark.operators import sketch

    sk = sketch.cms_build(skewed_keys_df, "k", depth=4, width=4096)
    unseen = spark.createDataFrame([(999_999,)], schema="k long")
    est = sketch.cms_estimate(sk, unseen, "k", depth=4, width=4096).collect()[0]["est"]
    assert est <= 2  # wide sketch: unseen key hits (almost surely) empty counters


def test_cms_arg_validation(spark):
    from osmflat_rs_spark.operators import sketch

    df = spark.createDataFrame([(1,)], schema="k long")
    with pytest.raises(ValueError):
        sketch.cms_build(df, "k", depth=0)
    with pytest.raises(ValueError):
        sketch.cms_merge()


def test_approx_distinct_within_tolerance(spark):
    from osmflat_rs_spark.operators import sketch

    df = spark.range(0, 20_000).select((F.col("id") % 5_000).alias("k"),
                                       (F.col("id") % 4).alias("g"))
    got = sketch.approx_distinct(df, "k").collect()[0]["approx_n"]
    assert abs(got - 5_000) / 5_000 < 0.06  # rsd=0.02 -> 3 sigma

    # per group g, k = id % 5000 only takes values with k % 4 == g
    # (5000 ≡ 0 mod 4) → exactly 1250 distinct keys per group
    exact_g = {
        r["g"]: r["n"]
        for r in df.groupBy("g").agg(F.countDistinct("k").alias("n")).collect()
    }
    assert exact_g == {0: 1250, 1: 1250, 2: 1250, 3: 1250}
    per_g = {r["g"]: r["approx_n"] for r in sketch.approx_distinct(df, "k", "g").collect()}
    assert set(per_g) == {0, 1, 2, 3}
    assert all(abs(v - exact_g[g]) / exact_g[g] < 0.06 for g, v in per_g.items())


# ---------------------------------------------------------------------------
# TF-IDF top terms


def test_tfidf_hand_computed(spark):
    from osmflat_rs_spark.operators.textops import tfidf_top_terms

    import math

    docs = spark.createDataFrame(
        [(1, "apple banana apple"), (2, "banana cherry"), (3, "cherry cherry date")],
        schema="doc_id long, text string",
    )
    got = {
        (r["doc_id"], r["term"]): (r["tf"], r["score"])
        for r in tfidf_top_terms(docs, "doc_id", "text", k=2).collect()
    }
    # doc 1: apple tf=2 df=1 -> 2*ln(3); banana tf=1 df=2 -> ln(1.5)
    assert got[(1, "apple")] == (2, round(2 * math.log(3.0), 6))
    assert got[(1, "banana")] == (1, round(math.log(1.5), 6))
    # doc 3: cherry tf=2 df=2 -> 2*ln(1.5) ; date tf=1 df=1 -> ln(3)
    assert got[(3, "date")] == (1, round(math.log(3.0), 6))
    assert got[(3, "cherry")] == (2, round(2 * math.log(1.5), 6))
    assert len(got) == 6


def test_tfidf_tie_break_and_k(spark):
    from osmflat_rs_spark.operators.textops import tfidf_top_terms

    docs = spark.createDataFrame([(1, "b a c"), (2, "x y z")], schema="doc_id long, text string")
    # within doc 1 all terms have tf=1, df=1 -> equal score: tie by term asc
    rows = tfidf_top_terms(docs, "doc_id", "text", k=2).filter(F.col("doc_id") == 1).collect()
    assert sorted(r["term"] for r in rows) == ["a", "b"]
    with pytest.raises(ValueError):
        tfidf_top_terms(docs, "doc_id", "text", k=0)


# ---------------------------------------------------------------------------
# KMV distinct sketch


def test_kmv_estimate_within_bound_and_partition_invariant(spark):
    from osmflat_rs_spark.operators import sketch

    df = spark.range(0, 30_000).select((F.col("id") % 5_000).alias("k"))
    sk = sketch.kmv_build(df, "k", k=64)
    hashes = [r["h"] for r in sk.collect()]
    assert len(hashes) == 64 and hashes == sorted(hashes)
    est = sketch.kmv_estimate(sk, k=64).collect()[0]
    # rel err ~ 1/sqrt(k-2) ~ 12.7%; allow 4 sigma
    assert abs(est["est_distinct"] - 5_000) / 5_000 < 0.51
    # sketch is a pure function of the key SET, not the layout
    sk2 = sketch.kmv_build(df.repartition(17, "k"), "k", k=64)
    assert [r["h"] for r in sk2.orderBy("h").collect()] == hashes


def test_kmv_small_domain_is_exact(spark):
    from osmflat_rs_spark.operators import sketch

    df = spark.range(0, 1_000).select((F.col("id") % 37).alias("k"))
    est = sketch.kmv_estimate(sketch.kmv_build(df, "k", k=64), k=64).collect()[0]
    assert est["n_h"] == 37 and est["est_distinct"] == 37.0


def test_kmv_merge_equals_build_over_union(spark):
    from osmflat_rs_spark.operators import sketch

    a = spark.range(0, 4_000).select(F.col("id").alias("k"))
    b = spark.range(2_000, 7_000).select(F.col("id").alias("k"))
    m = sketch.kmv_merge(32, sketch.kmv_build(a, "k", k=32), sketch.kmv_build(b, "k", k=32))
    full = sketch.kmv_build(a.unionByName(b), "k", k=32)
    assert [r["h"] for r in m.orderBy("h").collect()] == [
        r["h"] for r in full.orderBy("h").collect()
    ]
    with pytest.raises(ValueError):
        sketch.kmv_merge(32)
    with pytest.raises(ValueError):
        sketch.kmv_build(a, "k", k=1)


# ---------------------------------------------------------------------------
# deterministic sampling


def test_stratified_sample_exact_quota_and_determinism(spark):
    from osmflat_rs_spark.operators import sampling

    df = spark.range(0, 3_000).select(
        F.col("id").alias("i"), (F.col("id") % 3).cast("string").alias("g")
    )
    s1 = sampling.stratified_sample(df, "i", "g", 10)
    rows = s1.collect()
    per_g = {}
    for r in rows:
        per_g.setdefault(r["g"], set()).add(r["i"])
    assert {g: len(v) for g, v in per_g.items()} == {"0": 10, "1": 10, "2": 10}
    # strata are disjoint by construction: members belong to their group
    assert all(int(i) % 3 == int(g) for g, v in per_g.items() for i in v)
    # partition-layout invariance + two-phase == single-window identity
    s2 = sampling.stratified_sample(df.repartition(13), "i", "g", 10, salt_buckets=1)
    assert sorted(map(tuple, rows)) == sorted(map(tuple, s2.collect()))


def test_stratified_small_stratum_returns_all(spark):
    from osmflat_rs_spark.operators import sampling

    df = spark.createDataFrame([(1, "a"), (2, "a"), (3, "b")], schema="i long, g string")
    got = sampling.stratified_sample(df, "i", "g", 5).collect()
    assert len(got) == 3


def test_weighted_sample_prefers_heavy_rows(spark):
    from osmflat_rs_spark.operators import sampling

    # 200 groups, each with one weight-1000 row and nine weight-1 rows:
    # A-ES picks the heavy row w.p. 1000/1009 per group
    rows = [
        (g * 10 + j, g, 1000.0 if j == 0 else 1.0) for g in range(200) for j in range(10)
    ]
    df = spark.createDataFrame(rows, schema="i long, g long, w double")
    got = sampling.weighted_sample(df, "i", "w", n=1, group_col="g").collect()
    assert len(got) == 200
    heavy = sum(1 for r in got if r["i"] % 10 == 0)
    assert heavy >= 185  # E[heavy] ~ 198.2, sigma ~ 1.3


def test_weighted_sample_excludes_nonpositive_and_matches_single_window(spark):
    from osmflat_rs_spark.operators import sampling

    df = spark.createDataFrame(
        [(1, 2.0), (2, 0.0), (3, -1.0), (4, None), (5, 3.0), (6, 1.0)],
        schema="i long, w double",
    )
    got = sampling.weighted_sample(df, "i", "w", n=10)
    ids = {r["i"] for r in got.collect()}
    assert ids == {1, 5, 6}  # zero/negative/null weights never sampled
    one_phase = sampling.weighted_sample(df, "i", "w", n=2, salt_buckets=1).collect()
    two_phase = sampling.weighted_sample(df, "i", "w", n=2, salt_buckets=8).collect()
    assert sorted(map(tuple, one_phase)) == sorted(map(tuple, two_phase))
    with pytest.raises(ValueError):
        sampling.weighted_sample(df, "i", "w", n=0)


def test_temperature_mix_budgets_and_keep_semantics(spark):
    from osmflat_rs_spark.operators import sampling

    # three domains with 1600 / 400 / 100 docs: alpha=0.5 weights are
    # 40 / 20 / 10 -> budgets 4/7, 2/7, 1/7 of the total (rounded)
    rows = [(f"a{i}", "a") for i in range(1600)]
    rows += [(f"b{i}", "b") for i in range(400)]
    rows += [(f"c{i}", "c") for i in range(100)]
    df = spark.createDataFrame(rows, schema="doc_id string, dom string")
    out = sampling.temperature_mix(df, "doc_id", "dom", total=700, alpha=0.5)
    recs = out.collect()
    assert len(recs) == 2100  # every doc surfaces with its decision
    budgets = {r["dom"]: r["budget"] for r in recs}
    assert budgets == {"a": 400, "b": 200, "c": 100}
    # alpha=1.0 is natural sampling: budget proportional to n_domain
    nat = {
        r["dom"]: r["budget"]
        for r in sampling.temperature_mix(
            df, "doc_id", "dom", total=700, alpha=1.0
        ).collect()
    }
    assert nat == {"a": 533, "b": 133, "c": 33}
    # Bernoulli realization lands within ~4 sigma of the budget, and the
    # decision is deterministic across partition layouts
    kept = {}
    for r in recs:
        if r["keep"]:
            kept[r["dom"]] = kept.get(r["dom"], 0) + 1
    for d, b in budgets.items():
        assert abs(kept.get(d, 0) - b) <= 4 * (b**0.5) + 1, (d, kept.get(d), b)
    again = sampling.temperature_mix(
        df.repartition(13), "doc_id", "dom", total=700, alpha=0.5
    ).collect()
    assert sorted(map(tuple, recs)) == sorted(map(tuple, again))
    with pytest.raises(ValueError):
        sampling.temperature_mix(df, "doc_id", "dom", total=10, alpha=0.0)
    with pytest.raises(ValueError):
        sampling.temperature_mix(df, "doc_id", "dom", total=-1)


# ---------------------------------------------------------------------------
# Gopher repetition signals


def test_repetition_signals_hand_computed(spark):
    docs = spark.createDataFrame(
        [(1, "a b a b c"), (2, "xx yy xx yy xx yy"), (3, "q")],
        schema="doc_id long, text string",
    )
    got = {
        r["doc_id"]: r.asDict()
        for r in textops.repetition_signals(docs, "doc_id", "text").collect()
    }
    # doc 1: top 2-gram "a b" x2, gram chars 2, word_chars 5 -> 0.8;
    # every 3-gram unique -> dup coverage 0
    assert got[1]["top_ngram"] == "a b" and got[1]["top_ngram_frac"] == 0.8
    assert got[1]["dup_ngram_char_frac"] == 0.0
    # doc 2: "xx yy" x3 covers 3*4/12 = 1.0; both 3-grams duplicated ->
    # every position covered -> 1.0
    assert got[2]["top_ngram"] == "xx yy"
    assert got[2]["top_ngram_frac"] == 1.0 and got[2]["dup_ngram_char_frac"] == 1.0
    # doc 3: shorter than both gram widths -> kept, NULL gram, 0 fracs
    assert got[3]["top_ngram"] is None
    assert got[3]["top_ngram_frac"] == 0.0 and got[3]["dup_ngram_char_frac"] == 0.0
    assert len(got) == 3
    with pytest.raises(ValueError):
        textops.repetition_signals(docs, "doc_id", "text", top_n=0)


def test_repetition_signals_match_python_model_on_random_corpus(spark):
    """Positional dup-coverage (overlaps counted once) and the
    deterministic top-gram tie-break, against an independent model on a
    small-vocabulary corpus where repeats occur naturally."""
    import re as _re
    from collections import Counter

    rng = np.random.default_rng(23)
    vocab = ["aa", "bb", "ccc", "d"]
    docs = [
        (i, " ".join(rng.choice(vocab, size=rng.integers(3, 30))))
        for i in range(60)
    ]
    got = {
        r["doc_id"]: r.asDict()
        for r in textops.repetition_signals(
            spark.createDataFrame(docs, "doc_id long, text string"),
            "doc_id",
            "text",
            top_n=2,
            dup_n=3,
        ).collect()
    }
    for doc_id, text in docs:
        ws = _re.split(WS_PY + "+", text.strip().lower())
        wc = sum(len(w) for w in ws)
        g2 = Counter(" ".join(ws[i : i + 2]) for i in range(len(ws) - 1))
        top, cnt = min(g2.items(), key=lambda kv: (-kv[1], kv[0])) if g2 else (None, 0)
        g3 = Counter(" ".join(ws[i : i + 3]) for i in range(len(ws) - 2))
        covered = set()
        for i in range(len(ws) - 2):
            if g3[" ".join(ws[i : i + 3])] >= 2:
                covered.update(range(i, i + 3))
        r = got[doc_id]
        assert r["n_words"] == len(ws) and r["word_chars"] == wc
        assert r["top_ngram"] == top
        want_top = round(cnt * (len(top) - 1) / wc, 6) if top else 0.0
        assert r["top_ngram_frac"] == want_top
        assert r["dup_ngram_char_frac"] == round(
            sum(len(ws[p]) for p in covered) / wc, 6
        )


# ---------------------------------------------------------------------------
# equi-width histogram sketch


def test_hist_quantiles_within_bin_width_and_merge_identity(spark):
    from osmflat_rs_spark.operators import sketch

    rng = np.random.default_rng(9)
    vals = rng.normal(50, 10, 20_000)
    df = spark.createDataFrame([(float(v),) for v in vals], "v double")
    h = sketch.hist_build(df, "v", 0.0, 100.0, bins=256)
    got = {
        r["q"]: r["est"]
        for r in sketch.hist_quantiles(h, [0.5, 0.9, 0.99], 0.0, 100.0, bins=256).collect()
    }
    w = 100.0 / 256
    for q in (0.5, 0.9, 0.99):
        assert abs(got[q] - float(np.quantile(vals, q))) < 2 * w
    # merge == build-over-concat (the mergeable-summary contract)
    h1 = sketch.hist_build(df.filter(F.col("v") < 50), "v", 0.0, 100.0, 256)
    h2 = sketch.hist_build(df.filter(F.col("v") >= 50), "v", 0.0, 100.0, 256)
    m = sketch.hist_merge(h1, h2)
    assert sorted(map(tuple, m.collect())) == sorted(map(tuple, h.collect()))


def test_hist_edges_and_validation(spark):
    from osmflat_rs_spark.operators import sketch

    df = spark.createDataFrame(
        [(0.0,), (100.0,), (None,), (-0.1,), (100.1,), (50.0,)], "v double"
    )
    h = {r["bin"]: r["cnt"] for r in sketch.hist_build(df, "v", 0.0, 100.0, bins=4).collect()}
    # v == hi clamps into the LAST bin; out-of-range and NULL dropped
    assert h == {0: 1, 3: 1, 2: 1}
    # q = 1.0 returns the max-bin upper edge interpolation, never beyond hi
    q = sketch.hist_quantiles(
        sketch.hist_build(df, "v", 0.0, 100.0, bins=4), [1.0], 0.0, 100.0, bins=4
    ).collect()[0]
    assert q["est"] <= 100.0
    with pytest.raises(ValueError):
        sketch.hist_build(df, "v", 5.0, 5.0, bins=4)
    with pytest.raises(ValueError):
        sketch.hist_build(df, "v", 0.0, 1.0, bins=0)
    with pytest.raises(ValueError):
        sketch.hist_quantiles(sketch.hist_build(df, "v", 0.0, 1.0, 4), [0.0], 0.0, 1.0, 4)
    with pytest.raises(ValueError):
        sketch.hist_merge()


# ---------------------------------------------------------------------------
# Bloom filter sketch


def test_bloom_no_false_negatives_and_bounded_fp(spark):
    from osmflat_rs_spark.operators import sketch

    members = spark.range(0, 2_000).select(F.col("id").alias("k"))
    sk = sketch.bloom_build(members, "k", m_bits=32768, k=4)
    probe_in = sketch.bloom_probe(sk, members, "k", m_bits=32768, k=4)
    assert probe_in.filter(~F.col("maybe_present")).count() == 0  # never a false negative
    outsiders = spark.range(10_000, 14_000).select(F.col("id").alias("k"))
    fp = sketch.bloom_probe(sk, outsiders, "k", m_bits=32768, k=4).filter(
        F.col("maybe_present")
    ).count()
    # (1 - e^(-kn/m))^k ~ 0.24% at n=2000, m=32768, k=4; allow wide slack
    assert fp / 4_000 < 0.02


def test_bloom_merge_equals_build_over_union(spark):
    from osmflat_rs_spark.operators import sketch

    a = spark.range(0, 500).select(F.col("id").alias("k"))
    b = spark.range(400, 900).select(F.col("id").alias("k"))
    m = sketch.bloom_merge(sketch.bloom_build(a, "k", 4096, 3), sketch.bloom_build(b, "k", 4096, 3))
    full = sketch.bloom_build(a.unionByName(b), "k", 4096, 3)
    assert sorted(r["bit"] for r in m.collect()) == sorted(r["bit"] for r in full.collect())
    with pytest.raises(ValueError):
        sketch.bloom_merge()
    with pytest.raises(ValueError):
        sketch.bloom_build(a, "k", m_bits=1)


def test_contamination_edges(spark):
    """Short docs (< n words) stay with 0 grams; empty benchmark flags
    nothing; a doc sharing one n-gram with the benchmark is flagged
    with the distinct-gram hit count."""
    from osmflat_rs_spark.operators.textops import contamination

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),          # shares the full 3-grams
            (2, "alpha beta gamma zz yy"),          # shares 'alpha beta gamma'
            (3, "totally different words here"),    # clean
            (4, "tiny"),                            # shorter than n
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(0, "alpha beta gamma delta")], "doc_id long, text string")
    got = {r["doc_id"]: (r["n_grams"], r["n_hit_grams"], r["contaminated"])
           for r in contamination(docs, bench, "doc_id", "text", n=3).collect()}
    assert got == {1: (2, 2, True), 2: (3, 1, True), 3: (2, 0, False), 4: (0, 0, False)}

    empty_bench = bench.filter("doc_id < 0")
    got2 = {r["doc_id"]: r["contaminated"]
            for r in contamination(docs, empty_bench, "doc_id", "text", n=3).collect()}
    assert got2 == {1: False, 2: False, 3: False, 4: False}


def test_unigram_logprob_matches_hand_model(spark):
    """Hand-checkable corpus: p is the corpus unigram distribution,
    score the mean -log2 p; repeated-common-token docs score LOWER than
    rare-token docs."""
    import math

    from osmflat_rs_spark.operators.textops import unigram_logprob

    docs = spark.createDataFrame(
        [(1, "a a a a"), (2, "a a b c")],
        "doc_id long, text string",
    )
    # corpus: a×6, b×1, c×1 → total 8
    got = {r["doc_id"]: (r["n_tokens"], r["avg_neg_log2p"])
           for r in unigram_logprob(docs, "doc_id", "text").collect()}
    pa, pb = 6 / 8, 1 / 8
    want1 = round(-math.log2(pa), 6)
    want2 = round((-2 * math.log2(pa) - 2 * math.log2(pb)) / 4, 6)
    assert got == {1: (4, want1), 2: (4, want2)}
    assert got[1][1] < got[2][1]


def test_pq_topk_partition_invariant_and_recall(spark):
    """PQ/ADC results must be identical under any partition layout
    (deterministic trainer sample, encode argmin, per-partition exact
    cut), and clear the 0.8 recall floor vs the exact baseline."""
    from osmflat_rs_spark.operators.ann import cosine_topk, pq_topk, train_pq_codebooks

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 3).select(F.col("vec_id").alias("query_id"), "embedding")
    books = train_pq_codebooks(emb, m=8, n_codes=16)
    books2 = train_pq_codebooks(emb.repartition(13), m=8, n_codes=16)
    assert np.array_equal(books, books2), "trainer sample must be layout-invariant"

    r1 = {(r["query_id"], r["rank"], r["vec_id"]) for r in pq_topk(emb, q, books, k=5).collect()}
    r2 = {(r["query_id"], r["rank"], r["vec_id"])
          for r in pq_topk(emb.repartition(7), q, books, k=5).collect()}
    assert r1 == r2

    # recall floor on the sf0.01 corpus (500 vectors — the gate's data;
    # the 50-vector sf0.001 corpus is too small to train 16 codewords)
    emb1 = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q1 = emb1.filter(F.col("vec_id") < 3).select(F.col("vec_id").alias("query_id"), "embedding")
    books1 = train_pq_codebooks(emb1, m=8, n_codes=32)
    exact = {(r["query_id"], r["vec_id"]) for r in cosine_topk(emb1, q1, k=5).collect()}
    approx = {(r["query_id"], r["vec_id"])
              for r in pq_topk(emb1, q1, books1, k=5, oversample=8).collect()}
    for qid in (0, 1, 2):
        hit = len({p for p in exact if p[0] == qid} & approx)
        assert hit >= 4, f"query {qid} recall {hit}/5"


def test_pq_encode_reconstruction_beats_random(spark):
    """The codebooks must actually quantize: mean reconstruction error
    of encoded vectors is well below the error of RANDOM code
    assignment (sanity that training converged)."""
    from osmflat_rs_spark.operators.ann import pq_encode, train_pq_codebooks

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    books = train_pq_codebooks(emb, m=8, n_codes=16)
    pdf = pq_encode(emb, books).select("embedding", "pq_codes").toPandas()
    x = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
    x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    codes = np.stack(pdf["pq_codes"].to_numpy())
    m, n_codes, sd = books.shape
    rec = np.concatenate([books[j][codes[:, j]] for j in range(m)], axis=1)
    rng = np.random.RandomState(0)
    rnd = np.concatenate(
        [books[j][rng.randint(0, n_codes, len(x))] for j in range(m)], axis=1
    )
    err = ((x - rec) ** 2).sum(axis=1).mean()
    err_rnd = ((x - rnd) ** 2).sum(axis=1).mean()
    assert err < 0.5 * err_rnd, (err, err_rnd)
    # encode is the per-subspace L2 argmin: no other code may be closer
    j = 3
    d2 = ((x[:, j * sd:(j + 1) * sd][:, None, :] - books[j][None]) ** 2).sum(axis=2)
    assert np.array_equal(d2.argmin(axis=1), codes[:, j])


def test_ivf_pq_topk_recall_and_layout_invariance(spark):
    """The composed IVF+PQ path must clear the recall floor (cluster
    pruning + ADC + exact re-rank) and give identical results under any
    partition layout; with n_probes == n_clusters it degrades to the
    plain PQ scan's candidate pool."""
    from osmflat_rs_spark.operators.ann import (
        cosine_topk,
        ivf_pq_topk,
        train_ivf_centroids,
        train_pq_codebooks,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 3).select(F.col("vec_id").alias("query_id"), "embedding")
    cent = train_ivf_centroids(emb, n_clusters=16)
    books = train_pq_codebooks(emb, m=8, n_codes=32)

    res = ivf_pq_topk(emb, q, cent, books, k=5, n_probes=8, oversample=8)
    r1 = {(r["query_id"], r["rank"], r["vec_id"]) for r in res.collect()}
    r2 = {(r["query_id"], r["rank"], r["vec_id"])
          for r in ivf_pq_topk(emb.repartition(7), q, cent, books, k=5, n_probes=8, oversample=8).collect()}
    assert r1 == r2

    exact = {(r["query_id"], r["vec_id"]) for r in cosine_topk(emb, q, k=5).collect()}
    approx = {(a, c) for a, _, c in r1}
    for qid in (0, 1, 2):
        hit = len({p for p in exact if p[0] == qid} & approx)
        assert hit >= 4, f"query {qid} recall {hit}/5"


def test_pq_topk_precoded_codes_identical(spark):
    """Scanning a PRE-ENCODED codes table (the at-rest form) must give
    byte-identical results to inline encoding."""
    from osmflat_rs_spark.operators.ann import pq_encode, pq_topk, train_pq_codebooks

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 3).select(F.col("vec_id").alias("query_id"), "embedding")
    books = train_pq_codebooks(emb, m=8, n_codes=32)
    codes = pq_encode(emb, books).select("vec_id", "pq_codes")
    inline = {(r["query_id"], r["rank"], r["vec_id"], r["cosine"])
              for r in pq_topk(emb, q, books, k=5, oversample=8).collect()}
    precoded = {(r["query_id"], r["rank"], r["vec_id"], r["cosine"])
                for r in pq_topk(emb, q, books, k=5, oversample=8, codes=codes).collect()}
    assert inline == precoded


def test_pii_scrub_semantics(spark):
    """Hand-built texts: each pattern redacts + counts; the stage order
    contract (count on already-scrubbed text) means an email's host is
    consumed before the IPv4 pass; clean text is a fixpoint."""
    from osmflat_rs_spark.operators.textops import pii_scrub

    rows = [
        (1, "mail a.b-c%d@sub.example.org and x@y.io now"),
        (2, "server 10.1.2.3 and 255.255.255.255, version 1.2 not ip"),
        (3, "call +4915712345678 or +1234567 but not +123456"),
        (4, "joe@10.2.3.4 stays: host has no alpha TLD, then ip matches"),
        (5, "clean text with no pii at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r.asDict() for r in pii_scrub(df, "doc_id", "text").collect()}
    assert (out[1]["n_email"], out[1]["n_ipv4"], out[1]["n_phone"]) == (2, 0, 0)
    assert out[1]["text_clean"] == "mail <EMAIL> and <EMAIL> now"
    assert (out[2]["n_email"], out[2]["n_ipv4"]) == (0, 2)
    assert out[2]["text_clean"] == "server <IP> and <IP>, version 1.2 not ip"
    assert (out[3]["n_phone"], out[3]["text_clean"]) == (
        2, "call <PHONE> or <PHONE> but not +123456")
    # email pattern needs an alpha TLD, so joe@10.2.3.4 is NOT an email;
    # the ip stage then catches the host
    assert (out[4]["n_email"], out[4]["n_ipv4"]) == (0, 1)
    assert out[4]["text_clean"].startswith("joe@<IP> stays")
    assert out[5]["text_clean"] == rows[4][1]
    assert (out[5]["n_email"], out[5]["n_ipv4"], out[5]["n_phone"]) == (0, 0, 0)
    # fixpoint: scrubbing scrubbed text changes nothing
    again = pii_scrub(
        spark.createDataFrame([(1, out[1]["text_clean"])], "doc_id long, text string"),
        "doc_id", "text").collect()[0]
    assert again["text_clean"] == out[1]["text_clean"]


def test_bigram_logprob_matches_handcomputed(spark):
    """Tiny corpus where every add-one probability is hand-derivable;
    word-salad doc scores strictly worse than the stereotyped one even
    though its unigram distribution is identical."""
    import math

    from osmflat_rs_spark.operators.textops import bigram_logprob

    rows = [
        (1, "a b a b a b"),
        (2, "b a b a b a"),   # same unigrams, same bigram structure reversed
        (3, "a a b b a a"),   # word salad vs the corpus's dominant a->b chain
        (4, "solo"),          # < 2 tokens -> NULL score
        (5, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r.asDict() for r in
           bigram_logprob(df, "doc_id", "text").collect()}
    # corpus bigrams: from docs 1-3; V = 4 ('a','b','solo', and ''
    # from the empty doc — words_expr yields [''] on empty text)
    toks = [t.split(" ") for t in ("a b a b a b", "b a b a b a", "a a b b a a")]
    cb, c1 = {}, {}
    for ws in toks:
        for x, y in zip(ws, ws[1:]):
            cb[(x, y)] = cb.get((x, y), 0) + 1
            c1[x] = c1.get(x, 0) + 1
    V = 4
    for did, text in rows[:3]:
        ws = text.split(" ")
        lps = [-math.log2((cb[(x, y)] + 1) / (c1[x] + V)) for x, y in zip(ws, ws[1:])]
        assert abs(out[did]["avg_neg_log2p"] - round(sum(lps) / len(lps), 6)) < 2e-6
        assert out[did]["n_bigrams"] == 5
    assert out[4]["avg_neg_log2p"] is None and out[4]["n_bigrams"] == 0
    assert out[5]["avg_neg_log2p"] is None and out[5]["n_bigrams"] == 0
    assert out[3]["avg_neg_log2p"] > out[1]["avg_neg_log2p"]


def test_interleave_profile_semantics(spark):
    """Hand-built span sequences incl. shuffled offsets (re-sort
    contract), zero-span docs, single-kind docs."""
    from osmflat_rs_spark.operators.multimodal import interleave_profile

    def mk(kinds, shuffle=False):
        spans = [(k, f"t{i}", None if k == "text" else f"m{i}", i)
                 for i, k in enumerate(kinds)]
        if shuffle:
            spans = spans[::-1]
        return spans

    rows = [
        (1, mk(["text", "text", "media", "media", "media", "text"])),
        (2, mk(["media", "text", "media", "text"], shuffle=True)),
        (3, mk(["text"] * 4)),
        (4, []),
    ]
    df = spark.createDataFrame(
        rows,
        "doc_id long, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    out = {r["doc_id"]: r.asDict() for r in interleave_profile(df).collect()}
    assert out[1] == {"doc_id": 1, "n_spans": 6, "n_media": 3, "n_runs": 3,
                      "max_run": 3, "media_permille": 500}
    # doc 2 arrives offset-reversed; the profile must re-sort: m t m t -> 4 runs
    assert out[2] == {"doc_id": 2, "n_spans": 4, "n_media": 2, "n_runs": 4,
                      "max_run": 1, "media_permille": 500}
    assert out[3] == {"doc_id": 3, "n_spans": 4, "n_media": 0, "n_runs": 1,
                      "max_run": 4, "media_permille": 0}
    assert out[4] == {"doc_id": 4, "n_spans": 0, "n_media": 0, "n_runs": 0,
                      "max_run": 0, "media_permille": None}


def test_hll_portable_accuracy_and_merge(spark):
    """Portable HLL: estimate within ~3/sqrt(256)≈19% of truth at three
    cardinalities; merge == build-over-concat (register-exact); estimate
    invariant to partition layout."""
    from osmflat_rs_spark.operators.sketch import hll_build, hll_estimate, hll_merge

    for n in (300, 5_000, 60_000):
        df = spark.range(n).select(F.col("id").alias("k"))
        est = hll_estimate(hll_build(df, "k")).collect()[0]["est"]
        assert abs(est - n) / n < 0.19, (n, est)
    a = spark.range(0, 4_000).select(F.col("id").alias("k"))
    b = spark.range(2_000, 7_000).select(F.col("id").alias("k"))  # overlap
    merged = hll_merge(hll_build(a, "k"), hll_build(b, "k"))
    direct = hll_build(a.unionByName(b), "k")
    mrows = sorted((r["bucket"], r["rho"]) for r in merged.collect())
    drows = sorted((r["bucket"], r["rho"]) for r in direct.collect())
    assert mrows == drows
    est1 = hll_estimate(hll_build(a.repartition(13), "k")).collect()[0]
    est2 = hll_estimate(hll_build(a.coalesce(1), "k")).collect()[0]
    assert est1 == est2


# ------------------------------------------------------------------- BM25


def _model_bm25(texts, terms, k1=1.2, b=0.75):
    """Pure-Python BM25 over whitespace-lowered tokens, same formula
    and same left-associated term-order summation as the operator."""
    import math

    toks = {i: t.lower().strip().split() if t.strip() else [""] for i, t in texts.items()}
    n = len(texts)
    avgdl = sum(len(v) for v in toks.values()) / n
    dfreq = {t: sum(1 for v in toks.values() if t in v) for t in terms}
    out = {}
    for i, v in toks.items():
        dl = len(v)
        s = 0.0
        hit = False
        for t in terms:
            tf = v.count(t)
            hit = hit or tf > 0
            idf = math.log((n - dfreq[t] + 0.5) / (dfreq[t] + 0.5) + 1.0)
            s = s + idf * ((tf * (k1 + 1.0)) / (tf + k1 * ((1.0 - b) + b * (dl / avgdl))))
        if hit:
            out[i] = (dl, round(s, 6))
    return out


def test_bm25_matches_model_random(spark):
    import numpy as np

    from osmflat_rs_spark.operators.textops import bm25_score

    rng = np.random.default_rng(23)
    vocab = ["join", "scan", "row", "vector", "stream", "batch", "the", "a"]
    texts = {
        i: " ".join(rng.choice(vocab, size=rng.integers(3, 25)))
        for i in range(60)
    }
    terms = ["join", "vector", "stream"]
    want = _model_bm25(texts, terms)
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_tokens"], r["score"])
        for r in bm25_score(df, "doc_id", "text", terms).collect()
    }
    assert set(got) == set(want)
    for i in got:
        assert got[i][0] == want[i][0]
        assert abs(got[i][1] - want[i][1]) < 1e-9
    # partition invariance
    got2 = {
        r["doc_id"]: (r["n_tokens"], r["score"])
        for r in bm25_score(df.repartition(7), "doc_id", "text", terms).collect()
    }
    assert got2 == got


def test_bm25_keep_zero_and_validation(spark):
    import pytest as _pytest

    from osmflat_rs_spark.operators.textops import bm25_score

    df = spark.createDataFrame(
        [(0, "join scan join"), (1, "row row row"), (2, "the a the")],
        "doc_id long, text string",
    )
    hits = bm25_score(df, "doc_id", "text", ["join"]).collect()
    assert [r["doc_id"] for r in hits] == [0]
    allrows = {r["doc_id"]: r["score"] for r in
               bm25_score(df, "doc_id", "text", ["join"], keep_zero=True).collect()}
    assert set(allrows) == {0, 1, 2} and allrows[1] == 0.0 and allrows[2] == 0.0
    assert allrows[0] > 0
    with _pytest.raises(ValueError):
        bm25_score(df, "doc_id", "text", [])
    with _pytest.raises(ValueError):
        bm25_score(df, "doc_id", "text", ["x"], b=1.5)
    # duplicate query terms collapse (idempotent scoring)
    one = {r["doc_id"]: r["score"] for r in
           bm25_score(df, "doc_id", "text", ["join", "join"]).collect()}
    assert one == {0: allrows[0]}


# --------------------------------------------------------------- freq pairs


def _model_freq_pairs(texts, num, den):
    import itertools

    sets = {i: set(t.lower().strip().split()) if t.strip() else {""}
            for i, t in texts.items()}
    n = len(texts)
    supp = {}
    for s in sets.values():
        for it in s:
            supp[it] = supp.get(it, 0) + 1
    out = {}
    items = sorted(supp)
    for a, b in itertools.combinations(items, 2):
        c = sum(1 for s in sets.values() if a in s and b in s)
        if c * den >= num * n and supp[a] * den >= num * n and supp[b] * den >= num * n:
            out[(a, b)] = (c, supp[a], supp[b], round(c * n / (supp[a] * supp[b]), 6))
    return out


def test_frequent_pairs_matches_model(spark):
    import numpy as np

    from osmflat_rs_spark.operators.textops import frequent_pairs

    rng = np.random.default_rng(41)
    vocab = ["a", "b", "c", "d", "e", "f", "g", "rare1", "rare2"]
    probs = np.array([0.8, 0.7, 0.6, 0.5, 0.4, 0.3, 0.2, 0.05, 0.02])
    texts = {}
    for i in range(80):
        words = [w for w, p in zip(vocab, probs) if rng.random() < p]
        # duplicates in the text must not double-count support
        texts[i] = " ".join(words + words[:2]) if words else "x"
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    num, den = 1, 4
    want = _model_freq_pairs(texts, num, den)
    got = {
        (r["item_a"], r["item_b"]): (r["n_docs"], r["support_a"], r["support_b"], r["lift"])
        for r in frequent_pairs(df, "doc_id", "text", min_support_frac=(num, den)).collect()
    }
    assert got == want
    # absolute threshold form agrees when it encodes the same bound
    import math

    abs_thr = math.ceil(num * len(texts) / den)
    got_abs = {
        (r["item_a"], r["item_b"]): r["n_docs"]
        for r in frequent_pairs(df, "doc_id", "text", min_support=abs_thr).collect()
    }
    assert got_abs == {k: v[0] for k, v in want.items()}
    # partition layout: same answer
    got_rp = {
        (r["item_a"], r["item_b"]): (r["n_docs"], r["support_a"], r["support_b"], r["lift"])
        for r in frequent_pairs(
            df.repartition(7), "doc_id", "text", min_support_frac=(num, den),
        ).collect()
    }
    assert got_rp == want


def test_frequent_pairs_validation(spark):
    import pytest as _pytest

    from osmflat_rs_spark.operators.textops import frequent_pairs

    df = spark.createDataFrame([(0, "a b")], "doc_id long, text string")
    with _pytest.raises(ValueError):
        frequent_pairs(df, "doc_id", "text")
    with _pytest.raises(ValueError):
        frequent_pairs(df, "doc_id", "text", min_support=2, min_support_frac=(1, 2))
    with _pytest.raises(ValueError):
        frequent_pairs(df, "doc_id", "text", min_support=0)


# ------------------------------------------------------------ edit distance


def _lev(a, b):
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_edit_distance_join_matches_bruteforce(spark):
    import numpy as np

    from osmflat_rs_spark.operators.dedup import edit_distance_join

    rng = np.random.default_rng(67)
    base = ["spark join engine", "spark joint engine", "tile raster sink",
            "tile raster sync", "knn lookup", "completely different string here"]
    rows = []
    for i in range(60):
        s = base[rng.integers(0, len(base))]
        # random single-char edits
        s = list(s)
        for _ in range(rng.integers(0, 3)):
            p = rng.integers(0, len(s))
            s[p] = chr(ord('a') + rng.integers(0, 26))
        rows.append((i, "".join(s)))
    for d in (0, 2, 5):
        want = {
            (a, b): _lev(sa, sb)
            for (a, sa) in rows for (b, sb) in rows
            if a < b and _lev(sa, sb) <= d
        }
        df = spark.createDataFrame(rows, "doc_id long, st string")
        got = {(r["id_a"], r["id_b"]): r["dist"]
               for r in edit_distance_join(df, "doc_id", "st", d).collect()}
        assert got == want, f"d={d}"
        got_q = {(r["id_a"], r["id_b"]): r["dist"]
                 for r in edit_distance_join(df, "doc_id", "st", d, method="qgram").collect()}
        assert got_q == want, f"qgram d={d}"
    # partition invariance at d=5
    got2 = {(r["id_a"], r["id_b"]): r["dist"]
            for r in edit_distance_join(
                spark.createDataFrame(rows, "doc_id long, st string").repartition(7),
                "doc_id", "st", 5).collect()}
    assert got2 == want


def test_edit_distance_join_band_is_lossless_and_validates(spark):
    import pytest as _pytest

    from osmflat_rs_spark.operators.dedup import edit_distance_join

    # strings straddling a bucket boundary: len 5 and len 9 with d=4
    # (bucket width 5: buckets 1 and 1 -> fine) and len 4 vs len 8
    # (buckets 0 and 1 -> adjacent-bucket probe must catch it)
    rows = [(1, "aaaa"), (2, "aaaaaaaa"), (3, "zzzz")]
    df = spark.createDataFrame(rows, "doc_id long, st string")
    got = {(r["id_a"], r["id_b"]): r["dist"]
           for r in edit_distance_join(df, "doc_id", "st", 4).collect()}
    # (1,2) crosses buckets 0->1 (the adjacent-bucket probe);
    # (2,3) is dist 8 > 4 and must be excluded
    assert got == {(1, 2): 4, (1, 3): 4}
    with _pytest.raises(ValueError):
        edit_distance_join(df, "doc_id", "st", -1)


# ------------------------------------------------------------ feature hash


def _fh_model(texts, dim, signed):
    import hashlib
    import re

    def h60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    out = []
    for t in texts:
        toks = re.split(WS_PY + "+", re.sub("^" + WS_PY + "+|" + WS_PY + "+$", "", t.lower()))
        vec = [0] * dim
        for w in toks:
            b = h60(w) % dim
            s = (h60("s:" + w) % 2) * 2 - 1 if signed else 1
            vec[b] += s
        out.append(vec)
    return out


def test_feature_hash_matches_model(spark):
    import pytest as _pytest

    from osmflat_rs_spark.operators.textops import feature_hash

    texts = [
        "spark join engine spark spark",
        "  padded   text with nbsp and　ideographic spaces ",
        "",
        "singleword",
    ]
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for signed in (True, False):
        want = _fh_model(texts, 16, signed)
        got = {
            r["doc_id"]: r["vec"]
            for r in feature_hash(df, "doc_id", "text", dim=16, signed=signed).collect()
        }
        assert got == {i: want[i] for i in range(len(texts))}, f"signed={signed}"
    # duplicate tokens count with multiplicity: 3x 'spark'
    v = _fh_model(["spark"], 16, False)[0]
    v3 = _fh_model(["spark spark spark"], 16, False)[0]
    assert [3 * x for x in v] == v3
    with _pytest.raises(ValueError):
        feature_hash(df, "doc_id", "text", dim=0)


def test_feature_hash_partition_invariance_and_signed_cancellation(spark):
    import numpy as np

    from osmflat_rs_spark.operators.textops import feature_hash

    rng = np.random.default_rng(3)
    vocab = [f"w{i}" for i in range(200)]
    texts = [" ".join(rng.choice(vocab, size=30)) for _ in range(40)]
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = {r["doc_id"]: r["vec"] for r in feature_hash(df, "doc_id", "text", dim=32).collect()}
    b = {
        r["doc_id"]: r["vec"]
        for r in feature_hash(df.repartition(7), "doc_id", "text", dim=32).collect()
    }
    assert a == b
    # signed vectors preserve the squared-norm scale of the doc better
    # than unsigned under collisions (sanity: every vec sums tokens)
    uns = {r["doc_id"]: r["vec"] for r in feature_hash(df, "doc_id", "text", dim=32, signed=False).collect()}
    assert all(sum(v) == 30 for v in uns.values())


# ------------------------------------------------------------- containment


def test_containment_pairs_asymmetric_and_model(spark):
    import re

    import pytest as _pytest

    from osmflat_rs_spark.operators.dedup import containment_pairs

    page = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, "alpha beta gamma", "s"),          # snippet contained in page
        (2, page, "s"),
        (3, "alpha beta gamma x", "s"),        # near-miss (3/4 = 0.75)
        (4, "unrelated words entirely", "s"),
        (5, "alpha  beta gamma", "s"),         # whitespace-variant of 1
        (6, "other bucket alpha beta gamma", "t"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")

    def toks(t):
        return set(re.split(WS_PY + "+", re.sub("^" + WS_PY + "+|" + WS_PY + "+$", "", t.lower())))

    want = {}
    for ia, ta, ba in rows:
        for ib, tb, bb in rows:
            if ia == ib or ba != bb:
                continue
            A, B = toks(ta), toks(tb)
            c = len(A & B) / len(A)
            if c >= 0.8:
                want[(ia, ib)] = c
    got = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in containment_pairs(df, "doc_id", "text", "source", threshold=0.8).collect()
    }
    assert got == want
    # the asymmetry is the point: snippet->page yes, page->snippet no
    assert (1, 2) in want and (2, 1) not in want
    # near-equal sets give BOTH directions
    assert (1, 5) in want and (5, 1) in want
    # jaccard would reject snippet-in-page at the same threshold
    assert len(toks(rows[0][1]) & toks(page)) / len(toks(rows[0][1]) | toks(page)) < 0.8


# ----------------------------------------------------- hamming join + dhash


def test_hamming_neardup_pairs_matches_bruteforce(spark):
    import numpy as np
    import pytest as _pytest

    from osmflat_rs_spark.operators.dedup import hamming_neardup_pairs

    rng = np.random.default_rng(44)
    base_hashes = rng.integers(-(1 << 62), 1 << 62, 30, dtype=np.int64)
    rows = []
    rid = 0
    for h in base_hashes:
        rows.append((rid, int(h))); rid += 1
        # planted near-dups: flip 1..4 random bits (in unsigned space —
        # XOR on a negative Python int escapes 64 bits)
        for nf in (1, 3, 4):
            u = int(h) & ((1 << 64) - 1)
            for b in rng.choice(64, size=nf, replace=False):
                u ^= 1 << int(b)
            rows.append((rid, u - (1 << 64) if u >= 1 << 63 else u)); rid += 1
    df = spark.createDataFrame(rows, "doc_id long, h long")
    for k in (0, 1, 3):
        want = {
            (a, b): bin((ha ^ hb) & ((1 << 64) - 1)).count("1")
            for (a, ha) in rows for (b, hb) in rows
            if a < b and bin((ha ^ hb) & ((1 << 64) - 1)).count("1") <= k
        }
        got = {(r["id_a"], r["id_b"]): r["hamming"]
               for r in hamming_neardup_pairs(df, "doc_id", "h", bits=64, max_hamming=k).collect()}
        assert got == want, f"k={k}"
    # exact duplicates match on EVERY band yet appear exactly once (k=3)
    dup = spark.createDataFrame([(1, -12345), (2, -12345)], "doc_id long, h long")
    out = hamming_neardup_pairs(dup, "doc_id", "h", bits=64, max_hamming=3).collect()
    assert [(r["id_a"], r["id_b"], r["hamming"]) for r in out] == [(1, 2, 0)]
    with _pytest.raises(ValueError):
        hamming_neardup_pairs(df, "doc_id", "h", bits=64, max_hamming=64)
    with _pytest.raises(ValueError):
        hamming_neardup_pairs(df, "doc_id", "h", bits=0)


def test_dhash_images_model_and_robustness(spark):
    import numpy as np

    from osmflat_rs_spark.operators.dedup import hamming_neardup_pairs
    from osmflat_rs_spark.operators.multimodal import dhash_images

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, (24, 36), dtype=np.uint8)
    big = img.repeat(3, axis=0).repeat(3, axis=1)       # 3x nearest upscale
    tweak = img.copy(); tweak[0, 0] ^= 0xFF             # one-pixel change
    other = rng.integers(0, 256, (24, 36), dtype=np.uint8)

    def p5(a):
        return b"P5\n%d %d\n255\n" % (a.shape[1], a.shape[0]) + a.tobytes()

    rows = [
        ("orig", "image", 36, 24, bytearray(p5(img))),
        ("big", "image", 108, 72, bytearray(p5(big))),
        ("tweak", "image", 36, 24, bytearray(p5(tweak))),
        ("other", "image", 36, 24, bytearray(p5(other))),
    ]
    media = spark.createDataFrame(
        rows, "media_ref string, media_type string, width int, height int, payload binary"
    )
    got = {r["media_ref"]: r["dhash"] for r in dhash_images(media).collect()}

    # python model for orig
    ys = np.minimum((np.arange(8) * 24) // 8, 23)
    xs = np.minimum((np.arange(9) * 36) // 9, 35)
    g = img[np.ix_(ys, xs)].astype(np.int16)
    bits = (g[:, 1:] > g[:, :-1]).flatten()
    val = sum(1 << i for i, b in enumerate(bits) if b)
    if val >= 1 << 63:
        val -= 1 << 64
    assert got["orig"] == val
    # scale-invariance: 3x nearest upscale samples identical pixels
    assert got["big"] == got["orig"]
    # one-pixel tweak: hamming small; unrelated image: large
    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")
    assert ham(got["tweak"], got["orig"]) <= 2
    assert ham(got["other"], got["orig"]) > 10
    # end-to-end: dhash -> banded hamming join finds the planted dups
    hashes = dhash_images(media).withColumnRenamed("media_ref", "doc_id")
    pairs = {(r["id_a"], r["id_b"]) for r in hamming_neardup_pairs(
        hashes, "doc_id", "dhash", bits=64, max_hamming=3).collect()}
    assert ("big", "orig") in pairs and ("orig", "tweak") in pairs
    assert not any("other" in p for p in pairs)


def test_hamming_n_blocks_match_default_and_brute(spark):
    import numpy as np
    import pytest as _pytest

    from osmflat_rs_spark.operators.dedup import hamming_neardup_pairs

    rng = np.random.default_rng(91)
    rows = []
    rid = 0
    for h in rng.integers(-(1 << 62), 1 << 62, 25, dtype=np.int64):
        rows.append((rid, int(h))); rid += 1
        for nf in (1, 2, 3, 5):
            u = int(h) & ((1 << 64) - 1)  # unsigned space: XOR stays in 64 bits
            for b in rng.choice(64, size=nf, replace=False):
                u ^= 1 << int(b)
            rows.append((rid, u - (1 << 64) if u >= 1 << 63 else u)); rid += 1
    rows += [(rid + i, h) for i, (_, h) in enumerate(rows[:15:5])]  # exact dups
    assert any(h < 0 for _, h in rows[-3:])  # incl. a sign-bit-set hash
    df = spark.createDataFrame(rows, "doc_id long, h long")
    for k in (0, 1, 3):
        want = {
            (a, b): bin((ha ^ hb) & ((1 << 64) - 1)).count("1")
            for (a, ha) in rows for (b, hb) in rows
            if a < b and bin((ha ^ hb) & ((1 << 64) - 1)).count("1") <= k
        }
        assert want
        bands = {(r["id_a"], r["id_b"]): r["hamming"]
                 for r in hamming_neardup_pairs(df, "doc_id", "h", bits=64, max_hamming=k).collect()}
        assert bands == want, f"k={k} default"
        # k=0 with B=1: one combination keyed on the full 64-bit hash
        for nb in (k + 1, k + 2, 6, 8):
            blocks = {(r["id_a"], r["id_b"]): r["hamming"]
                      for r in hamming_neardup_pairs(
                          df, "doc_id", "h", bits=64, max_hamming=k, n_blocks=nb).collect()}
            assert blocks == want, f"k={k} nb={nb}"
    with _pytest.raises(ValueError):
        hamming_neardup_pairs(df, "doc_id", "h", bits=64, max_hamming=3, n_blocks=3)
    with _pytest.raises(ValueError):
        hamming_neardup_pairs(df, "doc_id", "h", bits=64, max_hamming=3, n_blocks=65)


def test_hamming_block_join_plans_no_dedup_aggregate(spark):
    """Several (B−k)-combinations can be intact for one pair; ownership
    by the first intact one emits it once, so the block-combination plan
    needs no dedup aggregate (no dropDuplicates / HashAggregate)."""
    from osmflat_rs_spark.operators.dedup import hamming_neardup_pairs

    df = spark.createDataFrame([(i, i * 7919) for i in range(50)], "doc_id long, h long")
    out = hamming_neardup_pairs(df, "doc_id", "h", bits=64, max_hamming=3, n_blocks=6)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" not in plan, plan[:3000]
    assert "Join" in plan, plan[:3000]


def test_edit_distance_qgram_boundary_regime(spark):
    """The count-filter guarantee needs max(len) >= q + q*d; pairs below
    that can share NO gram (q=3, d=2: 'abcde' vs two-substitution
    'axcye' have disjoint gram sets) and MUST route through the band
    subset — this pins the routing cut at q-1+q*d."""
    import pytest as _pytest

    from osmflat_rs_spark.operators.dedup import edit_distance_join

    rows = [
        (1, "abcde"), (2, "axcye"),            # d=2, disjoint grams, len 5
        (3, "ab"), (4, "b"),                   # shorter than q entirely
        (5, "abcdefghijkl"), (6, "abxdefghijyl"),  # len 12 >= q+q*d: qgram regime
        (7, "zzzzzzzzzzzz"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, st string")
    want = {
        (a, b): _lev(sa, sb)
        for (a, sa) in rows for (b, sb) in rows
        if a < b and _lev(sa, sb) <= 2
    }
    assert (1, 2) in want and (5, 6) in want  # both regimes non-trivial
    for method in ("band", "qgram"):
        got = {(r["id_a"], r["id_b"]): r["dist"]
               for r in edit_distance_join(df, "doc_id", "st", 2, method=method).collect()}
        assert got == want, method
    # duplicate-gram strings: occurrence-indexed bag elements
    dup_rows = [(1, "aaaaaaaaaaaa"), (2, "aaaaabaaaaaa"), (3, "aaabbbaaabbb")]
    ddf = spark.createDataFrame(dup_rows, "doc_id long, st string")
    want2 = {
        (a, b): _lev(sa, sb)
        for (a, sa) in dup_rows for (b, sb) in dup_rows
        if a < b and _lev(sa, sb) <= 2
    }
    got2 = {(r["id_a"], r["id_b"]): r["dist"]
            for r in edit_distance_join(ddf, "doc_id", "st", 2, method="qgram").collect()}
    assert got2 == want2
    with _pytest.raises(ValueError):
        edit_distance_join(df, "doc_id", "st", 2, method="nope")
    with _pytest.raises(ValueError):
        edit_distance_join(df, "doc_id", "st", 2, method="qgram", q=0)


def test_boilerplate_strip_known_corpus(spark):
    """Hand-built corpus: a 'cookie banner' line repeated across 3 docs of
    source A must be stripped from each; the same line under source B with
    only one doc survives; order of surviving lines is preserved."""
    from osmflat_rs_spark.operators.textops import boilerplate_strip

    banner = "accept all cookies"
    rows = [
        (1, f"{banner} alpha beta gamma", "A"),
        (2, f"delta echo foxtrot {banner}", "A"),
        (3, f"{banner} golf hotel india", "A"),
        (4, f"{banner} juliet kilo lima", "B"),  # unique within B -> kept
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {
        r["doc_id"]: r
        for r in boilerplate_strip(
            df, "doc_id", "text", "source", line_words=3, min_docs=3
        ).collect()
    }
    assert len(out) == 4
    # each A doc: 2 lines, 1 boiler, banner gone, own words kept in order
    assert (out[1]["n_lines"], out[1]["n_boiler"]) == (2, 1)
    assert out[1]["clean_text"] == "alpha beta gamma"
    assert out[2]["clean_text"] == "delta echo foxtrot"
    assert out[3]["clean_text"] == "golf hotel india"
    # B doc untouched (banner df=1 in B)
    assert out[4]["n_boiler"] == 0
    assert out[4]["clean_text"] == "accept all cookies juliet kilo lima"


def test_boilerplate_strip_all_boiler_and_validation(spark):
    """Docs whose every line is boilerplate still emit a row with empty
    clean_text; bad params raise."""
    import pytest

    from osmflat_rs_spark.operators.textops import boilerplate_strip

    df = spark.createDataFrame(
        [(i, "same exact line", "A") for i in range(4)],
        "doc_id long, text string, source string",
    )
    got = boilerplate_strip(df, "doc_id", "text", "source", line_words=3, min_docs=2)
    for r in got.collect():
        assert (r["n_lines"], r["n_boiler"], r["clean_text"]) == (1, 1, "")
    with pytest.raises(ValueError):
        boilerplate_strip(df, "doc_id", "text", "source", line_words=0)
    with pytest.raises(ValueError):
        boilerplate_strip(df, "doc_id", "text", "source", min_docs=1)


def test_retain_best_keeps_max_quality_and_singletons(spark):
    """Cluster {1,2,3} keeps the max-score member (2); tie cluster {10,11}
    keeps the LOWER id; singleton 99 keeps itself with its own component."""
    from osmflat_rs_spark.operators.dedup import retain_best

    scored = spark.createDataFrame(
        [(1, 5), (2, 9), (3, 7), (10, 4), (11, 4), (99, 1)],
        "doc_id long, score long",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    got = {r["doc_id"]: r for r in retain_best(scored, pairs).collect()}
    assert len(got) == 6
    assert [got[i]["component"] for i in (1, 2, 3)] == [1, 1, 1]
    assert [got[i]["keep"] for i in (1, 2, 3)] == [False, True, False]
    assert (got[10]["keep"], got[11]["keep"]) == (True, False)
    assert got[99]["component"] == 99 and got[99]["keep"]
    # exactly one survivor per component
    from collections import Counter

    kept = Counter(r["component"] for r in got.values() if r["keep"])
    assert all(v == 1 for v in kept.values()) and len(kept) == 3


def test_ngram_novelty_small_corpus(spark):
    """ngram_novelty vs a hand-computed corpus: shared shingles score 0,
    unique score 1, partially-copied docs get the exact fraction; short
    docs (< k words) ride their full text as one shingle; in-doc repeats
    don't inflate counts (distinct shingles)."""
    from osmflat_rs_spark.operators.textops import ngram_novelty

    docs = [
        ("a", "the quick brown fox jumps"),          # shingles: 3
        ("b", "the quick brown fox sleeps"),         # shares 2-of-3 with a
        ("c", "wholly original text here now"),      # unique: novelty 1.0
        ("d", "tiny doc"),                           # < k: full text shingle
        ("e", "tiny doc"),                           # duplicate of d: both 0.0
        ("f", "echo echo echo echo echo echo"),      # one distinct shingle, unique
    ]
    df = spark.createDataFrame(docs, "doc_id string, text string").repartition(3)
    got = {r["doc_id"]: (r["n_shingles"], r["n_novel"], r["novelty"])
           for r in ngram_novelty(df, "doc_id", "text", k=3).collect()}
    # a: {the quick brown, quick brown fox, brown fox jumps};
    # b shares the first two -> each has exactly 1 novel shingle
    assert got["a"] == (3, 1, 1.0 / 3.0)
    assert got["b"] == (3, 1, 1.0 / 3.0)
    assert got["c"] == (3, 3, 1.0)
    assert got["d"] == (1, 0, 0.0)
    assert got["e"] == (1, 0, 0.0)
    # f: 4 positions of 'echo echo echo', all identical -> 1 distinct, novel
    assert got["f"] == (1, 1, 1.0)


def test_hrw_shard_consistency_property(spark):
    """The rendezvous property that justifies the operator: dropping the
    last shard (n=8 -> n=7) remaps ONLY keys that lived on shard 7;
    every other key keeps its exact assignment. Plus balance sanity and
    the Python-side md5 model for the winner."""
    import hashlib

    from osmflat_rs_spark.operators.sampling import hrw_shard

    df = spark.createDataFrame(
        [(f"doc{i:04d}",) for i in range(400)], "doc_id string"
    ).repartition(4)
    a8 = {r["doc_id"]: r["shard"] for r in hrw_shard(df, "doc_id", 8).collect()}
    a7 = {r["doc_id"]: r["shard"] for r in hrw_shard(df, "doc_id", 7).collect()}
    moved = {k for k in a8 if a7[k] != a8[k]}
    assert moved == {k for k, s in a8.items() if s == 7}
    # independent model: argmax of the 60-bit md5 slice, shard tie-break
    def model(key, n):
        best = max(
            (int(hashlib.md5(f"{key}:{s}".encode()).hexdigest()[:15], 16), s)
            for s in range(n)
        )
        return best[1]

    for k in list(a8)[:50]:
        assert a8[k] == model(k, 8), k
    # balance: no empty shard at 400 keys / 8 shards
    from collections import Counter

    c = Counter(a8.values())
    assert len(c) == 8 and min(c.values()) > 10


def test_hrw_shard_validation(spark):
    import pytest as _pytest

    from osmflat_rs_spark.operators.sampling import hrw_shard

    df = spark.createDataFrame([("a",)], "doc_id string")
    with _pytest.raises(ValueError):
        hrw_shard(df, "doc_id", 0)
    one = hrw_shard(df, "doc_id", 1).collect()[0]
    assert one["shard"] == 0


# lexical diversity (TTR / hapax)


def test_lexical_diversity_matches_counter_model(spark):
    """Zero-shuffle sorted-run counts equal the Counter model, including
    the ws-contract edges: empty text (the [''] singleton), NBSP splits,
    all-duplicate and all-unique docs, multi-partition invariance."""
    import re as _re
    from collections import Counter

    rng = np.random.default_rng(31)
    vocab = ["aa", "bb", "ccc", "d", "ee"]
    docs = [
        (i, " ".join(rng.choice(vocab, size=rng.integers(1, 40))))
        for i in range(50)
    ]
    docs += [
        (100, ""),
        (101, " \t  "),
        (102, "x y　x"),
        (103, "same same same"),
        (104, "all words here unique"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    for d in (df, df.repartition(7)):
        got = {
            r["doc_id"]: r.asDict()
            for r in textops.lexical_diversity(d, "doc_id", "text").collect()
        }
        for doc_id, text in docs:
            ws = _re.split(WS_PY + "+", text.strip().lower())
            c = Counter(ws)
            n_tok, n_ty = len(ws), len(c)
            n_hap = sum(1 for v in c.values() if v == 1)
            r = got[doc_id]
            assert (r["n_tokens"], r["n_types"], r["n_hapax"]) == (n_tok, n_ty, n_hap), (doc_id, text)
            assert r["ttr"] == n_ty / n_tok
            assert r["hapax_ratio"] == n_hap / n_ty
    # the empty doc is one ''-token: ratios defined, no cliffs
    assert got[100]["n_tokens"] == 1 and got[100]["ttr"] == 1.0


def test_zipf_slope_matches_numpy_ols(spark):
    """Closed-form ln-ln OLS equals numpy lstsq on the same ranked
    counts; two-phase salting is output-invariant; a single-type group
    yields NULL slope (degenerate normal equations)."""
    import re as _re
    from collections import Counter

    rng = np.random.default_rng(41)
    vocab = [f"w{i}" for i in range(40)]
    p = np.array([1.0 / (i + 1) for i in range(40)]); p /= p.sum()
    docs = [
        (i, "en" if i % 2 == 0 else "de",
         " ".join(rng.choice(vocab, size=rng.integers(5, 60), p=p)))
        for i in range(80)
    ]
    docs.append((200, "xx", "solo solo solo"))
    df = spark.createDataFrame(docs, "doc_id long, lang string, text string")
    outs = []
    for sb in (1, 8):
        got = {
            r["lang"]: r.asDict()
            for r in textops.zipf_slope(df, "text", "lang", top_r=16, salt_buckets=sb).collect()
        }
        outs.append(got)
    assert outs[0] == outs[1]
    got = outs[0]
    for lang in ("en", "de"):
        c = Counter(
            t
            for _, lg, tx in docs
            if lg == lang
            for t in _re.split(WS_PY + "+", tx.strip().lower())
        )
        top = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:16]
        x = np.log(np.arange(1, len(top) + 1, dtype=float))
        y = np.log(np.array([v for _, v in top], dtype=float))
        A = np.vstack([x, np.ones_like(x)]).T
        slope, icept = np.linalg.lstsq(A, y, rcond=None)[0]
        assert got[lang]["n_ranks"] == len(top)
        assert abs(got[lang]["slope"] - slope) < 1e-7
        assert abs(got[lang]["intercept"] - icept) < 1e-7
    assert got["xx"]["n_ranks"] == 1 and got["xx"]["slope"] is None
    import pytest as _pytest

    with _pytest.raises(ValueError):
        textops.zipf_slope(df, "text", "lang", top_r=1)


def test_dsir_importance_matches_python_model(spark):
    """Bucketed uni+bigram LLR against an exact Counter model (same md5
    buckets, same Laplace smoothing); target-like docs outrank
    off-target ones; multi-partition invariance."""
    import hashlib
    import math
    import re as _re
    from collections import Counter

    def b60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % 64

    rng = np.random.default_rng(7)
    tgt_vocab, src_vocab = ["alpha", "beta", "gamma"], ["uno", "dos", "tres"]
    docs = []
    for i in range(30):
        tgt = i % 2 == 0
        vocab = tgt_vocab if tgt else src_vocab
        docs.append((i, tgt, " ".join(rng.choice(vocab, size=rng.integers(2, 20)))))
    docs.append((100, False, ""))  # [''] singleton, no bigrams
    df = spark.createDataFrame(docs, "doc_id long, tgt boolean, text string")

    def feats(text):
        ws = _re.split(WS_PY + "+", text.strip().lower())
        return ws + [f"{a} {b}" for a, b in zip(ws, ws[1:])]

    cs, ct = Counter(), Counter()
    for _, tgt, tx in docs:
        for f in feats(tx):
            cs[b60(f)] += 1
            if tgt:
                ct[b60(f)] += 1
    const = math.log(sum(cs.values()) + 64) - math.log(sum(ct.values()) + 64)
    want = {}
    for doc_id, _, tx in docs:
        fs = feats(tx)
        s = sum(math.log(ct[b60(f)] + 1) - math.log(cs[b60(f)] + 1) for f in fs)
        want[doc_id] = (len(fs), round(s + len(fs) * const, 9))
    from pyspark.sql import functions as F

    for d in (df, df.repartition(5)):
        got = {
            r["doc_id"]: (r["n_feats"], r["log_weight"])
            for r in textops.dsir_importance(d, "doc_id", "text", F.col("tgt"), dim=64).collect()
        }
        for doc_id, (nf, lw) in want.items():
            assert got[doc_id][0] == nf
            assert abs(got[doc_id][1] - lw) < 1e-8, (doc_id, got[doc_id], lw)
    # separation: every pure-target doc outweighs every pure-source doc
    tgt_ws = [got[i][1] for i, t, _ in docs if t]
    src_ws = [got[i][1] for i, t, tx in docs if not t and tx]
    assert min(tgt_ws) > max(src_ws)


def test_cluster_safe_split_no_leakage_and_hash_model(spark):
    """Every component member inherits the component-min cluster and one
    shared split; singletons hash on their own id; assignments equal the
    md5 bucket model; bad percents raise."""
    import hashlib

    from osmflat_rs_spark.operators import dedup as dd

    docs = spark.createDataFrame([(i,) for i in range(40)], "doc_id long")
    # components: {0..3} via a chain, {10,11}, rest singletons
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    got = {
        r["doc_id"]: (r["cluster"], r["split"])
        for r in dd.cluster_safe_split(docs, "doc_id", pairs, 10, 10).collect()
    }
    assert len(got) == 40
    assert {got[i][0] for i in (0, 1, 2, 3)} == {0}
    assert {got[i][1] for i in (0, 1, 2, 3)} == {got[0][1]}
    assert got[10][0] == 10 and got[11][0] == 10 and got[10][1] == got[11][1]

    def model(cluster):
        bk = int(hashlib.md5(f"split:{cluster}".encode()).hexdigest()[:15], 16) % 100
        return "test" if bk < 10 else ("val" if bk < 20 else "train")

    for i, (cl, sp) in got.items():
        if i not in (0, 1, 2, 3, 10, 11):
            assert cl == i
        assert sp == model(cl), (i, cl, sp)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        dd.cluster_safe_split(docs, "doc_id", pairs, 60, 60)


def test_corpus_kl_matches_counter_model(spark):
    """Smoothed bucket KL against the Counter model (all dim buckets,
    including zero-count ones); identical-distribution group scores
    lower than a disjoint-vocab group; KL >= 0."""
    import hashlib
    import math
    from collections import Counter

    def b(s, dim):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % dim

    dim = 32
    rng = np.random.default_rng(79)
    shared = ["red", "green", "blue", "cyan"]
    rows = []
    for i in range(40):
        rows.append((i, "base", " ".join(rng.choice(shared, size=10))))
    for i in range(40, 60):
        rows.append((i, "odd", " ".join(rng.choice(["xx", "yy", "zz"], size=10))))
    df = spark.createDataFrame(rows, "doc_id long, g string, text string")
    got = {
        r["g"]: (r["n_tokens"], r["kl"])
        for r in textops.corpus_kl(df, "text", "g", dim=dim).collect()
    }
    cl, cb = {}, Counter()
    nl = Counter()
    for _, g, tx in rows:
        for t in tx.split(" "):
            cl.setdefault(g, Counter())[b(t, dim)] += 1
            cb[b(t, dim)] += 1
            nl[g] += 1
    N = sum(cb.values())
    for g in ("base", "odd"):
        kl = 0.0
        for bb in range(dim):
            p = (cl[g].get(bb, 0) + 1) / (nl[g] + dim)
            q = (cb.get(bb, 0) + 1) / (N + dim)
            kl += p * math.log(p / q)
        assert got[g][0] == nl[g]
        assert abs(got[g][1] - kl) < 1e-5, g
    assert got["odd"][1] > got["base"][1] > -1e-9


def test_heaps_fit_matches_numpy_and_detects_regimes(spark):
    """Heaps beta equals numpy lstsq over per-doc (ln tokens, ln types);
    an all-unique-token group fits beta ~= 1, an all-same-token group
    beta ~= 0; constant-length degenerate group yields NULLs."""
    rng = np.random.default_rng(89)
    rows = []
    uid = 0
    for i in range(30):
        n = int(rng.integers(5, 80))
        toks = []
        for _ in range(n):
            toks.append(f"u{uid}")
            uid += 1
        rows.append((i, "uniq", " ".join(toks)))
    for i in range(30, 60):
        n = int(rng.integers(5, 80))
        rows.append((i, "const", " ".join(["same"] * n)))
    for i in range(60, 64):
        rows.append((i, "deg", "a b"))
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = {
        r["lang"]: r.asDict()
        for r in textops.heaps_fit(df, "doc_id", "text", "lang").collect()
    }
    import math

    for lang in ("uniq", "const"):
        pts = [
            (math.log(len(tx.split())), math.log(len(set(tx.split()))))
            for _, lg, tx in rows
            if lg == lang
        ]
        x = np.array([p[0] for p in pts]); y = np.array([p[1] for p in pts])
        A = np.vstack([x, np.ones_like(x)]).T
        beta, lnk = np.linalg.lstsq(A, y, rcond=None)[0]
        assert abs(got[lang]["beta"] - beta) < 1e-7
        assert abs(got[lang]["ln_k"] - lnk) < 1e-7
    assert abs(got["uniq"]["beta"] - 1.0) < 1e-6
    assert abs(got["const"]["beta"]) < 1e-6
    assert got["deg"]["beta"] is None and got["deg"]["r2"] is None


def test_kmv_set_ops_exact_small_and_estimates_large(spark):
    """Small domains: union/intersection/jaccard all exact. Large
    domains: estimates within the ~1/sqrt(k-2) KMV band of truth."""
    from osmflat_rs_spark.operators.sketch import kmv_build, kmv_set_ops

    # small: A = 0..29, B = 20..49 -> union 50, inter 10, jac 0.2
    a = spark.createDataFrame([(i,) for i in range(30)], "x long")
    b = spark.createDataFrame([(i,) for i in range(20, 50)], "x long")
    r = kmv_set_ops(kmv_build(a, "x", 64), kmv_build(b, "x", 64), 64).collect()[0]
    assert r["n_h"] == 50 and r["est_union"] == 50.0
    assert r["n_both"] == 10 and r["jaccard_est"] == 0.2
    assert r["est_intersection"] == 10.0
    # large: A = 0..9999, B = 5000..14999 -> union 15000, inter 5000
    a = spark.createDataFrame([(i,) for i in range(10_000)], "x long")
    b = spark.createDataFrame([(i,) for i in range(5_000, 15_000)], "x long")
    k = 256
    r = kmv_set_ops(kmv_build(a, "x", k), kmv_build(b, "x", k), k).collect()[0]
    assert abs(r["est_union"] - 15_000) / 15_000 < 0.25
    assert abs(r["jaccard_est"] - 1 / 3) < 0.15
    assert abs(r["est_intersection"] - 5_000) / 5_000 < 0.45


def test_cdc_chunks_model_and_shift_resilience(spark):
    """Chunks equal the Python rolling model (boundaries where
    hash%8==0), spans tile the doc exactly, and a prefix insertion
    leaves every chunk after the insertion point's chunk identical
    (the content-defined property a fixed stride lacks)."""
    import hashlib

    def h32(t):
        return int(hashlib.md5(t.encode()).hexdigest()[:8], 16)

    rng = np.random.default_rng(127)
    vocab = [f"w{i}" for i in range(60)]
    toks = [str(rng.choice(vocab)) for _ in range(300)]
    text_a = " ".join(toks)
    text_b = " ".join(["inserted"] + toks)  # one-token prefix insertion
    df = spark.createDataFrame(
        [(1, text_a), (2, text_b), (3, "")], "doc_id long, text string"
    )
    got = {}
    for r in textops.cdc_chunks(df, "doc_id", "text", mask_bits=3).collect():
        got.setdefault(r["doc_id"], []).append(
            (r["chunk_idx"], r["start_tok"], r["n_tok"], r["digest"])
        )
    for did in got:
        got[did].sort()

    def model(ws):
        bps = [i for i in range(1, len(ws) + 1) if h32(ws[i - 1]) % 8 == 0 or i == len(ws)]
        out, prev = [], 0
        for j, e in enumerate(bps):
            chunk = ws[prev:e]
            out.append((j, prev + 1, e - prev, hashlib.md5(" ".join(chunk).encode()).hexdigest()))
            prev = e
        return out

    assert got[1] == model(toks)
    assert got[2] == model(["inserted"] + toks)
    assert got[3] == [(0, 1, 1, hashlib.md5(b"").hexdigest())]
    # spans tile: starts/lengths cover 1..n without gaps
    pos = 1
    for _, st, ln, _ in got[1]:
        assert st == pos
        pos += ln
    assert pos == len(toks) + 1
    # shift resilience: all digests of doc 1 except the first chunk's
    # appear in doc 2 as well
    d1 = [d for _, _, _, d in got[1]][1:]
    d2 = {d for _, _, _, d in got[2]}
    assert all(d in d2 for d in d1)


def test_bpe_train_matches_reference_and_apply_parity(spark):
    """Distributed trainer reproduces an independent pure-Python BPE
    (Sennrich tie-broken lexicographically) merge-for-merge on a random
    corpus; apply replays the merges with per-doc subword counts
    consistent with the reference segmentation."""
    from collections import Counter

    from osmflat_rs_spark.operators.textops import bpe_apply, bpe_train

    rng = np.random.default_rng(149)
    vocab = ["low", "lower", "lowest", "new", "newer", "newest", "wide", "wider"]
    docs = [
        (i, " ".join(rng.choice(vocab, size=int(rng.integers(3, 15)))))
        for i in range(40)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    K = 12
    got = [(r["rank"], r["left"], r["right"], r["freq"])
           for r in bpe_train(df, "text", n_merges=K).collect()]

    # independent reference
    wf = Counter(w for _, tx in docs for w in tx.split())
    words = {w: [c for c in w] for w in wf}
    want = []
    for r in range(K):
        pc = Counter()
        for w, sym in words.items():
            for a, b in zip(sym, sym[1:]):
                pc[(a, b)] += wf[w]
        if not pc:
            break
        (a, b), c = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        if c < 2:
            break
        want.append((r, a, b, c))
        for w, sym in words.items():
            out = []
            for s in sym:
                if out and out[-1] == a and s == b:
                    out[-1] = a + b
                else:
                    out.append(s)
            words[w] = out
    assert got == want, (got, want)

    app = {r["doc_id"]: r.asDict()
           for r in bpe_apply(df, "doc_id", "text", bpe_train(df, "text", n_merges=K)).collect()}
    for i, tx in docs:
        ws = tx.split()
        segs = [s for w in ws for s in words[w]]
        assert app[i]["n_words"] == len(ws)
        assert app[i]["n_subwords"] == len(segs)
        assert app[i]["subwords"] == segs


def test_hard_negatives_excludes_same_class_and_ranks(spark):
    """Every returned negative has a different label than its anchor,
    ranks follow rounded-cosine desc with id ties, and the top negative
    equals the brute-force model's."""
    rng = np.random.default_rng(167)
    rows = []
    for i in range(60):
        base = np.zeros(8)
        lab = i % 3
        base[lab] = 1.0
        vec = (base + rng.normal(0, 0.2, 8)).astype(float)
        rows.append((i, [float(x) for x in vec], lab))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    q = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding", "label"
    )
    from osmflat_rs_spark.operators.ann import hard_negatives

    got = {}
    for r in hard_negatives(emb, q, k=3).collect():
        got.setdefault(r["query_id"], []).append(r.asDict())
    labs = {i: lab for i, _, lab in rows}
    vecs = {i: np.array(v) for i, v, _ in rows}
    for qid, lst in got.items():
        lst.sort(key=lambda r: r["rank"])
        assert len(lst) == 3
        model = sorted(
            (
                (-round(float(vecs[i] @ vecs[qid] /
                              (np.linalg.norm(vecs[i]) * np.linalg.norm(vecs[qid]))), 4), i)
                for i in vecs
                if labs[i] != labs[qid]
            )
        )[:3]
        for r, (negc, i) in zip(lst, model):
            assert labs[r["vec_id"]] != labs[qid]
            assert r["vec_id"] == i and abs(r["cosine"] + negc) < 1e-9


def test_bloom_pruned_join_identity_and_plan(spark):
    """Result equals the plain join exactly (no false negatives); the
    predicate prunes most non-matching rows pre-join; the filter is
    pure codegen (no Python, no extra Exchange)."""
    import re

    from osmflat_rs_spark.operators.sketch import bloom_pruned_join

    big = spark.range(20_000).select(
        (F.col("id") % 2000).alias("key"), F.col("id").alias("payload")
    )
    small = spark.range(50).select(
        (F.col("id") * 40).alias("key"), F.lit("s").alias("tag")
    )
    j = bloom_pruned_join(big, small, "key", m_bits=4096, k=4)
    got = sorted((r["key"], r["payload"]) for r in j.collect())
    want = sorted(
        (r["key"], r["payload"]) for r in big.join(small, "key").collect()
    )
    assert got == want and len(got) > 0
    plan = j._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "BroadcastHashJoin" in plan
    assert "Python" not in plan and "mapInPandas" not in plan
    # join output cardinality is the exact-match cardinality
    assert bloom_pruned_join(big, small, "key", m_bits=4096, k=4).count() == len(want)


def test_rrf_fuse_matches_fraction_model(spark):
    """Exact rational RRF equals the Fraction model regardless of
    ranking arrival order; items in one ranking score 1/(k+r); fused
    order puts consensus items first."""
    from fractions import Fraction

    from osmflat_rs_spark.operators.ann import rrf_fuse

    r1 = spark.createDataFrame([("q", 1, 1), ("q", 2, 2), ("q", 3, 3)],
                               "query_id string, vec_id long, rank long")
    r2 = spark.createDataFrame([("q", 3, 1), ("q", 1, 2), ("q", 9, 3)],
                               "query_id string, vec_id long, rank long")
    for order in ([r1, r2], [r2, r1]):
        got = {r["vec_id"]: r.asDict() for r in rrf_fuse(order, k=60).collect()}
        ranks = {1: [1, 2], 2: [2], 3: [3, 1], 9: [3]}
        for vid, rs in ranks.items():
            f = sum((Fraction(1, 60 + r) for r in rs), Fraction(0))
            g = got[vid]
            assert Fraction(g["rrf_num"], g["rrf_den"]) == f, vid
            assert abs(g["rrf"] - float(f)) < 1e-15
            assert g["best_rank"] == min(rs)
    order_by_score = sorted(got, key=lambda v: -got[v]["rrf"])
    assert order_by_score[0] in (1, 3)  # two-ranking items dominate
    import pytest as _pytest

    with _pytest.raises(ValueError):
        rrf_fuse([], k=60)


def test_ndcg_matches_hand_model(spark):
    """nDCG equals the textbook computation on hand rankings: perfect
    ordering = 1, inverted ordering < 1, no relevant rows -> NULL."""
    import math

    from osmflat_rs_spark.operators.ann import ndcg_at_k

    rows = [
        ("perfect", 1, 1), ("perfect", 2, 1), ("perfect", 3, 0),
        ("inverted", 1, 0), ("inverted", 2, 0), ("inverted", 3, 1),
        ("none", 1, 0), ("none", 2, 0),
    ]
    df = spark.createDataFrame(rows, "query_id string, rank long, rel int")
    got = {r["query_id"]: r.asDict() for r in ndcg_at_k(df, k=5).collect()}
    assert got["perfect"]["ndcg"] == 1.0 and got["perfect"]["n_rel"] == 2
    dcg = 1 / math.log2(4)
    idcg = 1 / math.log2(2)
    assert abs(got["inverted"]["ndcg"] - round(dcg, 6) / round(idcg, 6)) < 2e-6
    assert got["inverted"]["ndcg"] < 1.0
    assert got["none"]["ndcg"] is None and got["none"]["n_rel"] == 0


def test_corpus_js_bounded_and_matches_model(spark):
    """Smoothed JS equals the Counter model, sits in [0, ln 2], and a
    disjoint-vocab group scores higher than an in-distribution one."""
    import hashlib
    import math
    from collections import Counter

    def b(s, dim):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % dim

    dim = 32
    rng = np.random.default_rng(191)
    rows = []
    for i in range(40):
        rows.append((i, "base", " ".join(rng.choice(["r", "g", "bl", "cy"], size=10))))
    for i in range(40, 60):
        rows.append((i, "odd", " ".join(rng.choice(["xx", "yy", "zz"], size=10))))
    df = spark.createDataFrame(rows, "doc_id long, g string, text string")
    got = {
        r["g"]: (r["n_tokens"], r["js"])
        for r in textops.corpus_js(df, "text", "g", dim=dim).collect()
    }
    cl, cb, nl = {}, Counter(), Counter()
    for _, g, tx in rows:
        for t in tx.split(" "):
            cl.setdefault(g, Counter())[b(t, dim)] += 1
            cb[b(t, dim)] += 1
            nl[g] += 1
    N = sum(cb.values())
    for g in ("base", "odd"):
        js = 0.0
        for bb in range(dim):
            p = (cl[g].get(bb, 0) + 1) / (nl[g] + dim)
            q = (cb.get(bb, 0) + 1) / (N + dim)
            m = (p + q) / 2
            js += p * math.log(p / m) / 2 + q * math.log(q / m) / 2
        assert abs(got[g][1] - js) < 1e-5, g
        assert -1e-9 <= got[g][1] <= math.log(2) + 1e-9
    assert got["odd"][1] > got["base"][1]


def test_pmi_collocations_matches_counter_model(spark):
    """PMI values match the exact Counter model; collocated pairs beat
    independent pairs; min_count prunes; broadcast and shuffle joins
    agree exactly."""
    import math
    from collections import Counter

    from osmflat_rs_spark.operators.textops import pmi_collocations

    # 'new york' always together; 'aa bb' independent fillers
    docs = []
    for i in range(30):
        docs.append((i, "new york " + ("aa " * (i % 3 + 1)) + "bb"))
    for i in range(30, 60):
        docs.append((i, "aa bb aa new bb york bb aa"))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {(r["w1"], r["w2"]): r.asDict() for r in
           pmi_collocations(df, "doc_id", "text", min_count=5).collect()}
    # model
    uni, bi = Counter(), Counter()
    for _, t in docs:
        toks = t.split()
        uni.update(toks)
        bi.update(zip(toks, toks[1:]))
    n_uni, n_bi = sum(uni.values()), sum(bi.values())
    for (a, b), c in bi.items():
        if c >= 5:
            want = math.log((c * n_uni * n_uni) / (n_bi * uni[a] * uni[b]))
            r = got[(a, b)]
            assert r["c_xy"] == c and r["c_x"] == uni[a] and r["c_y"] == uni[b]
            assert abs(r["pmi"] - want) < 1e-6
    assert set(got) == {k for k, c in bi.items() if c >= 5}
    # "new york" is a true collocation: pmi far above the independent pairs
    assert got[("new", "york")]["pmi"] > got[("aa", "bb")]["pmi"] + 0.5
    import pytest as _pytest

    with _pytest.raises(ValueError):
        pmi_collocations(df, "doc_id", "text", min_count=0)


def test_als_item_step_matches_numpy_model_and_fits(spark):
    """Per-item factors match a direct NumPy normal-equation solve on
    the same exact integer sufficient statistics; on ratings generated
    FROM the seeded user factors, the solved item factors reconstruct
    the ratings far better than null factors; params validated."""
    import hashlib

    import numpy as np

    from osmflat_rs_spark.operators.factorize import als_item_step

    K, FP, REG, SEED = 4, 10**6, 0.05, "als"
    span = 2 * FP + 1

    def ufac(uid):
        return np.array(
            [
                (int(hashlib.md5(f"{SEED}:{d}:{uid}".encode()).hexdigest()[:15], 16) % span) - FP
                for d in range(K)
            ],
            dtype=np.int64,
        )

    rng = np.random.default_rng(277)
    # planted item factors; ratings = round(u . v) + small noise
    items = {i: rng.integers(-3, 4, K) for i in range(12)}
    rows = []
    for u in range(300):
        a = ufac(u).astype(float) / FP
        for i in rng.choice(12, size=6, replace=False):
            r = int(round(float(a @ items[i]) * 100)) + int(rng.integers(-3, 4))
            rows.append((u, int(i), r))
    df = spark.createDataFrame(rows, "user long, item long, r long")
    got = {r["item"]: r.asDict() for r in
           als_item_step(df, "user", "item", "r", k=K, reg=REG, seed=SEED, fp=FP).collect()}

    # model: same exact int sufficient stats -> same solve
    for i in range(12):
        ratings_i = [(u, r) for u, it, r in rows if it == i]
        A_int = np.zeros((K, K), dtype=object)
        b_int = np.zeros(K, dtype=object)
        for u, r in ratings_i:
            a = ufac(u)
            A_int += np.outer(a, a)
            b_int += a * r
        n = len(ratings_i)
        A = A_int.astype(np.float64) / FP**2 + REG * n * np.eye(K)
        b = b_int.astype(np.float64) / FP
        x = np.linalg.solve(A, b)
        gi = got[i]
        assert gi["n_ratings"] == n
        assert list(np.round(x, 6)) == gi["factors"], i
    # fit quality: solved factors beat the zero predictor by a lot
    sse = sse0 = 0.0
    for u, i, r in rows:
        a = ufac(u).astype(float) / FP
        pred = float(a @ np.array(got[i]["factors"]))
        sse += (r - pred) ** 2
        sse0 += float(r) ** 2
    assert sse < 0.05 * sse0
    import pytest as _pytest

    with _pytest.raises(ValueError):
        als_item_step(df, "user", "item", "r", k=0)
    with _pytest.raises(ValueError):
        als_item_step(df, "user", "item", "r", fp=1)


def test_gopher_rules_hand_cases(spark):
    """Each rule fires on its constructed violator and nowhere else;
    boundary docs land exactly per the cross-multiplied contract;
    bad rationals raise."""
    from osmflat_rs_spark.operators.textops import gopher_rules

    good = "the quick brown fox jumps over the lazy dog " * 8  # 72 words
    short = "too short"
    longwords = " ".join(["extraordinarily"] * 60)              # avg len 15
    symbols = " ".join(["ok#"] * 30 + ["fine..."] * 30)         # 60 syms / 60 words
    nonalpha = " ".join(["123"] * 40 + ["word"] * 20)           # 20/60 alpha
    duplines = "\n".join(["unique line %d" % i for i in range(4)] + ["same line"] * 8)
    duplines = (duplines + " ") * 1
    # pad duplines to pass the word-count rule
    duplines = duplines + "\n" + " ".join(["filler"] * 50)
    docs = [
        (0, good), (1, short), (2, longwords), (3, symbols), (4, nonalpha), (5, duplines),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in
           gopher_rules(df, "doc_id", "text", min_words=50).collect()}
    assert got[0]["pass_all"]
    assert not got[1]["ok_word_count"] and not got[1]["pass_all"]
    assert not got[2]["ok_avg_word_len"] and got[2]["ok_word_count"]
    assert not got[3]["ok_symbol_ratio"]
    assert not got[4]["ok_alpha_words"]
    assert not got[5]["ok_dup_lines"]
    # every violator fails exactly its own rule set
    for i in (2, 3, 4, 5):
        assert not got[i]["pass_all"]
        assert got[i]["ok_word_count"], i
    # boundary: symbol ratio exactly 1/10 passes (<=), one more fails
    b1 = " ".join(["w"] * 9 + ["#"])          # 1 sym / 10 words
    b2 = " ".join(["w"] * 8 + ["#", "#"])     # 2 syms / 10 words
    bdf = spark.createDataFrame([(0, b1), (1, b2)], "doc_id long, text string")
    bg = {r["doc_id"]: r["ok_symbol_ratio"] for r in
          gopher_rules(bdf, "doc_id", "text", min_words=1).collect()}
    assert bg[0] is True and bg[1] is False
    import pytest as _pytest

    with _pytest.raises(ValueError):
        gopher_rules(df, "doc_id", "text", max_symbol_ratio=(2, 0))


def test_trending_topk_matches_decay_model(spark):
    """Scores match the exact integer bucketed-decay model; a recent
    burst outranks a larger stale count; ranks are deterministic with
    the (score desc, item asc) tie-break; negative ages raise."""
    import pytest as _pytest

    from osmflat_rs_spark.operators.sketch import DECAY_T4, trending_topk

    FP, HL = 10**12, 100

    def w_model(age):
        k = (age * 4) // HL
        if k // 4 > 42:
            return 0
        return (FP * DECAY_T4[k % 4]) >> (k // 4 + 20)

    rows = []
    rows += [("g", "stale", 500) for _ in range(100)]   # 100 events, 5 half-lives old
    rows += [("g", "burst", 10) for _ in range(20)]     # 20 events, fresh
    rows += [("g", "mid", 100) for _ in range(30)]
    rows += [("h", "only", 0) for _ in range(3)]
    df = spark.createDataFrame(rows, "g string, item string, age long")
    got = {(r["g"], r["item"]): r.asDict() for r in
           trending_topk(df, "g", "item", "age", n=10, half_life=HL, fp=FP).collect()}
    from collections import Counter

    scores = Counter()
    counts = Counter()
    for g, it, age in rows:
        scores[(g, it)] += w_model(age)
        counts[(g, it)] += 1
    for key, sfp in scores.items():
        assert got[key]["score"] == round(sfp / FP, 6), key
        assert got[key]["n_events"] == counts[key]
    # fresh burst beats the big stale pile: 20*2^-0.4... vs 100*2^-20
    assert got[("g", "burst")]["rk"] == 1
    assert got[("g", "stale")]["rk"] == 3
    assert got[("h", "only")]["rk"] == 1
    with _pytest.raises(ValueError):
        trending_topk(
            spark.createDataFrame([("g", "x", -1)], "g string, item string, age long"),
            "g", "item", "age",
        )
    with _pytest.raises(ValueError):
        trending_topk(df, "g", "item", "age", n=0)


def test_skipgram_pairs_matches_model(spark):
    """Pair counts match the exact Python model (subsample-then-window
    semantics, same md5 keep rule); without subsampling every ±window
    adjacency appears; params validated."""
    import hashlib
    import math
    from collections import Counter

    from osmflat_rs_spark.operators.textops import skipgram_pairs

    docs = [
        (0, "the cat sat on the mat"),
        (1, "the dog sat on the log"),
        (2, "cat and dog and cat"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    # no subsampling: t = 1 keeps everything (keep_p >= 1 for all)
    got = {(r["center"], r["context"]): r["n_pairs"] for r in
           skipgram_pairs(df, "doc_id", "text", window=2, subsample_t=(1, 1)).collect()}
    want = Counter()
    for _, t in docs:
        toks = t.split()
        for i, w in enumerate(toks):
            for j in range(max(0, i - 2), min(len(toks), i + 3)):
                if j != i:
                    want[(w, toks[j])] += 1
    assert got == dict(want)
    # aggressive subsampling: model the exact hash decision
    T = (1, 1000)
    got2 = {(r["center"], r["context"]): r["n_pairs"] for r in
            skipgram_pairs(df, "doc_id", "text", window=2, subsample_t=T).collect()}
    vocab = Counter(w for _, t in docs for w in t.split())
    N = sum(vocab.values())
    want2 = Counter()
    for d, t in docs:
        toks = t.split()
        keptpos = []
        for p, w in enumerate(toks):
            h = int(hashlib.md5(f"{d}:{p}:{w}".encode()).hexdigest()[:15], 16)
            u = (h + 1) / 2.0**60
            keep_p = min(1.0, math.sqrt(T[0] * N / (T[1] * vocab[w])))
            if u < keep_p:
                keptpos.append(w)
        for i, w in enumerate(keptpos):
            for j in range(max(0, i - 2), min(len(keptpos), i + 3)):
                if j != i:
                    want2[(w, keptpos[j])] += 1
    assert got2 == dict(want2)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        skipgram_pairs(df, "doc_id", "text", window=0)
    with _pytest.raises(ValueError):
        skipgram_pairs(df, "doc_id", "text", subsample_t=(2, 1))


def test_calibration_ece_matches_model(spark):
    """Bin stats and ECE match the exact integer model; a perfectly
    calibrated score has ~0 gap; out-of-range scores raise."""
    import numpy as np

    from osmflat_rs_spark.operators.textops import calibration_ece

    rng = np.random.default_rng(307)
    SC = 10**6
    rows = []
    for _ in range(4000):
        s = int(rng.integers(0, SC + 1))
        y = int(rng.random() < s / SC)  # calibrated by construction
        rows.append((s, y))
    df = spark.createDataFrame(rows, "s long, y int")
    out = {r["bin"]: r.asDict() for r in calibration_ece(df, "s", "y", n_bins=10).collect()}
    bins = {}
    for s, y in rows:
        b = min(9, (s * 10) // SC)
        n, pos, ss = bins.get(b, (0, 0, 0))
        bins[b] = (n + 1, pos + y, ss + s)
    N = sum(n for n, _, _ in bins.values())
    enum = sum(abs(pos * SC - ss) for _, pos, ss in bins.values())
    ece = enum / (N * SC)
    for b, (n, pos, ss) in bins.items():
        r = out[b]
        assert r["n"] == n and r["n_pos"] == pos
        assert r["conf"] == round(ss / n / SC, 6)
        assert r["acc"] == round(pos / n, 6)
        assert r["ece"] == round(ece, 6)
    assert ece < 0.05  # calibrated data
    import pytest as _pytest

    with _pytest.raises(ValueError):
        calibration_ece(spark.createDataFrame([(SC + 1, 1)], "s long, y int"), "s", "y")
    with _pytest.raises(ValueError):
        calibration_ece(df, "s", "y", n_bins=1)


def test_bloom_pruned_join_rejects_preserved_side_joins(spark):
    """ADVICE r05: the Bloom pre-filter drops unmatched big-side rows,
    so preserved-side / anti joins must be rejected, not silently
    corrupted."""
    import pytest
    from pyspark.sql import functions as F

    from osmflat_rs_spark.operators.sketch import bloom_pruned_join

    big = spark.range(100).select(F.col("id").alias("key"))
    small = spark.range(5).select(F.col("id").alias("key"))
    for how in ("left", "left_outer", "full", "full_outer", "left_anti", "anti"):
        with pytest.raises(ValueError, match="Bloom"):
            bloom_pruned_join(big, small, "key", m_bits=1024, k=3, how=how)
    # safe forms still work and stay bit-identical to the plain join
    got = sorted(r["key"] for r in bloom_pruned_join(big, small, "key", m_bits=1024, k=3, how="left_semi").collect())
    assert got == list(range(5))
