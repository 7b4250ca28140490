"""Multimodal (image/audio/video) column plumbing.

Media payloads are opaque ``binary`` columns with typed metadata structs;
decode / feature-extract / resize / frame-sample run as Arrow-batched
``mapInPandas`` operators.

Decode paths (``extract_features``):
- ``fake=True``: deterministic digest-seeded pseudo-decoder (the stable
  test path — exercises all the Spark plumbing with zero codec deps);
- ``fake=False``: REAL decode — built-in pure-NumPy decoders for binary
  PNM (P5 grayscale / P6 RGB) and uncompressed 24-bit BMP (zero
  dependencies), falling back to PIL for other formats when importable
  (import-guarded; this container has no PIL, so unsupported formats
  raise ``NotImplementedError`` naming the integration point).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_SCHEMA = "media_ref string, media_type string, width int, height int, payload binary"

FEATURE_SCHEMA = (
    "media_ref string, media_type string, width int, height int, "
    "mean_luma double, feat array<float>"
)


def synthesize_media(df: DataFrame, media_ref_col: str = "media_ref") -> DataFrame:
    """Attach a deterministic fake binary payload + metadata to media refs
    (the carrier for tests; real pipelines read the bytes from object
    storage via a source connector)."""
    ref = F.col(media_ref_col)
    return df.select(
        ref.alias("media_ref"),
        # try_element_at: under default ANSI a ref with <3 '/'-parts
        # would throw INVALID_ARRAY_INDEX instead of yielding NULL
        F.try_element_at(F.split(ref, "/"), F.lit(3)).alias("media_type"),
        (F.pmod(F.xxhash64(ref), F.lit(512)) + 16).cast("int").alias("width"),
        (F.pmod(F.xxhash64(ref, F.lit(1)), F.lit(512)) + 16).cast("int").alias("height"),
        F.to_binary(F.md5(ref), F.lit("hex")).alias("payload"),
    )


def _fake_decode(payload: bytes, width: int, height: int) -> np.ndarray:
    """Deterministic fake decoder: digest-seeded pseudo-image."""
    seed = int.from_bytes(hashlib.md5(payload).digest()[:4], "big")
    rng = np.random.RandomState(seed)
    return rng.randint(0, 256, size=(min(height, 32), min(width, 32)), dtype=np.uint8)


def _parse_pnm(payload: bytes) -> np.ndarray:
    """Binary PNM decode (P5 grayscale / P6 RGB, maxval ≤ 255) — pure
    NumPy, no deps. Returns a uint8 grayscale (BT.601 luma for RGB)."""
    tokens: list[bytes] = []
    i = 0
    # header = 4 whitespace-separated tokens (magic, w, h, maxval) with
    # '#' comments; raw pixel data starts after ONE whitespace byte
    while len(tokens) < 4:
        while i < len(payload) and payload[i : i + 1].isspace():
            i += 1
        if i >= len(payload):
            # a truncated header used to loop appending b'' tokens and
            # surface as a cryptic int(b'') ValueError deep in an executor
            raise ValueError(
                f"truncated PNM header: {len(tokens)} of 4 tokens before end of payload"
            )
        if payload[i : i + 1] == b"#":
            while i < len(payload) and payload[i] != 0x0A:
                i += 1
            continue
        j = i
        while j < len(payload) and not payload[j : j + 1].isspace():
            j += 1
        tokens.append(payload[i:j])
        i = j
    i += 1  # the single whitespace after maxval
    magic, w, h, maxval = tokens[0], int(tokens[1]), int(tokens[2]), int(tokens[3])
    if maxval > 255:
        raise NotImplementedError("16-bit PNM not supported by the built-in decoder")
    need = w * h * (3 if magic == b"P6" else 1)
    if len(payload) - i < need:
        raise ValueError(
            f"truncated PNM pixel data: header promises {need} bytes, {len(payload) - i} present"
        )
    if magic == b"P5":
        return np.frombuffer(payload, np.uint8, count=w * h, offset=i).reshape(h, w).copy()
    if magic == b"P6":
        rgb = np.frombuffer(payload, np.uint8, count=w * h * 3, offset=i).reshape(h, w, 3)
        luma = 0.299 * rgb[:, :, 0] + 0.587 * rgb[:, :, 1] + 0.114 * rgb[:, :, 2]
        return np.clip(np.round(luma), 0, 255).astype(np.uint8)
    raise NotImplementedError(f"PNM magic {magic!r} not supported")


def _parse_bmp(payload: bytes) -> np.ndarray:
    """Uncompressed 24-bit BMP (BITMAPINFOHEADER, bottom-up) — pure NumPy."""
    import struct

    off = struct.unpack_from("<I", payload, 10)[0]
    w = struct.unpack_from("<i", payload, 18)[0]
    h = struct.unpack_from("<i", payload, 22)[0]
    bpp = struct.unpack_from("<H", payload, 28)[0]
    comp = struct.unpack_from("<I", payload, 30)[0]
    if bpp != 24 or comp != 0:
        raise NotImplementedError("built-in BMP decoder supports uncompressed 24-bit only")
    flip = h > 0
    h = abs(h)
    stride = (w * 3 + 3) & ~3
    rows = np.frombuffer(payload, np.uint8, count=stride * h, offset=off).reshape(h, stride)
    bgr = rows[:, : w * 3].reshape(h, w, 3)
    if flip:
        bgr = bgr[::-1]
    luma = 0.299 * bgr[:, :, 2] + 0.587 * bgr[:, :, 1] + 0.114 * bgr[:, :, 0]
    return np.clip(np.round(luma), 0, 255).astype(np.uint8)


def decode_image(payload: bytes) -> np.ndarray:
    """Real image decode → uint8 grayscale. Built-in pure-NumPy PNM/BMP
    first (zero deps); anything else goes through PIL when available."""
    if payload[:2] in (b"P5", b"P6"):
        return _parse_pnm(payload)
    if payload[:2] == b"BM":
        return _parse_bmp(payload)
    try:
        import io

        from PIL import Image  # type: ignore[import-not-found]
    except ImportError as exc:
        raise NotImplementedError(
            "payload is neither PNM nor BMP and PIL is not installed in this "
            "environment — install Pillow or supply PNM/BMP payloads"
        ) from exc
    return np.asarray(Image.open(io.BytesIO(payload)).convert("L"), dtype=np.uint8)


def extract_features(media: DataFrame, fake: bool = False, n_feat: int = 8) -> DataFrame:
    """decode → per-image stats + a small feature vector, Arrow-batched.

    ``fake=True`` runs the deterministic digest-seeded pseudo-decoder
    (stable test path); ``fake=False`` runs the real decoders
    (``decode_image``: built-in PNM/BMP, PIL fallback)."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            lumas, feats = [], []
            for payload, w, h in zip(pdf["payload"], pdf["width"], pdf["height"]):
                if fake:
                    img = _fake_decode(bytes(payload), int(w), int(h))
                else:
                    img = decode_image(bytes(payload))
                lumas.append(float(img.mean()))
                hist = np.histogram(img, bins=n_feat, range=(0, 256))[0]
                feats.append((hist / max(1, img.size)).astype(np.float32))
            out = pdf[["media_ref", "media_type", "width", "height"]].copy()
            out["mean_luma"] = lumas
            out["feat"] = feats
            yield out

    return media.mapInPandas(op, schema=FEATURE_SCHEMA)


def synthesize_media_real(df: DataFrame, media_ref_col: str = "media_ref") -> DataFrame:
    """Like ``synthesize_media`` but the payload is a REAL binary P6 PPM
    (digest-seeded deterministic pixels, width/height matching the
    header) — lets the real-decode path run end-to-end with zero codec
    dependencies."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            rows = {"media_ref": [], "media_type": [], "width": [], "height": [], "payload": []}
            for ref in pdf[media_ref_col]:
                seed = int.from_bytes(hashlib.md5(str(ref).encode()).digest()[:4], "big")
                rng = np.random.RandomState(seed)
                w, h = int(rng.randint(4, 24)), int(rng.randint(4, 24))
                pix = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)
                rows["media_ref"].append(ref)
                rows["media_type"].append(str(ref).split("/")[2] if str(ref).count("/") >= 2 else "image")
                rows["width"].append(w)
                rows["height"].append(h)
                rows["payload"].append(f"P6\n{w} {h}\n255\n".encode() + pix.tobytes())
            yield pd.DataFrame(rows)

    return df.select(F.col(media_ref_col)).mapInPandas(gen, schema=MEDIA_SCHEMA)


RESIZED_SCHEMA = (
    "media_ref string, media_type string, width int, height int, pixels binary"
)


def resize_images(media: DataFrame, out_w: int, out_h: int, fake: bool = False) -> DataFrame:
    """decode → nearest-neighbor resize to (out_w, out_h), Arrow-batched.

    The uniform-shape stage of a training pipeline (every image → one
    fixed tensor size). Pure-NumPy index-grid resample — deterministic,
    no codec deps; output ``pixels`` is the row-major uint8 grayscale
    buffer (exactly out_w*out_h bytes), so downstream stages can
    ``np.frombuffer(...).reshape(out_h, out_w)`` without re-decoding.
    ``fake=True`` routes through the digest-seeded pseudo-decoder (the
    zero-dependency plumbing path, same contract as extract_features)."""
    if out_w <= 0 or out_h <= 0:
        raise ValueError("resize_images: out_w and out_h must be positive")

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            bufs = []
            for payload, w, h in zip(pdf["payload"], pdf["width"], pdf["height"]):
                if fake:
                    img = _fake_decode(bytes(payload), int(w), int(h))
                else:
                    img = decode_image(bytes(payload))
                ih, iw = img.shape[0], img.shape[1]
                # nearest-neighbor index grid (floor sampling, the
                # standard convention: src = floor(dst * in/out))
                ys = np.minimum((np.arange(out_h) * ih) // out_h, ih - 1).astype(np.intp)
                xs = np.minimum((np.arange(out_w) * iw) // out_w, iw - 1).astype(np.intp)
                bufs.append(img[np.ix_(ys, xs)].astype(np.uint8).tobytes())
            out = pdf[["media_ref", "media_type"]].copy()
            out["width"] = np.int32(out_w)
            out["height"] = np.int32(out_h)
            out["pixels"] = bufs
            yield out

    return media.mapInPandas(op, schema=RESIZED_SCHEMA)


def frame_sample(media: DataFrame, every_n: int = 10) -> DataFrame:
    """Video frame-sampling plumbing: expands each media row into sampled
    frame indices (decode stubbed the same way). Pure JVM expansion."""
    n_frames = (F.pmod(F.xxhash64("media_ref", F.lit(2)), F.lit(300)) + 1).cast("int")
    return media.select(
        "media_ref",
        F.explode(F.sequence(F.lit(0), n_frames - 1, F.lit(every_n))).alias("frame_idx"),
    )


def interleave_profile(
    df: DataFrame, id_col: str = "doc_id", spans_col: str = "spans"
) -> DataFrame:
    """Per-document structure profile of the interleaved span sequence →
    (id, n_spans, n_media, n_runs, max_run, media_permille).

    The input-table contract (doc_id, spans:array<struct<kind, text,
    media_ref, offset>>) carries text and media interleaved; curation
    policies key on the SHAPE of that interleaving (media-only docs,
    text walls, rapid alternation), so: n_runs = number of maximal
    same-kind runs in offset order, max_run = longest such run,
    media_permille = ⌊1000·n_media/n_spans⌋ (exact integer — no float
    ratio in the gate hash).

    Entirely IN-ROW: spans are re-sorted by offset with an array_sort
    comparator (the engine never trusts physical span order — same
    invariant as ingest), kinds projected with transform, run
    boundaries counted by zipping the kind list against itself shifted
    one slot, and max_run via a single aggregate-HOF fold (struct
    accumulator, left-to-right). Zero shuffles, zero Python — a pure
    map over 10^12 docs. Zero-span docs emit (0, 0, 0, 0, NULL).
    """
    spans = F.array_sort(
        F.col(spans_col),
        lambda a, b: F.when(a["offset"] < b["offset"], F.lit(-1))
        .when(a["offset"] > b["offset"], F.lit(1))
        .otherwise(F.lit(0)),
    )
    kinds = F.transform(spans, lambda s: s["kind"])
    n = F.size(kinds)
    n_media = F.size(F.filter(kinds, lambda k: k == F.lit("media")))
    changes = F.size(
        F.filter(
            F.zip_with(
                F.slice(kinds, 1, n - 1), F.slice(kinds, 2, n - 1), lambda a, b: a != b
            ),
            lambda x: x,
        )
    )
    n_runs = F.when(n == 0, F.lit(0)).otherwise(changes + 1)
    fold = F.aggregate(
        kinds,
        F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("cur"), F.lit(0).alias("best")
        ),
        lambda acc, k: F.struct(
            k.alias("prev"),
            F.when(k == acc["prev"], acc["cur"] + 1).otherwise(F.lit(1)).alias("cur"),
            F.greatest(
                acc["best"],
                F.when(k == acc["prev"], acc["cur"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    return df.select(
        F.col(id_col),
        n.cast("long").alias("n_spans"),
        n_media.cast("long").alias("n_media"),
        n_runs.cast("long").alias("n_runs"),
        fold.cast("long").alias("max_run"),
        F.when(n > 0, F.floor(F.lit(1000) * n_media / n)).cast("long").alias("media_permille"),
    )


DHASH_SCHEMA = "media_ref string, dhash long"


def dhash_images(media: DataFrame, fake: bool = False) -> DataFrame:
    """Perceptual difference-hash (dHash) per image → (media_ref,
    dhash int64): decode → nearest-neighbor resample to 9×8 grayscale
    (the same floor-sampling grid as ``resize_images``) → 64 horizontal
    gradient bits (pixel[y,x+1] > pixel[y,x]), packed row-major with
    bit 0 the top-left comparison. Robust to rescaling/recompression
    where exact digests fail — the image half of the dedup family; feed
    the hashes to ``dedup.hamming_neardup_pairs(bits=64)`` for the
    block-combination near-dup join (hamming ≤ ~3 is the conventional
    dup bar).

    Arrow-batched mapInPandas; ``fake=True`` routes the digest-seeded
    pseudo-decoder (deterministic zero-dependency path, same contract
    as ``extract_features``). Pure NumPy bit packing — the hash of a
    given pixel grid is engine- and partition-invariant by
    construction."""
    D_W, D_H = 9, 8

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            hashes = []
            for payload, w, h in zip(pdf["payload"], pdf["width"], pdf["height"]):
                if fake:
                    img = _fake_decode(bytes(payload), int(w), int(h))
                else:
                    img = decode_image(bytes(payload))
                ih, iw = img.shape[0], img.shape[1]
                ys = np.minimum((np.arange(D_H) * ih) // D_H, ih - 1).astype(np.intp)
                xs = np.minimum((np.arange(D_W) * iw) // D_W, iw - 1).astype(np.intp)
                g = img[np.ix_(ys, xs)].astype(np.int16)
                diff_bits = (g[:, 1:] > g[:, :-1]).flatten()  # row-major, 64 bits
                val = 0
                for i, b in enumerate(diff_bits):
                    if b:
                        val |= 1 << i
                # wrap to signed int64 (bit 63 set -> negative long)
                if val >= 1 << 63:
                    val -= 1 << 64
                hashes.append(val)
            out = pdf[["media_ref"]].copy()
            out["dhash"] = np.array(hashes, dtype=np.int64)
            yield out

    return media.mapInPandas(op, schema=DHASH_SCHEMA)


def pcm_window_rms(
    media: DataFrame,
    id_col: str = "media_ref",
    audio_col: str = "payload",
    win: int = 256,
) -> DataFrame:
    """Audio feature plumbing that is REAL end-to-end (no stub needed —
    PCM is just integers): little-endian int16 PCM payload → one row
    per ``win``-sample window with its RMS energy, the first feature
    of every VAD / silence-trim / loudness-normalization stage →
    (id, win_idx, n_samples, rms). The final short window is emitted
    with its true n_samples (callers decide whether to keep it).

    Arrow-batched ``mapInPandas``: NumPy ``frombuffer`` + one
    reshape-free windowed reduction per payload — the per-row Python
    loop iterates over DOCUMENTS in the batch (the knn gen_cover
    dispensation), with all per-sample math vectorized. Odd byte
    lengths raise (torn PCM is corruption, not data).
    """
    import pandas as pd

    if win < 1:
        raise ValueError(f"win must be >= 1, got {win}")

    def fn(batches):
        for pdf in batches:
            rows = []
            for i, payload in zip(pdf[id_col], pdf[audio_col]):
                b = bytes(payload)
                if len(b) % 2:
                    raise ValueError(f"odd PCM16 byte length for {i}: {len(b)}")
                x = np.frombuffer(b, dtype="<i2").astype(np.float64)
                for wi in range(0, max(1, len(x)), win) if len(x) else []:
                    seg = x[wi : wi + win]
                    rows.append(
                        (i, wi // win, len(seg), float(np.sqrt(np.mean(seg * seg))))
                    )
                if len(x) == 0:
                    rows.append((i, 0, 0, None))
            yield pd.DataFrame(rows, columns=[id_col, "win_idx", "n_samples", "rms"])

    return media.select(id_col, audio_col).mapInPandas(
        fn, f"{id_col} long, win_idx int, n_samples int, rms double"
    )
