"""Multimodal (image/audio/video) column operators.

Beyond-reference extension (SURVEY.md §7E): media are opaque ``binary``
columns plus typed metadata, processed with Arrow-batched ``mapInPandas``
— the Spark-idiomatic shape for Python-side media work at 100 TB:

- plumbing (schemas, batch iteration, partitioning) is REAL and tested;
- byte-level analytics (size, high-nibble histogram, entropy, magic-byte
  media sniffing) are REAL computations (numpy over Arrow buffers);
- actual codec decoding: ``decode_media`` handles the deterministic TN*
  synthetic formats below (the oracle path), decodes real JPEG/PNG/GIF
  through an optional Pillow adapter when the library is installed
  (it is not in the test container), and raises ``NotImplementedError``
  for everything else (WAV/MP4 — swapping in soundfile/ffmpeg changes
  only the per-batch decode function, not the Spark plumbing).

Synthetic container formats (big-endian, deterministic, self-describing):
- ``TNIMG`` : magic(5) | width u16 | height u16 | w*h grayscale bytes
- ``TNAUD`` : magic(5) | sample_rate u32 | n_samples u32 | signed bytes
- ``TNVID`` : magic(5) | n_frames u16 | width u16 | height u16 | frames

Scale notes: every operator is a narrow transformation (mapInPandas — no
shuffle); batch size is bounded by
``spark.sql.execution.arrow.maxRecordsPerBatch``, so executor memory is
blob_size x batch records. Media blobs stay in the JVM/Arrow buffers
until the Python worker touches them; metadata-only pipelines (sniff →
filter) never cross into Python at all (sniff_media_type is a JVM-side
expression) — filter on it BEFORE any mapInPandas decode so pushdown
prunes undecodable rows for free.
"""

from __future__ import annotations

import math
import struct
from collections.abc import Iterator
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from topnotch_spark.runtime import persist

HIST_BINS = 16  # high-nibble histogram: exact-integer, oracle-checkable

# magic-byte table for real-world sniffing (JVM-side, no Python)
_MAGIC = [
    ("ffd8ff", "image/jpeg"),
    ("89504e47", "image/png"),
    ("47494638", "image/gif"),
    ("52494646", "audio/wav"),  # RIFF (WAV/AVI share it; WAV by default)
    ("494433", "audio/mpeg"),
    ("664c6143", "audio/flac"),
    ("544e494d47", "application/x-tnimg"),
    ("544e415544", "application/x-tnaud"),
    ("544e564944", "application/x-tnvid"),
]


def sniff_media_type(bin_col: Column | str) -> Column:
    """Media type from magic bytes — a pure JVM expression (hex prefix
    compare), so type filters run before any Python decode and push down
    into the scan."""
    c = F.col(bin_col) if isinstance(bin_col, str) else bin_col
    prefix = F.lower(F.hex(F.substring(c, 1, 8)))
    expr = F.lit("application/octet-stream")
    for magic, mtype in reversed(_MAGIC):
        expr = F.when(prefix.startswith(magic.lower()), F.lit(mtype)).otherwise(expr)
    return expr


# ---------------------------------------------------------------------------
# synthetic TN* containers (encoders used by tests/fixtures)
# ---------------------------------------------------------------------------

def encode_tnimg(width: int, height: int, pixels: bytes) -> bytes:
    assert len(pixels) == width * height
    return b"TNIMG" + struct.pack(">HH", width, height) + pixels


def encode_tnaud(sample_rate: int, samples: bytes) -> bytes:
    return b"TNAUD" + struct.pack(">II", sample_rate, len(samples)) + samples


def encode_tnvid(width: int, height: int, frames: list[bytes]) -> bytes:
    assert all(len(f) == width * height for f in frames)
    return (
        b"TNVID"
        + struct.pack(">HHH", len(frames), width, height)
        + b"".join(frames)
    )


def _pillow_decode(blob: bytes) -> dict[str, Any] | None:
    """Optional real-codec adapter: decode JPEG/PNG/GIF via Pillow when
    the library is present (it is not in the test container — the TN*
    synthetic formats remain the oracle path). Returns None when Pillow
    is unavailable so ``_decode_one`` falls through to its honest
    NotImplementedError. Payload is the 8-bit grayscale pixel buffer —
    the same shape the TNIMG path emits, so downstream numpy stages work
    unchanged on real images."""
    try:
        from PIL import Image
    except ImportError:
        return None
    import io

    with Image.open(io.BytesIO(blob)) as im:
        w, h = im.size
        n_frames = int(getattr(im, "n_frames", 1))
        fmt = (im.format or "unknown").lower()
        payload = im.convert("L").tobytes()
    return {"media_type": f"image/{fmt}", "width": w, "height": h,
            "n_frames": n_frames, "sample_rate": None, "payload": payload}


_REAL_IMAGE_MAGICS = (b"\xff\xd8\xff", b"\x89PNG", b"GIF8")


def _decode_one(blob: bytes) -> dict[str, Any]:
    """Decode: parses TN* synthetic containers; real image codecs go
    through the optional Pillow adapter when installed, else raise.
    Swapping in soundfile/ffmpeg for audio/video changes only this
    function — the mapInPandas plumbing above it is production-shaped."""
    if blob.startswith(b"TNIMG"):
        w, h = struct.unpack(">HH", blob[5:9])
        return {"media_type": "application/x-tnimg", "width": w, "height": h,
                "n_frames": 1, "sample_rate": None,
                "payload": blob[9 : 9 + w * h]}
    if blob.startswith(b"TNAUD"):
        rate, n = struct.unpack(">II", blob[5:13])
        return {"media_type": "application/x-tnaud", "width": None,
                "height": None, "n_frames": None, "sample_rate": rate,
                "payload": blob[13 : 13 + n]}
    if blob.startswith(b"TNVID"):
        nf, w, h = struct.unpack(">HHH", blob[5:11])
        return {"media_type": "application/x-tnvid", "width": w, "height": h,
                "n_frames": nf, "sample_rate": None,
                "payload": blob[11 : 11 + nf * w * h]}
    if blob.startswith(_REAL_IMAGE_MAGICS):
        decoded = _pillow_decode(blob)
        if decoded is not None:
            return decoded
    raise NotImplementedError(
        "real media codecs are not available in this environment; "
        "only TN* synthetic containers decode (stub — see module docstring)"
    )


DECODED_SCHEMA = (
    "media_type string, width int, height int, n_frames int, "
    "sample_rate int, payload binary"
)


def decode_media(
    df: DataFrame, bin_col: str = "content", keep_cols: tuple[str, ...] = ("media_id",)
) -> DataFrame:
    """Decode TN* blobs to (metadata, raw payload) via mapInPandas."""
    keep = list(keep_cols)
    out_schema = ", ".join(
        [f"{c} {dict((f.name, f.dataType.simpleString()) for f in df.schema.fields)[c]}" for c in keep]
        + [DECODED_SCHEMA]
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            keep_vals = [pdf[c].values for c in keep]
            for i, blob in enumerate(pdf[bin_col].values):
                d = _decode_one(bytes(blob))
                rows.append({**{c: v[i] for c, v in zip(keep, keep_vals)}, **d})
            if rows:
                yield pd.DataFrame(rows)

    return df.mapInPandas(fn, out_schema)


def resize_images(
    df: DataFrame,
    out_w: int,
    out_h: int,
    bin_col: str = "content",
    keep_cols: tuple[str, ...] = ("media_id",),
) -> DataFrame:
    """Nearest-neighbor resize of TNIMG blobs (numpy fancy indexing per
    Arrow batch — the real-codec version would swap the decode call
    only). Output is a TNIMG blob of the new dimensions."""
    keep = list(keep_cols)
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    out_schema = ", ".join([f"{c} {types[c]}" for c in keep] + ["content binary"])

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            keep_vals = [pdf[c].values for c in keep]
            for i, blob in enumerate(pdf[bin_col].values):
                d = _decode_one(bytes(blob))
                if d["media_type"] != "application/x-tnimg":
                    raise ValueError("resize_images expects TNIMG blobs")
                w, h = d["width"], d["height"]
                img = np.frombuffer(d["payload"], dtype=np.uint8).reshape(h, w)
                yi = (np.arange(out_h) * h) // out_h
                xi = (np.arange(out_w) * w) // out_w
                resized = img[np.ix_(yi, xi)]
                rows.append(
                    {**{c: v[i] for c, v in zip(keep, keep_vals)},
                     "content": encode_tnimg(out_w, out_h, resized.tobytes())}
                )
            if rows:
                yield pd.DataFrame(rows)

    return df.mapInPandas(fn, out_schema)


def sample_video_frames(
    df: DataFrame,
    every_n: int = 2,
    bin_col: str = "content",
    keep_cols: tuple[str, ...] = ("media_id",),
) -> DataFrame:
    """Explode TNVID blobs into every n-th frame as TNIMG blobs
    (frame_idx ascending) — the frame-sampling stage of a video pipeline."""
    keep = list(keep_cols)
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    out_schema = ", ".join(
        [f"{c} {types[c]}" for c in keep] + ["frame_idx int", "frame binary"]
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            keep_vals = [pdf[c].values for c in keep]
            for j, blob in enumerate(pdf[bin_col].values):
                d = _decode_one(bytes(blob))
                if d["media_type"] != "application/x-tnvid":
                    raise ValueError("sample_video_frames expects TNVID blobs")
                w, h, nf = d["width"], d["height"], d["n_frames"]
                fsize = w * h
                for i in range(0, nf, every_n):
                    frame = d["payload"][i * fsize : (i + 1) * fsize]
                    rows.append(
                        {**{c: v[j] for c, v in zip(keep, keep_vals)},
                         "frame_idx": i,
                         "frame": encode_tnimg(w, h, frame)}
                    )
            if rows:
                yield pd.DataFrame(rows)

    return df.mapInPandas(fn, out_schema)


def _image_hash_bits(img: "np.ndarray", hash_type: str, grid: int) -> str:
    """Grid-sample a 2-D uint8 image and bit it: ahash = px > mean
    (integer-exact: grid²·px > Σpx), dhash = row[j] > row[j+1] over a
    grid x (grid+1) sample. Shared by [perceptual_hash] (one image per
    blob) and [video_frame_hashes] (one per sampled frame)."""
    h, w = img.shape
    yi = (np.arange(grid) * h) // grid
    if hash_type == "ahash":
        xi = (np.arange(grid) * w) // grid
        s = img[np.ix_(yi, xi)].astype(np.int64)
        bits = (grid * grid * s > int(s.sum())).ravel()
    else:  # dhash: one extra column, compare neighbors
        xi = (np.arange(grid + 1) * w) // (grid + 1)
        s = img[np.ix_(yi, xi)].astype(np.int64)
        bits = (s[:, :-1] > s[:, 1:]).ravel()
    return "".join("1" if b else "0" for b in bits)


def perceptual_hash(
    df: DataFrame,
    bin_col: str = "content",
    keep_cols: tuple[str, ...] = ("media_id",),
    hash_type: str = "ahash",
    grid: int = 8,
) -> DataFrame:
    """Perceptual image hash over decodable image blobs (the TN*
    synthetic path plus Pillow-decoded real formats — same decode stub
    contract as [decode_media]): per image, a grid²-bit '0'/'1' string
    robust to resizing and mild pixel noise.

    - ``ahash`` (average hash): nearest-neighbor sample to grid x grid,
      bit = pixel > mean. Integer-exact formulation: bit_k = grid² *
      px_k > Σ px — no float mean, so any ANSI engine reproduces it.
    - ``dhash`` (difference hash): sample to grid x (grid+1), bit =
      row[j] > row[j+1] — gradient-based, robust to global brightness
      shifts that flip every ahash bit.

    Emits keep_cols + (phash string). mapInPandas, narrow, no shuffle;
    the bit-string (not a packed int64) keeps banding/verify
    engine-portable (no sign traps), same representation as
    dedup.simhash_dedup."""
    if hash_type not in ("ahash", "dhash"):
        raise ValueError(
            f"perceptual_hash: hash_type must be 'ahash' or 'dhash', "
            f"got {hash_type!r}"
        )
    keep = list(keep_cols)
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    out_schema = ", ".join([f"{c} {types[c]}" for c in keep] + ["phash string"])

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            keep_vals = [pdf[c].values for c in keep]
            for i, blob in enumerate(pdf[bin_col].values):
                d = _decode_one(bytes(blob))
                if d["width"] is None or d["height"] is None:
                    raise ValueError(
                        "perceptual_hash expects image blobs (got "
                        f"{d['media_type']})"
                    )
                w, h = d["width"], d["height"]
                img = np.frombuffer(
                    d["payload"][: w * h], dtype=np.uint8
                ).reshape(h, w)
                rows.append(
                    {**{c: v[i] for c, v in zip(keep, keep_vals)},
                     "phash": _image_hash_bits(img, hash_type, grid)}
                )
            if rows:
                yield pd.DataFrame(rows)

    return df.mapInPandas(fn, out_schema)


def phash_near_dups(
    df: DataFrame,
    id_col: str = "media_id",
    bin_col: str = "content",
    hash_type: str = "ahash",
    grid: int = 8,
    band_bits: int = 16,
    max_hamming: int = 3,
) -> DataFrame:
    """Perceptual near-duplicate image pairs: [perceptual_hash] per blob,
    then the same banded-LSH candidate join + exact-Hamming verify as
    dedup.simhash_dedup (pigeonhole: hamming ≤ bands-1 guarantees a
    shared band, so recall is exact up to ``max_hamming`` = bands-1 with
    the defaults). Returns (id_1, id_2, hamming), id_1 < id_2 — the
    image-corpus counterpart of text simhash dedup: catches re-encoded /
    resized / lightly-edited copies that exact byte dedup
    (multimodal_blob_dedup) misses.

    Execution shape (100 TB): hashing is a narrow mapInPandas (blobs
    never shuffle); only the tiny (id, 64-char hash) table enters the
    banding self-join — bucketed, never all-pairs. The hash table is
    registered in the dedup persist registry (it feeds both join
    sides); consume inside ``dedup_scope()`` or call
    ``unpersist_intermediates()`` to release it."""
    from topnotch_spark.operators.dedup import bitstring_band_pairs

    bits = grid * grid
    if bits % band_bits:
        raise ValueError(
            f"phash_near_dups: band_bits={band_bits} must divide "
            f"grid²={bits}"
        )
    base = persist(
        perceptual_hash(
            df, bin_col, keep_cols=(id_col,), hash_type=hash_type, grid=grid
        ).select(F.col(id_col).alias("id"), F.col("phash").alias("sh"))
    )
    return bitstring_band_pairs(base, bits, band_bits, max_hamming)


def build_phash_index(
    df: DataFrame,
    id_col: str = "media_id",
    bin_col: str = "content",
    hash_type: str = "ahash",
    grid: int = 8,
    band_bits: int = 16,
) -> DataFrame:
    """Perceptual-hash signature index of an accepted MEDIA corpus
    snapshot — the image sibling of dedup.build_minhash_index: one row
    per (band_idx, bucket) membership of every blob, carrying the full
    grid²-bit hash string: (index_id, band_idx, bucket, sh — the
    generic dedup.build_bitsig_index layout). Persist
    this between pipeline runs (partitionable by a bucket prefix,
    exactly like the text indexes — the dedup.upsert_minhash_index
    layout applies unchanged); incremental ingestion then probes the
    bucket table and never re-decodes the old corpus's blobs. No media
    bytes are stored — the index is |bands| bucket strings + one
    64-char hash per blob regardless of blob size.

    Execution shape (100 TB): hashing is a narrow mapInPandas (blobs
    never shuffle); the bands explode is ×bands of the blob count over
    the tiny signature table."""
    from topnotch_spark.operators.dedup import build_bitsig_index

    bits = grid * grid
    if bits % band_bits:
        raise ValueError(
            f"build_phash_index: band_bits={band_bits} must divide "
            f"grid²={bits}"
        )
    base = perceptual_hash(
        df, bin_col, keep_cols=(id_col,), hash_type=hash_type, grid=grid
    ).select(F.col(id_col).alias("id"), F.col("phash").alias("sh"))
    return build_bitsig_index(base, bits, band_bits)


def dedup_batch_against_phash_index(
    batch: DataFrame,
    index: DataFrame,
    id_col: str = "media_id",
    bin_col: str = "content",
    hash_type: str = "ahash",
    grid: int = 8,
    band_bits: int = 16,
    max_hamming: int = 3,
) -> DataFrame:
    """Incremental perceptual near-dup screen of a new MEDIA batch
    against a persisted :func:`build_phash_index` — the image leg of
    the incremental-ingestion family (exact keys / minhash text /
    semantic embeddings / THIS): the old corpus's blobs are never
    re-decoded; only its bucket/signature table joins in. Candidates
    come from the (band_idx, bucket) equi-join (pigeonhole: hamming ≤
    bands-1 guarantees a shared band); each candidate pair is verified
    with the exact codegen'd Hamming distance. Returns one row per
    batch blob: (id, n_candidates, best_match_id, best_hamming, keep)
    with best = (hamming asc, index_id asc) and keep iff no candidate
    is within ``max_hamming``. An index built with a different grid
    raises instead of silently comparing misaligned bit-strings."""
    from topnotch_spark.operators.dedup import dedup_batch_against_bitsig_index

    bits = grid * grid
    if bits % band_bits:
        raise ValueError(
            f"dedup_batch_against_phash_index: band_bits={band_bits} "
            f"must divide grid²={bits}"
        )
    bsig = persist(
        perceptual_hash(
            batch, bin_col, keep_cols=(id_col,), hash_type=hash_type,
            grid=grid,
        ).select(F.col(id_col).alias("id"), F.col("phash").alias("sh"))
    )
    return dedup_batch_against_bitsig_index(
        bsig, index, bits, band_bits, max_hamming
    ).withColumnRenamed("id", id_col)


def build_audio_index(
    df: DataFrame,
    id_col: str = "media_id",
    bin_col: str = "content",
    n_frames: int = 32,
    band_bits: int = 8,
) -> DataFrame:
    """Energy-envelope signature index of an accepted AUDIO corpus
    snapshot — the audio leg of the incremental family
    (dedup.build_bitsig_index over audio_fingerprint signatures):
    (index_id, band_idx, bucket, sh), one row per band membership.
    Persist between runs; incremental ingestion probes the bucket
    table and never re-decodes the old corpus's clips."""
    from topnotch_spark.operators.dedup import build_bitsig_index

    if n_frames % band_bits:
        raise ValueError(
            f"build_audio_index: band_bits={band_bits} must divide "
            f"n_frames={n_frames}"
        )
    base = audio_fingerprint(
        df, bin_col, keep_cols=(id_col,), n_frames=n_frames
    ).select(F.col(id_col).alias("id"), F.col("afp").alias("sh"))
    return build_bitsig_index(base, n_frames, band_bits)


def dedup_batch_against_audio_index(
    batch: DataFrame,
    index: DataFrame,
    id_col: str = "media_id",
    bin_col: str = "content",
    n_frames: int = 32,
    band_bits: int = 8,
    max_hamming: int = 3,
) -> DataFrame:
    """Incremental audio near-dup screen of a new clip batch against a
    persisted :func:`build_audio_index` — same generic core as the
    image screen (dedup.dedup_batch_against_bitsig_index): banded
    bucket probes, exact Hamming verify, per-clip (id, n_candidates,
    best_match_id, best_hamming, keep); old clips never re-decode and
    a width-mismatched index raises."""
    from topnotch_spark.operators.dedup import dedup_batch_against_bitsig_index

    if n_frames % band_bits:
        raise ValueError(
            f"dedup_batch_against_audio_index: band_bits={band_bits} "
            f"must divide n_frames={n_frames}"
        )
    bsig = persist(
        audio_fingerprint(
            batch, bin_col, keep_cols=(id_col,), n_frames=n_frames
        ).select(F.col(id_col).alias("id"), F.col("afp").alias("sh"))
    )
    return dedup_batch_against_bitsig_index(
        bsig, index, n_frames, band_bits, max_hamming
    ).withColumnRenamed("id", id_col)


def build_video_index(
    df: DataFrame,
    id_col: str = "media_id",
    bin_col: str = "content",
    hash_type: str = "ahash",
    grid: int = 8,
    every_n: int = 1,
) -> DataFrame:
    """Frame-signature index of an accepted VIDEO corpus snapshot —
    the video leg of the incremental family (exact keys / minhash text
    / semantic embeddings / image phash / audio envelope / THIS). A
    video is a SET of per-frame signatures, so the index is one row
    per sampled frame: (index_id, frame_idx, sh, n_hashed) from
    [video_frame_hashes] — the (frame_idx, sh) pair IS the candidate
    bucket (the video_near_dups matching rule: re-encoded copies agree
    on most frame signatures at the same index), and n_hashed is the
    per-video denominator a match rate needs. Persist between runs
    (:func:`topnotch_spark.operators.dedup.upsert_video_index` grows
    it partition-pruned); incremental ingestion then probes the
    signature table and never re-decodes the old corpus's videos. No
    video bytes are stored — the index is (frames × 64-char hash) per
    video regardless of blob size.

    Execution shape (100 TB): hashing is a narrow mapInPandas (blobs
    never shuffle); only the per-frame signature table persists."""
    return video_frame_hashes(
        df, bin_col, keep_cols=(id_col,), hash_type=hash_type,
        grid=grid, every_n=every_n,
    ).select(
        F.col(id_col).alias("index_id"), "frame_idx",
        F.col("phash").alias("sh"), "n_hashed",
    )


def dedup_batch_against_video_index(
    batch: DataFrame,
    index: DataFrame,
    id_col: str = "media_id",
    bin_col: str = "content",
    hash_type: str = "ahash",
    grid: int = 8,
    every_n: int = 1,
    min_match_frac: float = 0.5,
    round_digits: int = 6,
) -> DataFrame:
    """Incremental keyframe-signature screen of a new VIDEO batch
    against a persisted :func:`build_video_index` — the last modality
    of the incremental-ingestion family: the old corpus's videos are
    never re-decoded; only their (frame_idx, 64-char hash) table joins
    in. Candidates come from the exact (frame_idx, sh) equi-join (the
    [video_near_dups] overlap rule — the bucket is videos sharing an
    identical frame signature at the same index, so the join is
    |real matches|-sized, never all-pairs); each candidate pair is
    scored match_frac = shared frames / max(frames hashed on either
    side). Returns one row per batch video: (id, n_candidates,
    best_match_id, best_match_frac, keep) with best = (match_frac
    desc, index_id asc) and keep iff no candidate reaches
    ``min_match_frac``. An index stored with a different grid raises
    instead of silently bucketing misaligned signature widths.

    Execution shape (100 TB): batch-sized frame hashing (narrow
    mapInPandas, blobs never shuffle); the candidate join hits only
    the index rows whose (frame_idx, signature) the batch collides
    with — partition-prunable under the upsert_video_index pfx
    layout."""
    from pyspark.sql import Window


    bits = grid * grid
    bsig = persist(
        video_frame_hashes(
            batch, bin_col, keep_cols=(id_col,), hash_type=hash_type,
            grid=grid, every_n=every_n,
        ).select(
            F.col(id_col).alias("__bid__"), "frame_idx",
            F.col("phash").alias("sh"),
            F.col("n_hashed").alias("__nb__"),
        )
    )
    iside = index.select(
        "index_id",
        "frame_idx",
        # guard: an index built with a DIFFERENT grid must fail loudly,
        # not silently never-collide on misaligned widths (the shared
        # sigs-width convention). when() keeps the check row-local.
        F.when(F.length("sh") == bits, F.col("sh")).otherwise(
            F.raise_error(
                F.concat(
                    F.lit("video index signature width "),
                    F.length("sh").cast("string"),
                    F.lit(f" != grid² {bits}; rebuild the index"),
                )
            )
        ).alias("sh"),
        F.col("n_hashed").alias("__ni__"),
    )
    matched = (
        bsig.join(iside, ["frame_idx", "sh"])
        .groupBy("__bid__", "index_id", "__nb__", "__ni__")
        .agg(F.count(F.lit(1)).alias("__nm__"))
    )
    scored = matched.select(
        "__bid__",
        "index_id",
        F.round(
            F.col("__nm__") / F.greatest("__nb__", "__ni__"), round_digits
        ).alias("__frac__"),
    )
    w = Window.partitionBy("__bid__").orderBy(
        F.col("__frac__").desc(), F.col("index_id").asc()
    )
    per = (
        scored.withColumn("__rn__", F.row_number().over(w))
        .groupBy("__bid__")
        .agg(
            F.count(F.lit(1)).alias("n_candidates"),
            F.max(
                F.when(F.col("__rn__") == 1, F.col("index_id"))
            ).alias("best_match_id"),
            F.max(
                F.when(F.col("__rn__") == 1, F.col("__frac__"))
            ).alias("best_match_frac"),
        )
    )
    return (
        bsig.select("__bid__")
        .distinct()
        .join(per, "__bid__", "left")
        .select(
            F.col("__bid__").alias(id_col),
            F.coalesce("n_candidates", F.lit(0).cast("long")).alias(
                "n_candidates"
            ),
            "best_match_id",
            "best_match_frac",
            (
                F.col("best_match_frac").isNull()
                | (F.col("best_match_frac") < F.lit(float(min_match_frac)))
            ).alias("keep"),
        )
    )


def phash_recall(
    df: DataFrame,
    id_col: str = "media_id",
    bin_col: str = "content",
    hash_type: str = "ahash",
    grid: int = 8,
    band_bits: int = 16,
    max_hamming: int = 3,
    round_digits: int = 6,
) -> DataFrame:
    """Recall report for :func:`phash_near_dups`'s banding: exact
    all-pairs Hamming ≤ max_hamming over the perceptual-hash table vs
    the banded pipeline's found pairs — the media counterpart of
    dedup.minhash_recall. One row: (n_exact_pairs, n_found_pairs,
    recall). Pigeonhole guarantees recall = 1.0 while max_hamming ≤
    bands - 1 (the default 3 = 64/16 - 1); this query proves the bound
    with data and quantifies the loss for looser configs. The exact
    side is a broadcast-NLJ over the tiny (id, hash) table — signatures
    only, blobs never join; sample at 100 TB as with minhash_recall."""
    from topnotch_spark.operators.dedup import bitstring_recall

    bits = grid * grid
    if bits % band_bits:
        raise ValueError(
            f"phash_recall: band_bits={band_bits} must divide "
            f"grid²={bits}"
        )
    base = persist(
        perceptual_hash(
            df, bin_col, keep_cols=(id_col,), hash_type=hash_type, grid=grid
        ).select(F.col(id_col).alias("id"), F.col("phash").alias("sh"))
    )
    return bitstring_recall(
        base, bits, band_bits, max_hamming, round_digits=round_digits
    )


def video_frame_hashes(
    df: DataFrame,
    bin_col: str = "content",
    keep_cols: tuple[str, ...] = ("media_id",),
    hash_type: str = "ahash",
    grid: int = 8,
    every_n: int = 1,
) -> DataFrame:
    """Per-frame perceptual hashes of TNVID blobs: every ``every_n``-th
    frame is grid-sampled and bitted with the same integer-exact
    ahash/dhash as [perceptual_hash]. Emits keep_cols + (frame_idx int,
    phash string, n_hashed int) — one row per sampled frame, n_hashed =
    frames sampled from that video (the denominator a signature match
    rate needs). mapInPandas, narrow; frames never leave the scan
    partition as separate blobs."""
    if hash_type not in ("ahash", "dhash"):
        raise ValueError(
            f"video_frame_hashes: hash_type must be 'ahash' or 'dhash', "
            f"got {hash_type!r}"
        )
    keep = list(keep_cols)
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    out_schema = ", ".join(
        [f"{c} {types[c]}" for c in keep]
        + ["frame_idx int", "phash string", "n_hashed int"]
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            keep_vals = [pdf[c].values for c in keep]
            for j, blob in enumerate(pdf[bin_col].values):
                d = _decode_one(bytes(blob))
                if d["media_type"] != "application/x-tnvid":
                    raise ValueError(
                        "video_frame_hashes expects TNVID blobs (got "
                        f"{d['media_type']})"
                    )
                w, h, nf = d["width"], d["height"], d["n_frames"]
                fsize = w * h
                idxs = list(range(0, nf, every_n))
                for i in idxs:
                    img = np.frombuffer(
                        d["payload"][i * fsize : (i + 1) * fsize],
                        dtype=np.uint8,
                    ).reshape(h, w)
                    rows.append(
                        {**{c: v[j] for c, v in zip(keep, keep_vals)},
                         "frame_idx": i,
                         "phash": _image_hash_bits(img, hash_type, grid),
                         "n_hashed": len(idxs)}
                    )
            if rows:
                yield pd.DataFrame(rows)

    return df.mapInPandas(fn, out_schema)


def video_near_dups(
    df: DataFrame,
    id_col: str = "media_id",
    bin_col: str = "content",
    hash_type: str = "ahash",
    grid: int = 8,
    every_n: int = 1,
    min_match_frac: float = 0.5,
    round_digits: int = 6,
) -> DataFrame:
    """Video near-duplicate pairs via keyframe-signature matching:
    [video_frame_hashes] per blob, then videos are paired when the SAME
    frame index carries the SAME perceptual hash — re-encoded or
    lightly-corrupted copies of a clip agree on most frame signatures
    (mild pixel noise is absorbed by the ahash itself), while distinct
    clips collide on none. Returns (id_1, id_2, n_matched, match_frac),
    id_1 < id_2, match_frac = matched frames / max(frames hashed on
    either side) ≥ ``min_match_frac``.

    Execution shape (100 TB): hashing is a narrow mapInPandas; only the
    (id, frame_idx, 64-char hash) table enters the candidate equi-join
    on (frame_idx, phash) — the bucket is videos sharing an identical
    frame signature, so the join is |real matches|-sized, never
    all-pairs. The frame-hash table is registered in the dedup persist
    registry (it feeds both join sides); consume inside
    ``dedup_scope()`` or call ``unpersist_intermediates()`` to release
    it."""
    fh = persist(
        video_frame_hashes(
            df, bin_col, keep_cols=(id_col,), hash_type=hash_type,
            grid=grid, every_n=every_n,
        ).select(
            F.col(id_col).alias("id"), "frame_idx", "phash", "n_hashed"
        )
    )
    a = fh.select(
        F.col("id").alias("id_1"), "frame_idx", "phash",
        F.col("n_hashed").alias("n_1"),
    )
    b = fh.select(
        F.col("id").alias("id_2"), "frame_idx", "phash",
        F.col("n_hashed").alias("n_2"),
    )
    matched = (
        a.join(b, ["frame_idx", "phash"])
        .filter(F.col("id_1") < F.col("id_2"))
        .groupBy("id_1", "id_2", "n_1", "n_2")
        .agg(F.count(F.lit(1)).alias("n_matched"))
    )
    frac = F.round(
        F.col("n_matched") / F.greatest("n_1", "n_2"), round_digits
    )
    return matched.select(
        "id_1", "id_2", "n_matched", frac.alias("match_frac")
    ).filter(F.col("match_frac") >= min_match_frac)


def audio_fingerprint(
    df: DataFrame,
    bin_col: str = "content",
    keep_cols: tuple[str, ...] = ("media_id",),
    n_frames: int = 32,
) -> DataFrame:
    """Energy-profile audio fingerprint over decodable audio blobs (the
    TNAUD synthetic path — a real codec swaps only the per-batch decode,
    per the module's stub contract): the sample stream is cut into
    ``n_frames`` contiguous frames, per-frame energy = Σ sample² (exact
    integers over signed bytes), bit_k = n_frames·e_k > Σe — the same
    integer-exact average-hash rule as [perceptual_hash], over the
    energy envelope instead of pixels. Robust to small sample-level
    noise (energies aggregate) and to uniform gain inversion (squares).

    Emits keep_cols + (afp string, ``n_frames`` '0'/'1' chars).
    mapInPandas, narrow, no shuffle."""
    keep = list(keep_cols)
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    out_schema = ", ".join([f"{c} {types[c]}" for c in keep] + ["afp string"])

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            keep_vals = [pdf[c].values for c in keep]
            for i, blob in enumerate(pdf[bin_col].values):
                d = _decode_one(bytes(blob))
                if d["sample_rate"] is None:
                    raise ValueError(
                        "audio_fingerprint expects audio blobs (got "
                        f"{d['media_type']})"
                    )
                s = np.frombuffer(d["payload"], dtype=np.int8).astype(np.int64)
                n = s.size
                if n < n_frames:
                    raise ValueError(
                        f"audio_fingerprint: {n} samples < {n_frames} frames"
                    )
                bounds = (np.arange(n_frames + 1) * n) // n_frames
                sq = np.concatenate(([0], np.cumsum(s * s)))
                e = sq[bounds[1:]] - sq[bounds[:-1]]
                bits = n_frames * e > int(e.sum())
                rows.append(
                    {**{c: v[i] for c, v in zip(keep, keep_vals)},
                     "afp": "".join("1" if b else "0" for b in bits)}
                )
            if rows:
                yield pd.DataFrame(rows)

    return df.mapInPandas(fn, out_schema)


def audio_near_dups(
    df: DataFrame,
    id_col: str = "media_id",
    bin_col: str = "content",
    n_frames: int = 32,
    band_bits: int = 8,
    max_hamming: int = 3,
) -> DataFrame:
    """Audio near-duplicate pairs: [audio_fingerprint] per blob, then
    the banded-LSH candidate join + exact-Hamming verify shared with
    simhash/phash (dedup.bitstring_band_pairs) — re-encoded / slightly
    renoised copies of the same clip land within ``max_hamming`` of
    each other while distinct clips' energy envelopes differ in ~half
    the frames. Returns (id_1, id_2, hamming), id_1 < id_2.

    Execution shape (100 TB): fingerprinting is a narrow mapInPandas
    (blobs never shuffle); only the (id, 32-char fingerprint) table
    enters the banding self-join. The fingerprint table is registered
    in the dedup persist registry (it feeds both join sides); consume
    inside ``dedup_scope()`` or call ``unpersist_intermediates()`` to
    release it."""
    from topnotch_spark.operators.dedup import bitstring_band_pairs

    if n_frames % band_bits:
        raise ValueError(
            f"audio_near_dups: band_bits={band_bits} must divide "
            f"n_frames={n_frames}"
        )
    base = persist(
        audio_fingerprint(
            df, bin_col, keep_cols=(id_col,), n_frames=n_frames
        ).select(F.col(id_col).alias("id"), F.col("afp").alias("sh"))
    )
    return bitstring_band_pairs(base, n_frames, band_bits, max_hamming)


def _byte_stats(blob: bytes) -> dict[str, Any]:
    """Size, high-nibble histogram and nibble entropy of one blob.
    Module-level, like ``_decode_one``, so that unpickling the UDF that
    calls it imports this package in the Python worker (and with it the
    package's zipimport guard)."""
    data = np.frombuffer(blob, dtype=np.uint8)
    hist = np.bincount(data >> 4, minlength=HIST_BINS)
    total = int(data.size)
    ent = 0.0
    for c in hist:  # fixed ascending-bin order = oracle's order
        if c > 0:
            p = c / total
            ent -= p * math.log2(p)
    return {
        "size_bytes": total,
        **{f"h{i}": int(hist[i]) for i in range(HIST_BINS)},
        "nibble_entropy": round(ent, 6),
    }


def byte_stats(
    df: DataFrame, bin_col: str = "content", keep_cols: tuple[str, ...] = ("media_id",)
) -> DataFrame:
    """Byte-level feature extraction (REAL, vectorized numpy per Arrow
    batch): size, high-nibble 16-bin histogram (exact integers), nibble
    entropy in bits (round 6). The histogram/entropy are reproducible
    from hex(blob) in any SQL engine — that is the DuckDB oracle."""
    keep = list(keep_cols)
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    hist_cols = ", ".join(f"h{i} long" for i in range(HIST_BINS))
    out_schema = ", ".join(
        [f"{c} {types[c]}" for c in keep]
        + ["size_bytes long", hist_cols, "nibble_entropy double"]
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            keep_vals = [pdf[c].values for c in keep]
            for j, blob in enumerate(pdf[bin_col].values):
                rows.append(
                    {**{c: v[j] for c, v in zip(keep, keep_vals)},
                     **_byte_stats(bytes(blob))}
                )
            if rows:
                yield pd.DataFrame(rows)

    return df.mapInPandas(fn, out_schema)
