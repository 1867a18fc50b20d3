"""Multimodal (image/audio/video) column plumbing.

Media is carried as opaque ``binary`` payloads plus typed metadata — the
Spark-side contract a training-data pipeline needs at 100 TB: payloads
never pass through the JVM row format un-batched (Arrow everywhere),
decode/feature work happens in ``mapInPandas`` over whole record batches,
and partitioning is by ``pmod(xxhash64(media_ref), P)`` so one giant
document's media spreads across tasks (same salting story as the
extraction pipeline).

The *codec* layer is stubbed: this container has no PIL/cv2/ffmpeg, so
``decode_image``/``sample_frames`` parse a deterministic fake header that
``synth_media`` writes into the payload (documented below). Everything
around the stub — schemas, batch iteration, UDF signatures, partitioning,
explode shapes — is the real engineering and is what the tests cover.
A real deployment swaps ``_decode_header`` for the codec call; nothing
else changes.

Fake payload format (synth_media): ``b"MMFK" + width:4 + height:4 +
n_frames:4 + doc_id:8`` (big-endian) followed by ``payload_len`` filler
bytes that are a pure function of doc_id. width/height/n_frames are pure
functions of doc_id (see synth_media) so a SQL oracle can recompute them.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MAGIC = b"MMFK"
HEADER_FMT = ">4siiiq"  # magic, width, height, n_frames, doc_id
HEADER_SIZE = struct.calcsize(HEADER_FMT)

MEDIA_SCHEMA = (
    "media_ref string, kind string, payload binary, "
    "meta struct<width:int, height:int, n_frames:int>"
)

DECODED_SCHEMA = "media_ref string, width int, height int, n_frames int, ok boolean"
FEATURES_SCHEMA = "media_ref string, feature array<float>"


def synth_media(docs: DataFrame, payload_len: int = 256) -> DataFrame:
    """Deterministic media table from the driver's ``documents`` table:
    one media object per doc. width = 64 + doc_id % 97,
    height = 64 + doc_id % 53, n_frames = 1 + doc_id % 48 (images have
    n_frames == 1; every third object is a 'video')."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["doc_id"].to_numpy()
            rows = {
                "media_ref": [f"media://{i}" for i in ids],
                "kind": ["video" if i % 3 == 0 else "image" for i in ids],
                "payload": [
                    struct.pack(
                        HEADER_FMT, MAGIC, 64 + int(i) % 97, 64 + int(i) % 53,
                        (1 + int(i) % 48) if i % 3 == 0 else 1, int(i),
                    )
                    + bytes((int(i) + j) % 256 for j in range(payload_len))
                    for i in ids
                ],
                "meta": [
                    {
                        "width": 64 + int(i) % 97,
                        "height": 64 + int(i) % 53,
                        "n_frames": (1 + int(i) % 48) if i % 3 == 0 else 1,
                    }
                    for i in ids
                ],
            }
            yield pd.DataFrame(rows)

    return docs.select("doc_id").mapInPandas(gen, MEDIA_SCHEMA)


def _decode_header(payload: bytes) -> tuple[int, int, int] | None:
    """STUB for the codec call (PIL.Image.open / cv2.VideoCapture). Parses
    the synth_media header; returns None for undecodable payloads — the
    real implementation raises/handles codec errors the same way."""
    if payload is None or len(payload) < HEADER_SIZE:
        return None
    magic, w, h, n, _doc = struct.unpack(HEADER_FMT, payload[:HEADER_SIZE])
    if magic != MAGIC:
        return None
    return w, h, n


def decode_media(
    media: DataFrame, partitions: int | None = None, decoder=None
) -> DataFrame:
    """Decode pass: payload → (width, height, n_frames, ok). Arrow-batched;
    repartitioned by media_ref hash so payload bytes balance across tasks.

    ``decoder`` is the codec injection seam: any callable
    ``(payload: bytes) -> (width, height, n_frames) | None`` — e.g. a
    PIL/cv2-backed implementation in production — slots in with no
    engine-code edit (the closure below captures it and cloudpickle
    ships it to the workers). Default: the deterministic header sim."""
    decoder = decoder or _decode_header

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            decoded = [decoder(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_ref": pdf["media_ref"],
                    "width": [d[0] if d else 0 for d in decoded],
                    "height": [d[1] if d else 0 for d in decoded],
                    "n_frames": [d[2] if d else 0 for d in decoded],
                    "ok": [d is not None for d in decoded],
                }
            )

    src = media.repartition(partitions, "media_ref") if partitions else media
    return src.select("media_ref", "payload").mapInPandas(decode, DECODED_SCHEMA)


def sample_frames(media: DataFrame, every: int = 10, decoder=None) -> DataFrame:
    """Frame sampling for video payloads: every ``every``-th frame index
    (always including frame 0) → one row per sampled frame. The explode is
    JVM-side (sequence + explode) over the decoded frame count — only the
    decode itself crosses into Python. ``decoder`` as in
    :func:`decode_media`."""
    decoded = decode_media(media, decoder=decoder)
    vids = decoded.where(F.col("ok") & (F.col("n_frames") > 1))
    idx = F.explode(
        F.filter(
            F.sequence(F.lit(0), F.col("n_frames") - 1),
            lambda i: i % every == 0,
        )
    ).alias("frame_idx")
    return vids.select("media_ref", idx).select(
        "media_ref",
        "frame_idx",
        F.concat_ws("#", "media_ref", "frame_idx").alias("frame_ref"),
    )


PHASH_BITS = 64
PHASH_BANDS = 4  # 4 bands x 16 bits — the LAION-style banding for Hamming ANN
PHASH_SCHEMA = "media_ref string, b0 int, b1 int, b2 int, b3 int"


def _stride_bits(payload: bytes):
    """Default pHash bit source: sign bits of strided body bytes."""
    body = np.frombuffer(payload[HEADER_SIZE:], dtype=np.uint8)
    stride = max(1, body.size // PHASH_BITS)
    bits = (body[::stride][:PHASH_BITS] > 127).astype(np.int64)
    return np.pad(bits, (0, PHASH_BITS - bits.size))


def phash_media(media: DataFrame, hasher=None) -> DataFrame:
    """Perceptual-hash stub over the binary payload: 64 sign bits of
    strided body bytes (stands in for the DCT-sign pHash; the Arrow batch
    path, the bit packing, and the banding downstream are the real
    engineering). Emitted directly as four 16-bit band integers — the
    form the Hamming-LSH join consumes — so no engine ever assembles a
    signed 64-bit value (bit 63 would wrap differently across engines).

    Real deployment: pass ``hasher`` — any callable
    ``(payload: bytes) -> 64 0/1 ints`` (e.g. imagehash.phash bits over
    the decoded frame); the schema and every operator after this stage
    are unchanged. Default: the byte-stride threshold sim."""
    hasher = hasher or _stride_bits

    def ph(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            bands: list[list[int]] = [[] for _ in range(PHASH_BANDS)]
            for p in pdf["payload"]:
                bits = np.asarray(hasher(p), dtype=np.int64)
                per = PHASH_BITS // PHASH_BANDS
                for b in range(PHASH_BANDS):
                    chunk = bits[b * per : (b + 1) * per]
                    bands[b].append(int((chunk << np.arange(per)).sum()))
            yield pd.DataFrame(
                {
                    "media_ref": pdf["media_ref"],
                    **{f"b{b}": bands[b] for b in range(PHASH_BANDS)},
                }
            )

    return media.select("media_ref", "payload").mapInPandas(ph, PHASH_SCHEMA)


def _stride_features(payload: bytes, dim: int) -> list[float]:
    """Default featurizer: mean of byte-value strides."""
    body = np.frombuffer(payload[HEADER_SIZE:], dtype=np.uint8)
    if body.size == 0:
        return [0.0] * dim
    chunks = np.array_split(body.astype(np.float32), dim)
    # chunk means are exact in fp32 (sum < 2^13, /2^5) — no rounding
    return [float(c.mean()) if c.size else 0.0 for c in chunks]


def extract_features(media: DataFrame, dim: int = 8, featurizer=None) -> DataFrame:
    """Feature extraction stub: a deterministic ``dim``-float vector from
    payload bytes (mean of byte-value strides — stands in for a CNN/CLIP
    forward pass; batch shape and Arrow transfer are the real thing).
    ``featurizer``: any ``(payload: bytes, dim: int) -> list[float]`` —
    the model-inference drop-in point."""
    featurizer = featurizer or _stride_features

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = [featurizer(p, dim) for p in pdf["payload"]]
            yield pd.DataFrame({"media_ref": pdf["media_ref"], "feature": out})

    return media.select("media_ref", "payload").mapInPandas(feats, FEATURES_SCHEMA)
