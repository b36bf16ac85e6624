"""Multimodal columns: images/audio/video as opaque binary + typed metadata.

The Spark-side plumbing is real — schemas, Arrow-batched ``mapInPandas``
transforms, partitioning discipline. The codecs are import-gated optional
dependencies (PIL for images, soundfile for audio — the same pattern as
h5py in ``sources.nexus``): present, they decode for real; absent, a clear
ImportError names the missing library. ``fake_decode=True`` swaps in a
deterministic synthesizer with the SAME output contract, so the full
pipeline (batching, schema, feature math) is testable in any container.

Design for 100 TB of media:

* Binary payloads ride in their own column so Parquet keeps them in
  dedicated pages; metadata-only queries never touch the bytes (column
  pruning), and ``spark.sql.files.maxPartitionBytes`` sizes tasks by bytes
  not rows.
* Feature extraction is ``mapInPandas`` over Arrow batches: one Python
  roundtrip per batch, not per row; batch size bounded by
  ``spark.sql.execution.arrow.maxRecordsPerBatch`` to cap executor memory.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("kind", StringType(), True),       # image | audio | video
    StructField("format", StringType(), True),     # png, wav, mp4, ...
    StructField("payload", BinaryType(), True),    # opaque encoded bytes
    StructField("width", IntegerType(), True),
    StructField("height", IntegerType(), True),
    StructField("duration_ms", LongType(), True),
])

IMAGE_FEATURES_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("sha256", StringType(), True),
    StructField("n_bytes", LongType(), True),
    StructField("mean_luma", FloatType(), True),
    StructField("embedding", ArrayType(FloatType()), True),
])


def _decode_image_real(payload: bytes) -> np.ndarray:
    """Real codec: PIL if importable (same optional-dependency gate as the
    h5py path in sources.nexus), clear ImportError otherwise. Returns a
    2-D uint8 luma array — the identical contract as the fake, so every
    feature downstream is shared between the paths."""
    try:
        from PIL import Image  # noqa: PLC0415 — optional, gated
    except ImportError as e:
        raise ImportError(
            "image decoding requires Pillow (pip install pillow); or run "
            "with fake_decode=True for the deterministic synthetic path"
        ) from e
    import io  # noqa: PLC0415

    img = Image.open(io.BytesIO(payload)).convert("L")  # pragma: no cover
    return np.asarray(img, dtype=np.uint8)  # pragma: no cover


def _decode_image_fake(payload: bytes) -> np.ndarray:
    """Deterministic stand-in: bytes -> seeded 8x8 gray image. Keeps the
    full pipeline (batching, schema, feature math) exercisable."""
    seed = int.from_bytes(hashlib.sha256(payload).digest()[:4], "big")
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, size=(8, 8), dtype=np.uint8)


def _decode_image_digest(payload: bytes) -> np.ndarray:
    """Cross-engine-VERIFIABLE synthesizer: the payload's sha256 digest
    tiled to an 8x8 luma grid. Unlike the RNG fake, every pixel is an
    exact arithmetic function of the payload bytes that an ANSI-SQL
    oracle can recompute (hex-char arithmetic over ``sha256()``), so the
    full mapInPandas pipeline downstream of the decode boundary is
    hash-checked against DuckDB (``queries/multimodal_q.py``). Same
    output contract as the real decode."""
    d = np.frombuffer(hashlib.sha256(payload).digest(), dtype=np.uint8)
    return np.tile(d, 2).reshape(8, 8)


def _decode_audio_digest(payload: bytes) -> np.ndarray:
    """Audio twin of :func:`_decode_image_digest`: 32 samples
    ``(digest_byte - 128) / 128`` — float32-exact (power-of-two divide),
    so peak/zero-crossing features are integer-recoverable and
    SQL-checkable."""
    d = np.frombuffer(hashlib.sha256(payload).digest(), dtype=np.uint8)
    return ((d.astype(np.float32) - 128.0) / np.float32(128.0))


def extract_image_features(
    media: DataFrame, *, dim: int = 16, fake_decode: bool = False,
    decoder=None,
) -> DataFrame:
    """Decode -> luma + tiny embedding, Arrow-batched.

    Output is deterministic for a given payload (hash-seeded fake), so the
    operator is testable end to end without codecs. ``decoder`` overrides
    the decode boundary entirely (e.g. ``_decode_image_digest`` for the
    oracle-checked registry queries).
    """
    decode = decoder or (
        _decode_image_fake if fake_decode else _decode_image_real)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            out = []
            for media_id, payload in zip(batch["media_id"], batch["payload"]):
                if payload is None:
                    out.append((media_id, None, None, None, None))
                    continue
                img = decode(bytes(payload)).astype(np.float32)
                flat = img.ravel()
                emb = np.resize(flat / 255.0, dim).astype(np.float32)
                out.append((
                    int(media_id),
                    hashlib.sha256(bytes(payload)).hexdigest(),
                    len(payload),
                    float(img.mean()),
                    emb.tolist(),
                ))
            yield pd.DataFrame(
                out, columns=["media_id", "sha256", "n_bytes", "mean_luma", "embedding"]
            )

    return media.select("media_id", "payload").mapInPandas(
        run, schema=IMAGE_FEATURES_SCHEMA
    )


AUDIO_FEATURES_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("n_samples", LongType(), True),
    StructField("rms", FloatType(), True),
    StructField("peak", FloatType(), True),
    StructField("zero_crossings", LongType(), True),
])


def _decode_audio_real(payload: bytes) -> np.ndarray:
    """Real codec: soundfile if importable (same gate as h5py/PIL). Returns
    a float32 mono waveform — the identical contract as the fake."""
    try:
        import soundfile  # noqa: PLC0415 — optional, gated
    except ImportError as e:
        raise ImportError(
            "audio decoding requires soundfile (pip install soundfile); or "
            "run with fake_decode=True for the deterministic synthetic path"
        ) from e
    import io  # noqa: PLC0415

    wav, _sr = soundfile.read(io.BytesIO(payload), dtype="float32")  # pragma: no cover
    return wav if wav.ndim == 1 else wav.mean(axis=1).astype(np.float32)  # pragma: no cover


def _decode_audio_fake(payload: bytes) -> np.ndarray:
    """Deterministic stand-in: bytes -> seeded 1-second 8kHz waveform."""
    seed = int.from_bytes(hashlib.sha256(payload).digest()[:4], "big")
    rng = np.random.default_rng(seed)
    return rng.normal(scale=0.1, size=8000).astype(np.float32)


def extract_audio_features(
    media: DataFrame, *, fake_decode: bool = False, decoder=None,
) -> DataFrame:
    """Waveform summary features (RMS/peak/zero-crossings), Arrow-batched —
    same plumbing contract as :func:`extract_image_features`."""
    decode = decoder or (
        _decode_audio_fake if fake_decode else _decode_audio_real)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            out = []
            for media_id, payload in zip(batch["media_id"], batch["payload"]):
                if payload is None:
                    out.append((media_id, None, None, None, None))
                    continue
                wav = decode(bytes(payload))
                out.append((
                    int(media_id),
                    len(wav),
                    float(np.sqrt(np.mean(wav ** 2))),
                    float(np.abs(wav).max()),
                    int(np.count_nonzero(np.diff(np.signbit(wav)))),
                ))
            yield pd.DataFrame(
                out, columns=["media_id", "n_samples", "rms", "peak",
                              "zero_crossings"]
            )

    return media.select("media_id", "payload").mapInPandas(
        run, schema=AUDIO_FEATURES_SCHEMA
    )


def sample_frames(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling plumbing: one row per sampled timestamp.

    The timestamp grid is native (explode over a sequence — no Python);
    actual frame extraction would join this grid into a codec
    ``mapInPandas`` like :func:`extract_image_features`.
    """
    n_frames = (F.col("duration_ms") / every_ms).cast("long")
    return (
        media.filter(F.col("kind") == "video")
        .filter(F.col("duration_ms").isNotNull())
        .select(
            "media_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), n_frames),
                    lambda i: i * every_ms,
                )
            ).alias("frame_ts_ms"),
        )
        .filter(F.col("frame_ts_ms") < F.col("duration_ms"))
    )


FRAME_FEATURES_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("frame_ts_ms", LongType(), False),
    StructField("n_px", LongType(), True),
    StructField("sum_luma", LongType(), True),
])


def _decode_frame_real(
    payload: bytes, frame_index: int, frame_ts_ms: int
) -> np.ndarray:
    """Real codec: PyAV if importable (same optional-dependency gate as
    PIL/soundfile/h5py) — seek to the keyframe at-or-before
    ``frame_ts_ms``, then decode FORWARD to the first frame whose pts
    reaches the target, and return that frame's 2-D uint8 luma array —
    the identical contract as the digest twin (which keys its synthesis
    off ``frame_index`` instead). Seeking alone is not enough: with
    ``any_frame=False`` the demuxer lands on the preceding keyframe, so
    returning the first decoded frame would hand back that keyframe for
    every non-keyframe timestamp (ADVICE r9). When the target sits past
    the last frame, the last decodable frame is returned."""
    try:
        import av  # noqa: PLC0415 — optional, gated
    except ImportError as e:
        raise ImportError(
            "video decoding requires PyAV (pip install av); or pass "
            "decoder=_decode_frame_digest for the deterministic path"
        ) from e
    import io  # noqa: PLC0415

    with av.open(io.BytesIO(payload)) as c:  # pragma: no cover
        stream = c.streams.video[0]
        target_s = frame_ts_ms / 1000.0
        c.seek(
            int(target_s / stream.time_base),
            stream=stream, any_frame=False,
        )
        last = None
        for frame in c.decode(stream):
            last = frame
            # pts * time_base = presentation time in seconds; decode
            # forward from the keyframe until the sampled timestamp
            if frame.pts is not None and (
                float(frame.pts * stream.time_base) >= target_s
            ):
                break
        if last is not None:
            return last.to_ndarray(format="gray").astype(np.uint8)
    raise ValueError(  # pragma: no cover
        f"no frame at {frame_ts_ms} ms")


def _decode_frame_digest(
    payload: bytes, frame_index: int, frame_ts_ms: int = 0
) -> np.ndarray:
    """Frame twin of :func:`_decode_image_digest`: frame ``f`` of a
    payload decodes to the 8x8 digest tiling with a per-frame
    brightness shift — pixel ``t`` is ``(digest[t % 32] + f) % 256``.
    Every pixel of every frame is exact hex-char arithmetic an ANSI-SQL
    oracle replays per sampled timestamp, so the whole frame pipeline
    (grid explode, payload join, seek-decode kernel) is hash-checkable.
    Same output contract as a real per-frame decode."""
    d = np.frombuffer(hashlib.sha256(payload).digest(), dtype=np.uint8)
    px = (np.tile(d, 2).astype(np.int64) + int(frame_index)) % 256
    return px.reshape(8, 8).astype(np.uint8)


def extract_frame_features(
    media: DataFrame, *, every_ms: int = 1000, decoder=None,
) -> DataFrame:
    """Video frame-sampling pipeline, end to end: the NATIVE timestamp
    grid (:func:`sample_frames` — explode over a sequence, no Python)
    equi-joins the payload back on, and one Arrow-batched kernel row
    per sampled frame seek-decodes and summarizes it — the shape a real
    codec kernel has (one seek per sampled timestamp, payload bytes
    shipped once per frame row by the join).

    At 100 TB: the grid explode and join are native and map-side
    (media_id equi-join, payloads never shuffle wider than the frame
    fan-out); the Python boundary is Arrow-batched and emits 4 fixed
    columns per frame. Output: ``(media_id, frame_ts_ms, n_px,
    sum_luma)`` — sum_luma is an exact integer, so the digest path is
    oracle-checkable with zero float tolerance.
    """
    decode = decoder or _decode_frame_real
    frames = sample_frames(media, every_ms=every_ms).join(
        media.select("media_id", "payload"), "media_id"
    ).withColumn(
        "_f", (F.col("frame_ts_ms") / F.lit(every_ms)).cast("long")
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            out = []
            for media_id, ts, payload, f in zip(
                batch["media_id"], batch["frame_ts_ms"],
                batch["payload"], batch["_f"],
            ):
                if payload is None:
                    out.append((int(media_id), int(ts), None, None))
                    continue
                img = decode(bytes(payload), int(f), int(ts))
                out.append((
                    int(media_id), int(ts), int(img.size),
                    int(img.astype(np.int64).sum()),
                ))
            yield pd.DataFrame(
                out, columns=["media_id", "frame_ts_ms", "n_px", "sum_luma"]
            )

    return frames.select(
        "media_id", "frame_ts_ms", "payload", "_f"
    ).mapInPandas(run, schema=FRAME_FEATURES_SCHEMA)


PHASH_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("dhash", LongType(), True),
])


def _dhash(img: "np.ndarray", hash_size: int = 8) -> int:
    """Difference hash: downscale to (hash_size x hash_size+1) by block
    averaging, then one bit per horizontal gradient sign. Robust to
    re-encoding and resizing; Hamming distance ~ perceptual distance."""
    h, w = img.shape
    gh, gw = hash_size, hash_size + 1
    # block-average resize (no interpolation dependency): pad to a
    # multiple of the grid, then mean over blocks
    ph, pw = -(-h // gh) * gh, -(-w // gw) * gw
    padded = np.zeros((ph, pw), dtype=np.float64)
    padded[:h, :w] = img
    # replicate edges into the padding so the means stay unbiased
    if ph > h:
        padded[h:, :w] = img[-1:, :]
    if pw > w:
        padded[:h, w:] = img[:, -1:]
        if ph > h:
            padded[h:, w:] = img[-1, -1]
    small = padded.reshape(gh, ph // gh, gw, pw // gw).mean(axis=(1, 3))
    bits = (small[:, 1:] > small[:, :-1]).ravel()
    out = 0
    for b in bits:
        out = (out << 1) | int(b)
    # two's-complement into signed int64: LongType can't carry the raw
    # unsigned top bit, and the banded Hamming machinery (xor/bit_count)
    # is sign-agnostic
    return out - (1 << 64) if out >= (1 << 63) else out


def _dhash_digest_batch(payloads) -> list:
    """Whole-batch dhash over the DIGEST decode (guide §4.2: one
    vectorized numpy pass per Arrow batch instead of a per-row
    decode->pad->mean->shift chain). Exactly equal to
    ``_dhash(_decode_image_digest(p))`` per row — the digest image is
    8x8 with 1x1 blocks, so the block-mean resize is the identity and
    the padded 9th column replicates column 7 (its gradient bit is
    always 0); equality is pinned by tests/test_multimodal.py."""
    n = len(payloads)
    digs = np.zeros((n, 32), dtype=np.uint8)
    valid = np.zeros(n, dtype=bool)
    for i, p in enumerate(payloads):
        if p is not None:
            digs[i] = np.frombuffer(hashlib.sha256(bytes(p)).digest(),
                                    dtype=np.uint8)
            valid[i] = True
    imgs = np.tile(digs, 2).reshape(n, 8, 8)
    bits = np.zeros((n, 8, 8), dtype=bool)
    bits[:, :, :7] = imgs[:, :, 1:] > imgs[:, :, :-1]
    packed = np.packbits(bits.reshape(n, 64), axis=1)
    vals = np.frombuffer(packed.tobytes(), dtype=">u8").astype(
        np.uint64).view(np.int64)
    return [int(v) if ok else None for v, ok in zip(vals, valid)]


def image_dhash(
    media: DataFrame, *, fake_decode: bool = False, decoder=None,
) -> DataFrame:
    """Per-image 64-bit perceptual difference hash (Arrow-batched, same
    decode gate as ``extract_image_features``) — the media analog of the
    text fingerprint: identical and near-identical frames collide or
    land within a small Hamming distance.

    The digest decoder takes the vectorized whole-batch kernel
    (:func:`_dhash_digest_batch`); real/fake codecs keep the per-row
    decode loop (their output shape isn't known batch-wide)."""
    decode = decoder or (
        _decode_image_fake if fake_decode else _decode_image_real)
    vectorized = decode is _decode_image_digest

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            if vectorized:
                yield pd.DataFrame({
                    "media_id": batch["media_id"],
                    "dhash": _dhash_digest_batch(batch["payload"]),
                })
                continue
            out = []
            for media_id, payload in zip(batch["media_id"], batch["payload"]):
                if payload is None:
                    out.append((media_id, None))
                    continue
                img = decode(bytes(payload)).astype(np.float64)
                out.append((int(media_id), _dhash(img)))
            yield pd.DataFrame(out, columns=["media_id", "dhash"])

    return media.select("media_id", "payload").mapInPandas(
        run, schema=PHASH_SCHEMA
    )


def image_near_dup_pairs(
    media: DataFrame,
    *,
    hamming_max: int = 4,
    fake_decode: bool = False,
    decoder=None,
) -> DataFrame:
    """Near-duplicate image pairs within ``hamming_max`` of the 64-bit
    dhash, via the SAME banded candidate scheme as text SimHash
    (``dedup.simhash_band_candidates``): pigeonhole over hamming_max+1
    bands guarantees recall with equi-join candidates — never an
    all-pairs cross join. Output: (id_a, id_b, hamming)."""
    from nexus_processor_spark.functions.text import hamming64
    from nexus_processor_spark.operators.dedup import simhash_band_candidates

    hashes = image_dhash(media, fake_decode=fake_decode, decoder=decoder).filter(
        F.col("dhash").isNotNull()
    ).select(F.col("media_id").alias("doc_id"), F.col("dhash").alias("simhash"))
    # The banded self-join reads the hash table TWICE (probe + build of
    # the band equi-join); unpersisted, Catalyst re-runs the whole
    # decode->dhash Python stage per side (plan showed two MapInPandas
    # over two full scans). Persist the (id, hash) projection — 16
    # bytes/row, the lightweight proxy of guide §8 — so the media bytes
    # are decoded exactly once; the eager count keeps the two join
    # branches from racing to materialize it. At warehouse scale this
    # projection is what you'd checkpoint to the lake.
    hashes = hashes.persist()
    hashes.count()
    cands = simhash_band_candidates(hashes, bits=64, hamming_max=hamming_max)
    return (
        cands.select(
            F.col("id_a").alias("media_a"),
            F.col("id_b").alias("media_b"),
            hamming64(F.col("sh_a"), F.col("sh_b")).alias("hamming"),
        )
        .filter(F.col("hamming") <= hamming_max)
    )
