"""Multimodal column plumbing: image/audio/video as opaque binary
columns with typed metadata (driver-mandated extension surface — the
reference has no media path at all).

The decode step is REAL for all eight shipped container formats:
genuine PNG + baseline JPEG images (``operators/jpeg.py``), 8-bit PCM
WAV + IMA-ADPCM (``operators/adpcm.py``) + MDCT transform audio
(``operators/mdct.py``), and Y4M + Motion-JPEG AVI
(``operators/avi.py``) + P-frame delta video
(``operators/pframe.py``); the kernels' ``fake=False`` paths parse
the containers and compute features from the decoded pixel/sample
arrays. The remaining production seam is
BITSTREAM-compatible codecs — H.264/AAC entropy and psychoacoustic
stages need native libraries this container
does not ship, and :func:`decode_media_real` raises for those formats
explicitly.

Oracle design: the corpus writer seeds decoded CONTENT from md5 — an
image's pixel plane is ``md5('media:'||id)`` tiled, an audio window's
samples are ``md5('rms:'||digest||':'||ms)`` tiled, a video frame is
``md5('frame:'||digest||':'||ms)`` tiled. Features are honest functions
of the decoded arrays (mean, sum-of-squares energy, leading-block
fingerprints), chosen so that on this corpus they are ALSO pure md5/hex
SQL expressions — which is what lets DuckDB reproduce a real
decode-and-measure pipeline value-for-value. The legacy ``fake=True``
paths compute the same features straight from the digest without
decoding; real-vs-fake parity is pytest-asserted (tests/test_multimodal.py).

100 TB notes: payloads dominate row size, so batches are bounded with
``spark.sql.execution.arrow.maxRecordsPerBatch`` (set in session.py's
conf policy, tunable per pipeline); frame fan-out multiplies rows, so
it repartitions afterwards; feature extraction projects payload-free
columns as early as possible — never carry binaries through a shuffle
you don't have to.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from clickhouse_build_spark.localframe import local_frame
from clickhouse_build_spark.operators.codecs import (
    decode_png_gray,
    decode_wav_pcm8,
    decode_y4m_mono,
    encode_png_gray,
    encode_wav_pcm8,
    encode_y4m_mono,
)
from clickhouse_build_spark.operators.jpeg import (
    FLAT_QTABLE,
    decode_jpeg_gray,
    encode_jpeg_gray,
)

# ------------------------------------------------------------------ schema

MEDIA_META = T.StructType(
    [
        T.StructField("format", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
    ]
)

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),  # image | audio | video
        T.StructField("payload", T.BinaryType()),
        T.StructField("meta", MEDIA_META),
    ]
)

IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mean_luma", T.DoubleType()),
        T.StructField("phash", T.LongType()),
    ]
)

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_ms", T.IntegerType()),
        T.StructField("frame_fp", T.LongType()),
        T.StructField("frame_payload", T.BinaryType()),
    ]
)

# Corpus geometry shared by the writer, the fake paths, and the oracles.
_KIND_NAMES = ("image", "audio", "video")
# Max rows per yielded Arrow batch in payload-emitting kernels (each
# yielded pandas frame becomes one record batch; bound its bytes).
_PAYLOAD_SLICE_ROWS = 256
_AUDIO_RATE = 16000
_AUDIO_SEED_MS = 250  # audio content re-seeds every 250 ms window
_VIDEO_FRAME_MS = 500  # Y4M corpus is written at 2 fps


def _det_bytes(seed: str, n: int) -> bytes:
    """Deterministic pseudo-payload: an md5 chain, n bytes.

    By construction the first 16 bytes equal ``md5(seed)`` — which is
    what makes every fake-codec feature oracle-checkable: a SQL engine
    can recompute ``payload[:16].hex()`` as ``md5(seed)`` without
    rebuilding the whole chain (see :func:`_payload_digest`).
    """
    out = b""
    block = seed.encode()
    while len(out) < n:
        block = hashlib.md5(block).digest()
        out += block
    return out[:n]


def _payload_digest(payload: bytes) -> str:
    """Hex digest that identifies a payload for the fake-codec paths:
    the first md5 block of the chain, read back from the bytes that
    actually crossed Arrow. For chain payloads seeded ``media:{id}``
    this equals ``md5('media:' || id)`` — reproducible in DuckDB SQL,
    so downstream features can be hash-verified by the oracle gate."""
    return payload[:16].hex()


def _media_geometry(i: int) -> tuple[str, dict]:
    """(kind, meta) for media row ``i`` — pure doc_id arithmetic, shared
    by every corpus writer so oracles can re-derive it in SQL.

    Every modality alternates container format: even image ordinals
    are PNG, odd ones (``i % 6 == 3``) baseline JPEG; even audio
    ordinals are PCM WAV, odd ones alternate IMA-ADPCM (``i % 12 ==
    4``) and MDCT transform coding (``i % 12 == 10``); even video
    ordinals are uncompressed Y4M, odd ones alternate Motion-JPEG AVI
    (``i % 12 == 5``) and P-frame delta AVI (``i % 12 == 11``) — a
    realistic mixed-format corpus that forces every consumer through
    the format dispatch instead of assuming one codec, with BOTH a
    simple and an advanced compressed format in each modality."""
    kind = _KIND_NAMES[i % 3]
    fmt = {"image": "png", "audio": "wav", "video": "y4m"}[kind]
    if kind == "image" and i % 6 == 3:
        fmt = "jpeg"
    if kind == "audio" and i % 6 == 4:
        # odd audio ordinals alternate the two compressed codings:
        # i % 12 == 4 → IMA-ADPCM (time-domain), i % 12 == 10 → MDCT
        # transform coding (operators/mdct.py)
        fmt = "adpcm" if i % 12 == 4 else "mdct"
    if kind == "video" and i % 6 == 5:
        # odd video ordinals alternate the two compressed containers:
        # i % 12 == 5 → Motion-JPEG AVI (intra-only), i % 12 == 11 →
        # P-frame delta AVI (inter-frame, operators/pframe.py)
        fmt = "avi" if i % 12 == 5 else "pframe"
    meta = {
        "format": fmt,
        "width": 64 + (i % 4) * 32 if kind != "audio" else None,
        "height": 48 + (i % 3) * 16 if kind != "audio" else None,
        "duration_ms": 1000 * (1 + i % 5) if kind != "image" else None,
        "sample_rate": _AUDIO_RATE if kind == "audio" else None,
    }
    return kind, meta


def _tile16(block: bytes, n: int) -> np.ndarray:
    """Tile one 16-byte md5 block to n uint8 values (n % 16 == 0)."""
    return np.tile(np.frombuffer(block, dtype=np.uint8), n // 16)


def _real_payload(i: int) -> bytes:
    """REAL container bytes for media row ``i``.

    The decoded content is seeded from md5 so that honest features of
    the decoded arrays (means, energies, leading-block fingerprints)
    are reproducible as SQL md5/hex expressions — see module docstring.
    """
    kind, meta = _media_geometry(i)
    digest = hashlib.md5(f"media:{i}".encode()).digest()
    dhex = digest.hex()
    if kind == "image":
        w, h = meta["width"], meta["height"]
        if meta["format"] == "jpeg":
            # 8×8-CONSTANT md5-seeded tiles under the flat quantization
            # table: the one content shape whose lossy-codec round-trip
            # is bit-exact (operators/jpeg.py module docstring), which
            # is what keeps decoded-jpeg features SQL-oracle-checkable.
            bpr, brows = w // 8, h // 8
            idx = (
                np.arange(brows)[:, None] * bpr + np.arange(bpr)[None, :]
            ) % 16
            vals = np.frombuffer(digest, np.uint8)[idx]
            return encode_jpeg_gray(
                np.kron(vals, np.ones((8, 8), np.uint8)), FLAT_QTABLE
            )
        pixels = _tile16(digest, w * h).reshape(h, w)
        return encode_png_gray(pixels)
    if kind == "audio":
        dur = meta["duration_ms"]
        win = _AUDIO_RATE * _AUDIO_SEED_MS // 1000  # 4000 samples / window
        if meta["format"] in ("adpcm", "mdct"):
            # one CONSTANT int16 value per 250 ms window — the content
            # shape whose round-trip is bit-exact through BOTH
            # compressed codecs (ADPCM: header sample + zero deltas;
            # MDCT: near-lossless quantization at the default step)
            vals = np.array(
                [
                    (hashlib.md5(f"rms:{dhex}:{ms}".encode()).digest()[0] - 128)
                    * 256
                    for ms in range(0, dur, _AUDIO_SEED_MS)
                ],
                dtype=np.int16,
            )
            if meta["format"] == "mdct":
                from clickhouse_build_spark.operators.mdct import encode_mdct

                return encode_mdct(np.repeat(vals, win), _AUDIO_RATE)
            from clickhouse_build_spark.operators.adpcm import (
                encode_wav_adpcm,
            )

            return encode_wav_adpcm(
                np.repeat(vals, win), _AUDIO_RATE, samples_per_block=win
            )
        chunks = [
            _tile16(hashlib.md5(f"rms:{dhex}:{ms}".encode()).digest(), win)
            for ms in range(0, dur, _AUDIO_SEED_MS)
        ]
        return encode_wav_pcm8(np.concatenate(chunks), _AUDIO_RATE)
    w, h, dur = meta["width"], meta["height"], meta["duration_ms"]
    if meta["format"] in ("avi", "pframe"):
        # 8×8-constant tiles (the bit-exact jpeg content shape), block
        # value cycling the per-frame digest. P-frame content maps the
        # digest bytes into [64, 191] (b//2 + 64) so every consecutive
        # frame delta fits the codec's ±127 residual range — which is
        # what keeps the inter-frame reconstruction bit-exact
        # (operators/pframe.py module docstring).
        bpr, brows = w // 8, h // 8
        idx = (np.arange(brows)[:, None] * bpr + np.arange(bpr)[None, :]) % 16
        frames = []
        for ms in range(0, dur, _VIDEO_FRAME_MS):
            vals = np.frombuffer(
                hashlib.md5(f"frame:{dhex}:{ms}".encode()).digest(), np.uint8
            )
            if meta["format"] == "pframe":
                vals = vals // 2 + 64
            frames.append(
                np.kron(vals[idx], np.ones((8, 8), np.uint8))
            )
        if meta["format"] == "pframe":
            from clickhouse_build_spark.operators.pframe import (
                encode_avi_pframe,
            )

            return encode_avi_pframe(frames, fps=1000 // _VIDEO_FRAME_MS)
        from clickhouse_build_spark.operators.avi import encode_avi_mjpeg

        return encode_avi_mjpeg(frames, fps=1000 // _VIDEO_FRAME_MS)
    frames = [
        _tile16(
            hashlib.md5(f"frame:{dhex}:{ms}".encode()).digest(), w * h
        ).reshape(h, w)
        for ms in range(0, dur, _VIDEO_FRAME_MS)
    ]
    return encode_y4m_mono(frames, fps_num=1000, fps_den=_VIDEO_FRAME_MS)


def synthetic_media(spark: SparkSession, n: int = 24) -> DataFrame:
    """Deterministic fake media table matching MEDIA_SCHEMA — the test
    stand-in for an ingested media corpus (payload bytes are md5
    chains, sized per kind; NOT real containers — pair with
    ``fake=True`` kernels)."""
    rows = []
    for i in range(n):
        kind, meta = _media_geometry(i)
        size = {"image": 4096, "audio": 8192, "video": 16384}[kind]
        # even video ordinals advertise the compressed format the real
        # corpus can't ship (exercising the codec seam); everything
        # else keeps its real-corpus format so the fake feature paths
        # mirror the real geometry (png/jpeg images, avi videos)
        if kind == "video" and meta["format"] == "y4m":
            meta = {**meta, "format": "mp4"}
        rows.append((i, kind, _det_bytes(f"media:{i}", size), meta))
    # Few partitions for a tiny corpus: a mapInPandas stage pays one
    # Python-worker spin-up per partition, so defaulting to the session
    # parallelism (32) costs ~30 s of pure worker startup for 24 rows.
    # Real media arrives from parquet with data-sized partitioning.
    return local_frame(spark, rows, MEDIA_SCHEMA).coalesce(4)


def media_from_documents(
    docs: DataFrame,
    kinds: tuple[str, ...] | None = None,
    real_payloads: bool = True,
) -> DataFrame:
    """Derive a deterministic media corpus from the ``documents`` table,
    so media row counts scale with the scale factor instead of being a
    fixed 24-row synthetic.

    Each document becomes one media row: ``media_id = doc_id``, kind by
    ``doc_id % 3`` (0=image, 1=audio, 2=video), metadata from ``doc_id``
    arithmetic. With ``real_payloads=True`` (default) the payload is a
    REAL container byte stream — PNG / WAV / Y4M, encoded by
    ``operators/codecs.py`` — whose decoded content is the md5-seeded
    pattern described in the module docstring. With
    ``real_payloads=False`` it is the legacy tiled md5 block (cheap
    opaque filler for fake-path benchmarks). Generation runs in an
    Arrow-batched ``mapInPandas`` stage — the ingest seam where
    production reads object-store bytes instead; everything downstream
    (decode, feature-extract, fan-out) is identical either way.

    Scale: generation is embarrassingly parallel (no shuffle); payload
    size is bounded per kind so Arrow batches stay memory-safe with the
    session's maxRecordsPerBatch cap. ``kinds`` prunes BEFORE payload
    generation — a kind filter after ``mapInPandas`` can't be pushed
    through the Python stage by Catalyst, so a consumer that wants only
    videos would otherwise pay for every image/audio payload too (the
    parquet-side analogue is partition pruning on a kind column).
    """
    sizes = {"image": 4096, "audio": 8192, "video": 16384}
    if kinds is not None:
        wanted = [i for i, k in enumerate(_KIND_NAMES) if k in kinds]
        docs = docs.filter((F.col("doc_id") % 3).isin(wanted))

    def tiled(i: int) -> bytes:
        n = sizes[_KIND_NAMES[i % 3]]
        block = hashlib.md5(f"media:{i}".encode()).digest()
        return (block * (n // 16 + 1))[:n]

    make_payload = _real_payload if real_payloads else tiled

    # The generation kernel is CPU-bound per row (container encode), so
    # its parallelism is the input's partition count — and a small-SF
    # documents table is ONE parquet file, which would serialize the
    # whole corpus onto one core. Repartitioning here shuffles only the
    # 8-byte doc_id column (payloads don't exist yet), so it's cheap at
    # any scale; at 100 TB the input is already many partitions and the
    # branch never fires.
    docs = docs.select("doc_id")
    if not docs.isStreaming:
        # (streaming inputs skip this: .rdd is illegal on a streaming
        # DataFrame, and micro-batch parallelism is the source's concern)
        target = docs.sparkSession.sparkContext.defaultParallelism
        if docs.rdd.getNumPartitions() < target:
            docs = docs.repartition(target)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # Yield in bounded slices: each yielded frame becomes ONE
            # Arrow record batch, so emitting a whole 4096-row input
            # batch of ~50-130 KB payloads at once is a ~0.5 GB
            # allocation per task — at 32 concurrent tasks that blew
            # the Arrow allocator in the sf1 rehearsal. 256 rows caps
            # a batch at ~35 MB for the largest (video) payloads.
            for lo in range(0, len(pdf), _PAYLOAD_SLICE_ROWS):
                ids = pdf["doc_id"].iloc[lo : lo + _PAYLOAD_SLICE_ROWS]
                geo = [_media_geometry(i) for i in ids]
                yield pd.DataFrame(
                    {
                        "media_id": ids,
                        "kind": [k for k, _ in geo],
                        "payload": ids.map(make_payload),
                        "meta": [m for _, m in geo],
                    }
                )

    return docs.mapInPandas(kernel, MEDIA_SCHEMA)


# --------------------------------------------------------------- decoding


def decode_media_real(payload: bytes, fmt: str):
    """The REAL decode dispatch.

    - ``png`` → 2-D uint8 pixel array
    - ``jpeg`` → 2-D uint8 pixel array (pure-python baseline decoder,
      operators/jpeg.py — huffman + dequant + IDCT, no native libs)
    - ``wav`` → (sample_rate, 1-D uint8 samples)
    - ``adpcm`` → (sample_rate, 1-D int16 samples) — IMA-ADPCM
      (operators/adpcm.py), real 4-bit compressed audio
    - ``mdct`` → (sample_rate, 1-D int16 samples) — TRANSFORM audio
      (operators/mdct.py): MDCT filterbank + per-band bit allocation,
      near-lossless at the default step
    - ``y4m`` → (width, height, frame_interval_ms, [2-D uint8 frames])
    - ``avi`` → same tuple — Motion-JPEG demux (operators/avi.py RIFF
      walk) with every frame through the baseline JPEG decoder
    - ``pframe`` → same tuple — INTER-frame delta video
      (operators/pframe.py): JPEG I-frame + JPEG-coded residuals,
      idx1-keyframe-flag dispatch, sequential reconstruction

    Formats needing native-library TRANSFORM/entropy pipelines
    (mp4/h264's CABAC, aac) raise — that is the marked production seam
    where pyav/torchaudio plug in. Every modality has a real
    compressed format implemented, and video additionally has temporal
    prediction: baseline jpeg images, IMA-ADPCM audio, MJPEG avi +
    P-frame delta video — plus the uncompressed png/wav/y4m twins.
    """
    if fmt == "png":
        return decode_png_gray(payload)
    if fmt == "jpeg":
        return decode_jpeg_gray(payload)
    if fmt == "wav":
        return decode_wav_pcm8(payload)
    if fmt == "adpcm":
        from clickhouse_build_spark.operators.adpcm import decode_wav_adpcm

        return decode_wav_adpcm(payload)
    if fmt == "mdct":
        from clickhouse_build_spark.operators.mdct import decode_mdct

        return decode_mdct(payload)
    if fmt == "y4m":
        w, h, fps_num, fps_den, frames = decode_y4m_mono(payload)
        return w, h, 1000 * fps_den // fps_num, frames
    if fmt == "avi":
        from clickhouse_build_spark.operators.avi import decode_avi_mjpeg

        return decode_avi_mjpeg(payload)
    if fmt == "pframe":
        from clickhouse_build_spark.operators.pframe import decode_avi_pframe

        return decode_avi_pframe(payload)
    raise NotImplementedError(
        f"no native codec for {fmt!r} in this environment — the remaining "
        "production seam is BITSTREAM-compatible codecs whose entropy "
        "coders and psychoacoustic stages need native libraries (H.264's CABAC, "
        "AAC's Huffman + perceptual model), where pyav/torchaudio plug "
        "in; png, baseline jpeg, wav, IMA-ADPCM, MDCT transform audio, "
        "y4m, MJPEG avi and inter-frame P-frame delta video decode IS "
        "implemented (operators/codecs.py, jpeg.py, avi.py, adpcm.py, "
        "mdct.py, pframe.py)"
    )


def _fake_luma(payload: bytes) -> float:
    # mean of the first 16 payload bytes — a deterministic "pixel mean".
    # k/16.0 is binary-exact with <=4 decimal digits, so the value is
    # bit-identical across engines (no rounding needed).
    head = payload[:16]
    return sum(head) / 16.0


def _fake_phash(payload: bytes) -> int:
    # 15 hex chars = 60 bits: fits signed 64 without a shift, and a SQL
    # engine reproduces it as ('0x' || substr(md5(seed),1,15))::BIGINT.
    return int(_payload_digest(payload)[:15], 16)


def _block_fp(pixels: np.ndarray, nbytes: int, nhex: int) -> int:
    """Leading-block content fingerprint: the first ``nbytes`` decoded
    pixels (row-major) read as hex, truncated to ``nhex`` chars. An
    honest function of decoded content; on the md5-seeded corpus it
    coincides with the md5 oracle expression."""
    return int(pixels.reshape(-1)[:nbytes].tobytes().hex()[:nhex], 16)


def extract_image_features(media: DataFrame, fake: bool = False) -> DataFrame:
    """Image → feature rows via Arrow-batched ``mapInPandas``.

    ``fake=False`` (default) DECODES the payload — PNG or baseline JPEG,
    dispatched on ``meta.format`` — and measures the pixel array:
    width/height from the container header, ``mean_luma`` = true mean of
    the luma plane, ``phash`` = leading-16-pixel block fingerprint.
    ``fake=True`` derives the same features from the payload digest +
    metadata without decoding (legacy chain/tiled corpora), mirroring
    each format's content geometry.

    Plumbing under test either way: kind pruning *before* the Python
    stage, binary round-trip through Arrow, stable output schema,
    payload dropped on output (features only cross the next shuffle).
    """

    def real_row(p: bytes, fmt: str) -> tuple[int, int, float, int]:
        pix = (
            decode_jpeg_gray(bytes(p))
            if fmt == "jpeg"
            else decode_png_gray(bytes(p))
        )
        h, w = pix.shape
        # int sums keep the mean exact: total < 2^53 for any sane image
        mean = int(pix.sum(dtype=np.int64)) / pix.size
        return w, h, mean, _block_fp(pix, 16, 15)

    def fake_row(p: bytes, m: dict) -> tuple[float, int]:
        if m["format"] == "jpeg":
            # block-constant geometry: nb 8×8 tiles cycling the digest
            d = bytes.fromhex(_payload_digest(p))
            nb = (m["width"] // 8) * (m["height"] // 8)
            s = sum(d[b % 16] for b in range(nb))
            # same division operands as the real path's sum/size
            return (64 * s) / (64 * nb), int((d[0:1].hex() * 8)[:15], 16)
        return _fake_luma(p), _fake_phash(p)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if fake:
                faked = [
                    fake_row(p, m) for p, m in zip(pdf["payload"], pdf["meta"])
                ]
                cols = {
                    "width": pdf["meta"].map(lambda m: m["width"]),
                    "height": pdf["meta"].map(lambda m: m["height"]),
                    "mean_luma": [d[0] for d in faked],
                    "phash": [d[1] for d in faked],
                }
            else:
                decoded = [
                    real_row(p, m["format"])
                    for p, m in zip(pdf["payload"], pdf["meta"])
                ]
                cols = {
                    "width": [d[0] for d in decoded],
                    "height": [d[1] for d in decoded],
                    "mean_luma": [d[2] for d in decoded],
                    "phash": [d[3] for d in decoded],
                }
            yield pd.DataFrame({"media_id": pdf["media_id"], **cols})

    return media.filter(F.col("kind") == "image").mapInPandas(
        kernel, IMAGE_FEATURES_SCHEMA
    )


def resize_images(
    media: DataFrame, width: int, height: int, fake: bool = False
) -> DataFrame:
    """Image resize: payload → new payload + updated meta, same schema
    in and out (a transform stage, chainable).

    ``fake=False`` (default) is a REAL resize: decode (PNG or baseline
    JPEG, dispatched on ``meta.format``) → nearest-neighbour resample to
    (width, height) → re-encode PNG. The output container is ALWAYS
    PNG — the transform doubles as the corpus's format-normalization
    (transcode) step, so a mixed png/jpeg corpus leaves this stage
    uniform, and ``meta.format`` is rewritten accordingly.
    ``fake=True`` re-derives a deterministic placeholder payload keyed
    by (payload digest, target size) — seeded from ``_payload_digest``
    for consistency with the digest scheme (this path is outside the
    oracle-checked surface; it exists for chain-payload fixtures).
    """

    def real_resize(p: bytes, fmt: str) -> bytes:
        pix = (
            decode_jpeg_gray(bytes(p))
            if fmt == "jpeg"
            else decode_png_gray(bytes(p))
        )
        h, w = pix.shape
        rows = (np.arange(height) * h) // height
        cols = (np.arange(width) * w) // width
        return encode_png_gray(pix[np.ix_(rows, cols)])

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf.copy()
            if fake:
                out["payload"] = pdf["payload"].map(
                    lambda p: _det_bytes(
                        f"resize:{_payload_digest(p)}:{width}x{height}",
                        width * height // 4,
                    )
                )
                out["meta"] = pdf["meta"].map(
                    lambda m: {**m, "width": width, "height": height}
                )
            else:
                out["payload"] = [
                    real_resize(p, m["format"])
                    for p, m in zip(pdf["payload"], pdf["meta"])
                ]
                out["meta"] = pdf["meta"].map(
                    lambda m: {
                        **m,
                        "format": "png",
                        "width": width,
                        "height": height,
                    }
                )
            yield out

    images = media.filter(F.col("kind") == "image")
    return images.mapInPandas(kernel, MEDIA_SCHEMA)


def sample_frames(
    media: DataFrame,
    every_ms: int = 500,
    fake: bool = False,
    with_payload: bool = True,
) -> DataFrame:
    """Video frame sampling: one row in → ``duration/every_ms`` frame
    rows out (the row-explosion shape of real frame extraction).

    ``fake=False`` (default) decodes the Y4M stream and strides over
    REAL frames: ``every_ms`` must be a multiple of the container's
    frame interval; ``frame_fp`` is the leading-4-pixel block
    fingerprint of the decoded frame; ``frame_payload`` is the raw luma
    plane. ``fake=True`` derives fingerprints from the payload digest
    without decoding.

    Scale: fan-out multiplies row count, so callers repartition after
    this stage. Consumers that only need frame metadata/fingerprints
    pass ``with_payload=False`` — a dropped column after
    ``mapInPandas`` is NOT free (Catalyst can't prune through the
    Python stage), so the kernel must skip the bytes itself.
    """

    def real_frames(media_id, payload, meta) -> list[tuple]:
        w, h, interval_ms, frames = decode_media_real(
            bytes(payload), meta["format"]
        )
        if every_ms % interval_ms:
            raise ValueError(
                f"every_ms={every_ms} not a multiple of the stream's "
                f"frame interval {interval_ms} ms"
            )
        stride = every_ms // interval_ms
        return [
            (
                media_id,
                idx,
                fi * interval_ms,
                _block_fp(frames[fi], 4, 8),
                frames[fi].tobytes() if with_payload else None,
            )
            for idx, fi in enumerate(range(0, len(frames), stride))
        ]

    def fake_frames(media_id, payload, meta) -> list[tuple]:
        duration = meta["duration_ms"] or 0
        digest = _payload_digest(payload)
        out = []
        for idx, ms in enumerate(range(0, duration, every_ms)):
            seed = f"frame:{digest}:{ms}"
            fhex = hashlib.md5(seed.encode()).hexdigest()
            # mirror each format's decoded-content geometry: avi frames
            # are 8×8-constant tiles (first 4 pixels all = byte 0),
            # pframe tiles map the byte into [64, 191] (b//2 + 64, the
            # residual-range guarantee), the rest tile the digest
            # row-wise (first 4 pixels = bytes 0-3)
            if meta["format"] == "avi":
                fp = int(fhex[:2] * 4, 16)
            elif meta["format"] == "pframe":
                fp = (int(fhex[:2], 16) // 2 + 64) * 0x01010101
            else:
                fp = int(fhex[:8], 16)
            out.append(
                (
                    media_id,
                    idx,
                    ms,
                    fp,
                    _det_bytes(seed, 1024) if with_payload else None,
                )
            )
        return out

    explode = fake_frames if fake else real_frames

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["media_id", "frame_idx", "frame_ms", "frame_fp", "frame_payload"]
        # fan-out multiplies bytes when payloads are kept: bound each
        # yielded batch (one Arrow allocation) to a slice of inputs
        step = _PAYLOAD_SLICE_ROWS if with_payload else 1 << 30
        for pdf in batches:
            for lo in range(0, len(pdf), step):
                sl = pdf.iloc[lo : lo + step]
                # zip over columns, not iterrows: per-row Series
                # construction dominates an iterrows loop at fan-out
                # row counts
                rows = [
                    t
                    for args in zip(sl["media_id"], sl["payload"], sl["meta"])
                    for t in explode(*args)
                ]
                yield pd.DataFrame(rows, columns=cols)

    return media.filter(F.col("kind") == "video").mapInPandas(kernel, FRAME_SCHEMA)


AUDIO_CHUNK_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("chunk_idx", T.IntegerType()),
        T.StructField("start_ms", T.IntegerType()),
        T.StructField("end_ms", T.IntegerType()),
        T.StructField("energy", T.LongType()),
    ]
)


def chunk_audio(
    media: DataFrame, window_ms: int = 250, fake: bool = False
) -> DataFrame:
    """Audio windowing: one audio row → ``ceil(duration/window_ms)``
    fixed-length chunk rows with a per-chunk energy — the VAD/feature-
    window stage of a speech pipeline (whisper-style ingest segments
    exactly like this before transcription).

    ``energy`` is the sum of squared 8-bit samples in the window — an
    exact integer, so real decode and the SQL oracle agree bit-for-bit
    (an RMS float would drag both engines through sqrt rounding).
    ``fake=False`` (default) decodes the WAV container and measures the
    PCM array; ``fake=True`` derives the same value from the payload
    digest: each 250 ms seed window tiles one md5 block, so a window's
    sum-of-squares is ``(samples_per_window/16) * sumsq(digest bytes)``.

    Scale: fan-out is bounded (duration/window rows per input);
    payloads are NOT carried into the output — only scalar features
    cross any later shuffle.
    """
    if window_ms % _AUDIO_SEED_MS:
        raise ValueError(
            f"window_ms must be a multiple of the corpus seed window "
            f"({_AUDIO_SEED_MS} ms) for the fake path to stay exact"
        )

    def real_chunks(media_id, payload, meta) -> list[tuple]:
        # wav decodes to uint8 PCM, adpcm to int16 — the int64 square
        # below is exact for both
        rate, samples = decode_media_real(bytes(payload), meta["format"])
        duration = len(samples) * 1000 // rate
        win = rate * window_ms // 1000
        sq = samples.astype(np.int64) ** 2
        n_full = len(sq) // win
        # vectorized per-window sums: one reshape for the full windows,
        # one tail sum for a trailing partial window
        sums = sq[: n_full * win].reshape(n_full, win).sum(axis=1)
        if len(sq) > n_full * win:
            sums = np.append(sums, sq[n_full * win :].sum())
        return [
            (
                media_id,
                idx,
                ms,
                min(ms + window_ms, duration),
                int(sums[idx]),
            )
            for idx, ms in enumerate(range(0, duration, window_ms))
        ]

    def fake_chunks(media_id, payload, meta) -> list[tuple]:
        duration = meta["duration_ms"] or 0
        rate = meta["sample_rate"] or _AUDIO_RATE
        digest = _payload_digest(payload)
        per_seed = rate * _AUDIO_SEED_MS // 1000
        adpcm = meta["format"] in ("adpcm", "mdct")
        out = []
        for idx, ms in enumerate(range(0, duration, window_ms)):
            energy = 0
            for seed_ms in range(ms, min(ms + window_ms, duration), _AUDIO_SEED_MS):
                block = hashlib.md5(f"rms:{digest}:{seed_ms}".encode()).digest()
                if adpcm:
                    # one constant int16 value per seed window
                    v = (block[0] - 128) * 256
                    energy += per_seed * v * v
                else:
                    energy += (per_seed // 16) * sum(b * b for b in block)
            out.append(
                (
                    media_id,
                    idx,
                    ms,
                    min(ms + window_ms, duration),
                    energy,
                )
            )
        return out

    explode = fake_chunks if fake else real_chunks

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["media_id", "chunk_idx", "start_ms", "end_ms", "energy"]
        for pdf in batches:
            rows = [
                t
                for args in zip(pdf["media_id"], pdf["payload"], pdf["meta"])
                for t in explode(*args)
            ]
            yield pd.DataFrame(rows, columns=cols)

    return media.filter(F.col("kind") == "audio").mapInPandas(
        kernel, AUDIO_CHUNK_SCHEMA
    )
