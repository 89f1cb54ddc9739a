"""Multimodal columns (north star L5): opaque binary payloads + typed
metadata, with decode/feature-extract as Arrow-batched Python stages.

Design for 100 TB of media:
- the payload is an opaque BinaryType column; Spark never interprets it
  JVM-side, so scans prune it unless a stage actually reads it.
- decode/resize/frame-sample run in mapInPandas: one Arrow batch of
  payloads per Python call, library calls vectorized over the batch.
- image/audio libs are NOT in this container, so the decode body is a
  deterministic fake behind the same seam a real decoder would use
  (clearly marked); schema/partitioning/batch plumbing are real and tested.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

DECODED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("raster_sum", T.LongType()),
        T.StructField("sha", T.StringType()),
    ]
)


def documents_as_media(docs: DataFrame) -> DataFrame:
    """Project the corpus into media shape: text bytes as the opaque
    payload, typed metadata alongside (stands in for image/audio blobs).

    No repartition: the stub decode/frame/feature stages do microseconds
    of work per row, so a spread plus 32-task scheduling
    costs more than single-partition execution at any tested SF (bisected:
    spread was the whole 2× creep of multimodal_frame_sample), and at
    production scale the scan is already row-group-parallel. A genuinely
    CPU-heavy decoder (PIL/ffmpeg) should apply ``catalog.spread`` to its
    input, because mapInPandas parallelism equals the partition count."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode("text", "utf-8").alias("payload"),
        F.create_map(
            F.lit("lang"), F.col("lang"), F.lit("source"), F.col("source")
        ).alias("meta"),
    )


def decode_media(media: DataFrame) -> DataFrame:
    """Decode each payload in Arrow batches, sniffing the container by
    magic bytes — the dispatch every real decoder front-end (PIL /
    ffmpeg probe) performs:

    - ``P5``  → binary PGM: REAL parse (pure-bytes netpbm parser) —
      width/height from the header, raster_sum = the integer sum of the
      actual pixels (the oracle-checkable digest of the decoded raster);
    - ``RIFF`` → WAV: REAL parse (stdlib ``wave``) — width = sample
      count, height = 1, raster_sum = sum of the PCM sample values;
    - anything else → ``opaque``: byte length + content sha only,
      hash-derived placeholder dims (the pre-r15 behavior, kept for
      payloads no registered codec claims).

    The sha column is forensic identity (not SQL-replayable for binary
    containers); every other output of the codec paths is an exact
    integer function the DuckDB oracle recomputes."""
    import numpy as np

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            kinds, widths, heights, rsums, shas, sizes = [], [], [], [], [], []
            for p in pdf["payload"]:
                b = bytes(p)
                sha = hashlib.sha256(b).hexdigest()
                # magic-byte dispatch with a PARSE-FAILURE fallback (r15
                # review): a payload that merely starts like a container
                # but doesn't parse (truncated PGM, text beginning
                # "RIFF", stereo WAV) must degrade to the opaque branch,
                # not fail the whole Arrow task — decoders dead-letter
                # bad rows, they don't poison their batch-mates.
                kind = "opaque"
                w = h = rsum = None
                if b.startswith(b"P5"):
                    try:
                        w, h, raster = parse_pgm(b)
                        kind = "image/pgm"
                        rsum = int(
                            np.frombuffer(raster, np.uint8)
                            .astype(np.int64).sum()
                        )
                    except ValueError:
                        pass
                elif b.startswith(b"RIFF"):
                    try:
                        samples = decode_wav(b)
                        kind, w, h = "audio/wav", len(samples), 1
                        rsum = int(
                            np.frombuffer(samples, np.uint8)
                            .astype(np.int64).sum()
                        )
                    except Exception:  # wave.Error subclasses vary
                        kind = "opaque"
                if kind == "opaque":
                    w = 16 + int(sha[:4], 16) % 1024
                    h = 16 + int(sha[4:8], 16) % 1024
                    rsum = None
                kinds.append(kind)
                widths.append(w)
                heights.append(h)
                rsums.append(rsum)
                shas.append(sha)
                sizes.append(len(b))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].astype("int64"),
                    "kind": kinds,
                    "n_bytes": sizes,
                    "width": widths,
                    "height": heights,
                    "raster_sum": pd.array(rsums, dtype="Int64"),
                    "sha": shas,
                }
            )

    return media_payload_schema(media).mapInPandas(decode, DECODED_SCHEMA)


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("pix_sum", T.LongType()),
    ]
)


# --- real-bytes image codec: binary PGM (P5), stdlib-only (r15,
# VERDICT r14 #7). PGM is netpbm's grayscale format: an ASCII header
# (magic, width, height, maxval) followed by the raw raster — simple
# enough to write and parse byte-exactly with no image library, while
# exercising exactly the decode seam a PIL/opencv stage plugs into. ---

def encode_pgm(width: int, height: int, raster: bytes) -> bytes:
    """Raw grayscale raster → binary PGM (P5) bytes."""
    if len(raster) != width * height:
        raise ValueError(
            f"PGM raster is {len(raster)} bytes, want {width}x{height}")
    return b"P5\n%d %d\n255\n" % (width, height) + raster


def parse_pgm(payload: bytes) -> tuple[int, int, bytes]:
    """Binary PGM (P5) bytes → (width, height, raster). Pure-bytes
    parser: magic, three whitespace-separated header ints ('#' comment
    lines allowed, the netpbm rule), one whitespace, then exactly
    width*height raster bytes."""
    if not payload.startswith(b"P5"):
        raise ValueError("not a P5 PGM payload")
    vals: list[int] = []
    i = 2
    while len(vals) < 3:
        while i < len(payload) and payload[i : i + 1].isspace():
            i += 1
        if payload[i : i + 1] == b"#":  # comment to end of line
            while i < len(payload) and payload[i] != 0x0A:
                i += 1
            continue
        j = i
        while j < len(payload) and not payload[j : j + 1].isspace():
            j += 1
        vals.append(int(payload[i:j]))
        i = j
    i += 1  # the single whitespace after maxval
    width, height, maxval = vals
    if maxval != 255:
        raise ValueError(f"unsupported PGM maxval {maxval}")
    raster = payload[i : i + width * height]
    if len(raster) != width * height:
        raise ValueError("truncated PGM raster")
    return width, height, raster


def documents_as_pgm_media(docs: DataFrame) -> DataFrame:
    """Corpus → REAL image payloads: each doc becomes a binary PGM whose
    dimensions derive from its byte length (sw = 8 + n%9, sh = 8 + n%7)
    and whose pixel i is the deterministic (media_id*7 + i*13) % 256 —
    an integer function both engines can restate, so downstream decode +
    resize stays exactly oracle-checkable while the payload bytes are a
    genuine parseable image format (encoded and parsed by the same
    stdlib-free pure-bytes codec)."""
    import numpy as np

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, payloads = [], []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                n = len(p)
                sw, sh = 8 + n % 9, 8 + n % 7
                i = np.arange(sw * sh, dtype=np.int64)
                raster = ((int(mid) * 7 + i * 13) % 256).astype(np.uint8)
                ids.append(int(mid))
                payloads.append(encode_pgm(sw, sh, raster.tobytes()))
            yield pd.DataFrame(
                {"media_id": pd.Series(ids, dtype="int64"),
                 "payload": payloads}
            )

    return media_payload_schema(docs).mapInPandas(
        encode,
        T.StructType([T.StructField("media_id", T.LongType()),
                      T.StructField("payload", T.BinaryType())]),
    )


def media_payload_schema(media: DataFrame) -> DataFrame:
    """Narrow any media frame to the (media_id, payload) pair the codec
    stages consume — keeps encode/decode stages schema-stable."""
    return media.select("media_id", "payload")


def resize_media(media: DataFrame, width: int = 64, height: int = 64) -> DataFrame:
    """REAL resize (r15, VERDICT r14 #7): parse each payload as binary
    PGM (pure-bytes parser — the seam a PIL/opencv decoder plugs into),
    nearest-neighbor resample the raster to width×height with one numpy
    fancy-index per image, and emit the REAL output raster plus its
    pixel sum (the oracle-checkable digest of the actual resized bytes).
    Binary in, binary out, Arrow-batched, no per-pixel Python."""
    import numpy as np

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        xs = np.arange(width, dtype=np.int64)
        ys = np.arange(height, dtype=np.int64)
        for pdf in batches:
            ids, outs, sums = [], [], []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                sw, sh, raster = parse_pgm(bytes(p))
                img = np.frombuffer(raster, dtype=np.uint8).reshape(sh, sw)
                # nearest-neighbor: out(x, y) = src(x*sw//W, y*sh//H)
                out = img[(ys * sh // height)[:, None],
                          (xs * sw // width)[None, :]]
                ids.append(int(mid))
                outs.append(out.tobytes())
                sums.append(int(out.astype(np.int64).sum()))
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "width": width,
                    "height": height,
                    "payload": outs,
                    "pix_sum": pd.Series(sums, dtype="int64"),
                }
            )

    return media_payload_schema(media).mapInPandas(resize, RESIZED_SCHEMA)


FRAMES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.LongType()),
        T.StructField("frame_sha", T.StringType()),
    ]
)


def sample_frames(media: DataFrame) -> DataFrame:
    """Frame sampling (UDTF shape: 1 media row → N frame rows). The frame
    count is a deterministic function of payload size (stands in for
    duration); each 'frame' is identified by a content-derived sha so the
    whole expansion is SQL-oracle-checkable. A real implementation replaces
    the body with ffmpeg keyframe extraction — same schema, same fan-out."""

    def frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, shas = [], [], []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                payload = bytes(p)
                n_frames = 1 + len(payload) % 4
                for i in range(n_frames):
                    ids.append(int(mid))
                    idxs.append(i)
                    shas.append(
                        hashlib.sha256(payload + str(i).encode()).hexdigest()
                    )
            yield pd.DataFrame(
                {"media_id": ids, "frame_idx": idxs, "frame_sha": shas}
            )

    return media.mapInPandas(frames, FRAMES_SCHEMA)


FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
    ]
)


def extract_features(media: DataFrame, dim: int = 64) -> DataFrame:
    """Payload → feature embedding (array<float>), the bridge from media to
    the similarity operators (ivf_topk / brute_force_topk run unchanged on
    the output). Fake featurizer: hash-seeded floats in [-1, 1); a real one
    batches payloads through a vision/audio model here."""

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            vecs = []
            for p in pdf["payload"]:
                digest = hashlib.sha256(bytes(p)).digest()
                raw = (digest * (dim * 2 // len(digest) + 1))[: dim * 2]
                vecs.append(
                    [
                        (int.from_bytes(raw[2 * i : 2 * i + 2], "big") / 32768.0)
                        - 1.0
                        for i in range(dim)
                    ]
                )
            yield pd.DataFrame(
                {"media_id": pdf["media_id"].astype("int64"), "feature": vecs}
            )

    return media.mapInPandas(feats, FEATURES_SCHEMA)


# --- real-bytes audio codec: WAV PCM via the stdlib ``wave`` module
# (r15, VERDICT r14 #7). 8-bit WAV PCM stores unsigned bytes 0..255, so
# the deterministic sample function used since r11 round-trips through a
# genuine RIFF container bit-exactly — the encode writes a real WAV file
# and the energy stage parses it back with the same library every audio
# pipeline's ingest step uses. ---

def encode_wav(samples_u8: bytes, framerate: int = 8000) -> bytes:
    """Unsigned 8-bit PCM samples → mono WAV (RIFF) bytes, stdlib only."""
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(1)
        w.setframerate(framerate)
        w.writeframes(samples_u8)
    return buf.getvalue()


def decode_wav(payload: bytes) -> bytes:
    """Mono 8-bit WAV bytes → raw unsigned PCM samples (stdlib ``wave``)."""
    import io
    import wave

    with wave.open(io.BytesIO(payload), "rb") as w:
        if w.getnchannels() != 1 or w.getsampwidth() != 1:
            raise ValueError(
                f"expected mono 8-bit PCM, got {w.getnchannels()}ch "
                f"{8 * w.getsampwidth()}-bit"
            )
        return w.readframes(w.getnframes())


def documents_as_wav_media(media: DataFrame) -> DataFrame:
    """Media frame → REAL audio payloads: each payload byte becomes one
    8-bit PCM sample ``(media_id*31 + k*17) % 256`` (the r11 sample
    function, now actually stored), packed into a genuine mono WAV
    container by the stdlib ``wave`` writer. Downstream stages parse the
    RIFF bytes back — the decode seam is real, while the sample values
    stay an exact integer function both engines can restate."""
    import numpy as np

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, payloads = [], []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                n = len(p)
                k = np.arange(n, dtype=np.int64)
                samples = ((int(mid) * 31 + k * 17) % 256).astype(np.uint8)
                ids.append(int(mid))
                payloads.append(encode_wav(samples.tobytes()))
            yield pd.DataFrame(
                {"media_id": pd.Series(ids, dtype="int64"),
                 "payload": payloads}
            )

    return media_payload_schema(media).mapInPandas(
        encode,
        T.StructType([T.StructField("media_id", T.LongType()),
                      T.StructField("payload", T.BinaryType())]),
    )


AUDIO_WINDOWS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("window_idx", T.LongType()),
        T.StructField("energy", T.LongType()),
    ]
)


def audio_energy_windows(media: DataFrame, window: int = 64) -> DataFrame:
    """Audio-shaped stage: decode each WAV payload to PCM samples and emit
    one row per fixed-size window with its integer energy (sum of squared
    samples) — the framing every audio featurizer (VAD, loudness
    normalization, silence trimming) starts from. The decode is REAL as
    of r15 (VERDICT r14 #7): the stdlib ``wave`` parser reads the RIFF
    container and returns the stored unsigned 8-bit PCM samples; a
    soundfile/ffmpeg decoder for compressed codecs plugs into the same
    seam. The Spark plumbing is unchanged: binary in, numpy-vectorized
    window reduction per Arrow batch, windows out.

    Scale: one Python stage, no shuffle — windows are computed inside
    the batch that already holds the payload; the downstream top-k/agg
    is JVM-side. 100 TB of audio shards by file exactly like the
    image/video paths."""
    import numpy as np

    def windows(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, widx, energy = [], [], []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                raw = decode_wav(bytes(p))
                n = len(raw)
                if n == 0:
                    continue
                samples = np.frombuffer(raw, dtype=np.uint8).astype(np.int64)
                starts = np.arange(0, n, window)
                e = np.add.reduceat(samples * samples, starts)
                ids.extend([int(mid)] * len(starts))
                widx.extend(range(len(starts)))
                energy.extend(int(x) for x in e)
            yield pd.DataFrame(
                {"media_id": pd.Series(ids, dtype="int64"),
                 "window_idx": pd.Series(widx, dtype="int64"),
                 "energy": pd.Series(energy, dtype="int64")}
            )

    return media.select("media_id", "payload").mapInPandas(
        windows, AUDIO_WINDOWS_SCHEMA
    )


def perturb_pgm(media: DataFrame, id_offset: int = 1_000_000) -> DataFrame:
    """Derive a NEAR-DUPLICATE twin of each PGM payload: parse the real
    bytes, flip the low bit of the first three pixels, re-encode, and
    re-id at ``media_id + id_offset`` — the crop/re-encode/minor-edit
    case perceptual hashing exists to catch. The perturbation is an
    exact integer function (pixel_i ^= 1 for i < 3), so the oracle can
    restate the twin raster from the generative formula without ever
    touching bytes."""
    import numpy as np

    def twist(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, payloads = [], []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                w, h, raster = parse_pgm(bytes(p))
                arr = np.frombuffer(raster, dtype=np.uint8).copy()
                arr[:3] ^= 1
                ids.append(int(mid) + id_offset)
                payloads.append(encode_pgm(w, h, arr.tobytes()))
            yield pd.DataFrame(
                {"media_id": pd.Series(ids, dtype="int64"),
                 "payload": payloads}
            )

    return media.mapInPandas(
        twist,
        T.StructType([T.StructField("media_id", T.LongType()),
                      T.StructField("payload", T.BinaryType())]),
    )


def image_ahash(media: DataFrame) -> DataFrame:
    """Average-hash (aHash) each PGM payload from its REAL decoded
    pixels: nearest-neighbor sample an 8x8 grid (the resize_media
    index rule), set bit j iff sample_j * 64 > sum(samples) (strict —
    division-free mean comparison), and pack the 64 bits as TWO 32-bit
    halves in BIGINT columns (hash_lo = bits 0-31, hash_hi = bits
    32-63) so no engine ever touches the int64 sign bit. One numpy
    pass per image inside Arrow batches; the hash is an exact integer
    function of the raster, replayable by the oracle wherever the
    raster itself is."""
    import numpy as np

    def hash_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, his, los = [], [], []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                w, h, raster = parse_pgm(bytes(p))
                arr = np.frombuffer(raster, dtype=np.uint8).astype(np.int64)
                rr = (np.arange(8) * h) // 8
                cc = (np.arange(8) * w) // 8
                samp = arr[(rr[:, None] * w + cc[None, :]).ravel()]
                tot = int(samp.sum())
                bits = (samp * 64 > tot).astype(np.int64)
                lo = int((bits[:32] << np.arange(32, dtype=np.int64)).sum())
                hi = int((bits[32:] << np.arange(32, dtype=np.int64)).sum())
                ids.append(int(mid)); his.append(hi); los.append(lo)
            yield pd.DataFrame(
                {"media_id": pd.Series(ids, dtype="int64"),
                 "hash_hi": pd.Series(his, dtype="int64"),
                 "hash_lo": pd.Series(los, dtype="int64")}
            )

    return media.mapInPandas(
        hash_batch,
        T.StructType([T.StructField("media_id", T.LongType()),
                      T.StructField("hash_hi", T.LongType()),
                      T.StructField("hash_lo", T.LongType())]),
    )


def perturb_wav(media: DataFrame, id_offset: int = 1_000_000) -> DataFrame:
    """Near-duplicate WAV twin: parse the real RIFF bytes, flip the low
    bit of the first three PCM samples, re-encode — the re-encode/
    light-edit case audio fingerprinting exists to catch; exact integer
    perturbation, so the oracle restates the twin signal from the
    generative sample formula."""
    import numpy as np

    def twist(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, payloads = [], []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                raw = decode_wav(bytes(p))
                arr = np.frombuffer(raw, dtype=np.uint8).copy()
                arr[:3] ^= 1
                ids.append(int(mid) + id_offset)
                payloads.append(encode_wav(arr.tobytes()))
            yield pd.DataFrame(
                {"media_id": pd.Series(ids, dtype="int64"),
                 "payload": payloads}
            )

    return media.mapInPandas(
        twist,
        T.StructType([T.StructField("media_id", T.LongType()),
                      T.StructField("payload", T.BinaryType())]),
    )


def audio_fingerprint(media: DataFrame) -> DataFrame:
    """Energy-envelope fingerprint of each WAV payload from its REAL
    decoded PCM samples: grid the signal into 32 equal spans (span j =
    samples [j*n//32, (j+1)*n//32) — empty spans contribute 0 via an
    exact cumsum difference), bit j = span_energy * 32 > total_energy
    (division-free strict mean test), packed into one BIGINT (32 bits —
    the sign bit never matters). The audio sibling of image_ahash."""
    import numpy as np

    def fp_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, fps = [], []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                raw = decode_wav(bytes(p))
                s = np.frombuffer(raw, dtype=np.uint8).astype(np.int64)
                n = len(s)
                cs = np.concatenate(([0], np.cumsum(s * s)))
                j = np.arange(33, dtype=np.int64)
                bounds = (j * n) // 32
                env = cs[bounds[1:]] - cs[bounds[:-1]]
                tot = int(cs[-1])
                bits = (env * 32 > tot).astype(np.int64)
                fps.append(int((bits << np.arange(32, dtype=np.int64)).sum()))
                ids.append(int(mid))
            yield pd.DataFrame(
                {"media_id": pd.Series(ids, dtype="int64"),
                 "fp": pd.Series(fps, dtype="int64")}
            )

    return media.mapInPandas(
        fp_batch,
        T.StructType([T.StructField("media_id", T.LongType()),
                      T.StructField("fp", T.LongType())]),
    )


# --- pHash (r16, VERDICT r15 #8): perceptual hash via an integer
# DCT-II — the frequency-domain sibling of image_ahash, robust to the
# monotone point transforms (gamma / contrast curves) that flip aHash's
# spatial mean-test bits. All arithmetic is exact integers (a pinned
# fixed-point cosine table), so the hash is replayable by the DuckDB
# oracle from the generative raster formula. ---

PHASH_N = 16          # sample grid: 16x16 (the published pHash recipe)
PHASH_SCALE = 10000   # fixed-point cosine scale


def phash_cos_table() -> list[int]:
    """The pinned integer DCT-II basis: C[u][x] =
    round(cos(pi*(2x+1)*u/32) * 10000), flattened row-major (u*16 + x).
    Shared verbatim by the numpy operator and the oracle SQL literal —
    ONE table, two engines."""
    import math

    return [
        round(math.cos(math.pi * (2 * x + 1) * u / (2 * PHASH_N))
              * PHASH_SCALE)
        for u in range(PHASH_N)
        for x in range(PHASH_N)
    ]


def perturb_pgm_gamma(media: DataFrame, id_offset: int = 1_000_000) -> DataFrame:
    """Derive a GAMMA-CURVED twin of each PGM payload: parse the real
    bytes, square-law-darken every pixel (p' = p*p // 255 — the
    monotone tone-curve edit re-encoders and display pipelines apply),
    re-encode, re-id at ``media_id + id_offset``. Unlike perturb_pgm's
    3-pixel bit flips, this touches EVERY pixel, so the spatial
    mean-test hash (aHash) flips several bits while the low-frequency
    DCT sign structure (pHash) barely moves — the exact gap pHash
    exists to close. Integer-exact, so the oracle restates the twin
    raster from the generative formula."""
    import numpy as np

    def twist(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, payloads = [], []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                w, h, raster = parse_pgm(bytes(p))
                arr = np.frombuffer(raster, dtype=np.uint8).astype(np.int64)
                arr = (arr * arr) // 255
                ids.append(int(mid) + id_offset)
                payloads.append(encode_pgm(w, h, arr.astype(np.uint8).tobytes()))
            yield pd.DataFrame(
                {"media_id": pd.Series(ids, dtype="int64"),
                 "payload": payloads}
            )

    return media.mapInPandas(
        twist,
        T.StructType([T.StructField("media_id", T.LongType()),
                      T.StructField("payload", T.BinaryType())]),
    )


def image_phash(media: DataFrame) -> DataFrame:
    """Perceptual-hash (pHash) each PGM payload from its REAL decoded
    pixels: nearest-neighbor sample a 16x16 grid (the resize_media
    index rule), 2-D integer DCT-II with the pinned fixed-point cosine
    table (one matmul pair per image), keep the LOW-FREQUENCY top-left
    8x8 coefficient block, and set bit j (j > 0) iff coeff_j * 63 >
    sum(non-DC coeffs) — the division-free mean test over the 63
    non-DC low coefficients (bit 0, the DC/brightness bucket, is
    always 0: pHash deliberately ignores absolute brightness). Packed
    as TWO 32-bit halves (hash_lo = bits 0-31, hash_hi = bits 32-63)
    so no engine touches the int64 sign bit. One numpy pass per image
    inside Arrow batches; exact integers end to end, replayable by the
    oracle wherever the raster is."""
    import numpy as np

    C = np.array(phash_cos_table(), dtype=np.int64).reshape(
        PHASH_N, PHASH_N
    )

    def hash_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, his, los = [], [], []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                w, h, raster = parse_pgm(bytes(p))
                arr = np.frombuffer(raster, dtype=np.uint8).astype(np.int64)
                img = arr.reshape(h, w)
                rr = (np.arange(PHASH_N) * h) // PHASH_N
                cc = (np.arange(PHASH_N) * w) // PHASH_N
                s = img[rr[:, None], cc[None, :]]
                low = (C @ s @ C.T)[:8, :8].ravel()
                nondc = low[1:]
                tot = int(nondc.sum())
                bits = np.zeros(64, dtype=np.int64)
                bits[1:] = nondc * 63 > tot
                lo = int((bits[:32] << np.arange(32, dtype=np.int64)).sum())
                hi = int((bits[32:] << np.arange(32, dtype=np.int64)).sum())
                ids.append(int(mid)); his.append(hi); los.append(lo)
            yield pd.DataFrame(
                {"media_id": pd.Series(ids, dtype="int64"),
                 "hash_hi": pd.Series(his, dtype="int64"),
                 "hash_lo": pd.Series(los, dtype="int64")}
            )

    return media.mapInPandas(
        hash_batch,
        T.StructType([T.StructField("media_id", T.LongType()),
                      T.StructField("hash_hi", T.LongType()),
                      T.StructField("hash_lo", T.LongType())]),
    )
