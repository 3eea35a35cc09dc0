"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Design: image/audio/video payloads travel as ``binary`` columns (or object
store path pointers for >~1 MB payloads) with a sibling metadata struct;
decode / feature-extraction runs as Arrow-batched pandas iterators
(mapInPandas), which is the supported way to run per-record Python at
cluster scale without row-at-a-time serialization.

Decoders: three modalities are decoded FOR REAL by pure-Python parsers
(these formats need no codec library, so no stub): PPM (P6, binary
RGB — fixed header + raw pixels) via ``decode_image`` /
``resize_ppm_thumbnails`` / ``image_ahash`` (r12/r13), WAV (RIFF/PCM16)
via ``decode_audio`` / ``audio_frame_energy`` / ``audio_fingerprint``
(a real RIFF chunk walker), and Y4M (YUV4MPEG2, raw 4:2:0 planes behind
a text header) via ``decode_video`` (r13).  Near-dup detection composes
on the decoders: perceptual hashes (aHash, energy-delta) feed the shared
``banded_hamming_pairs`` pigeonhole join.  Formats that genuinely need a
codec (JPEG/PNG/MP3/H.264) keep the deterministic byte-level stand-ins
(``_decode_batch`` byte histogram, byte-striding resize, chunk "frames")
so the Spark-side plumbing — schema, batching, partitioning, fan-out —
is real and tested; swap the per-batch function for PIL/librosa/ffmpeg
in production, the mapInPandas contract is unchanged.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("mime", T.StringType()),
                    T.StructField("n_bytes", T.LongType()),
                    T.StructField("source", T.StringType()),
                ]
            ),
        ),
    ]
)

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        # float64: the Python decoder computes in double anyway, and float32
        # storage would perturb values across the exact-halfway rounding
        # boundaries the oracle comparison prints at
        T.StructField("feature", T.ArrayType(T.DoubleType())),
    ]
)


def documents_as_media(docs: DataFrame) -> DataFrame:
    """Adapter: treat document text bytes as an opaque media payload —
    exercises the binary-column path against real testdata."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.col("text").cast("binary").alias("payload"),
        F.struct(
            F.lit("text/plain").alias("mime"),
            F.length(F.col("text").cast("binary")).cast("long").alias("n_bytes"),
            F.col("source").alias("source"),
        ).alias("meta"),
    )


def payload_stats(media: DataFrame) -> DataFrame:
    """Pure-JVM metadata pass: byte length + content hash, no decode.
    This is the cheap pre-filter you run before shipping bytes to Python."""
    return media.select(
        "media_id",
        F.length("payload").cast("long").alias("n_bytes"),
        F.sha2(F.col("payload"), 256).alias("payload_sha256"),
    )


def _decode_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    """STUB decoder: deterministic fake 8-dim feature from payload bytes.

    Production: replace with e.g. PIL.Image.open(io.BytesIO(b)) → resize →
    np.asarray; the mapInPandas contract (Arrow batches in/out) is unchanged.
    """
    feats = []
    for b in pdf["payload"]:
        b = bytes(b or b"")
        # deterministic fake: byte-histogram moments over 8 buckets
        # (vectorized r13 — bincount over `byte % 8`, same exact counts
        # as the former per-byte Python loop)
        buckets = np.bincount(
            np.frombuffer(b[:4096], dtype=np.uint8) % 8, minlength=8
        )
        total = max(int(buckets.sum()), 1)
        feats.append([float(c) / total for c in buckets])
    return pd.DataFrame(
        {
            "media_id": pdf["media_id"],
            "n_bytes": [len(bytes(b or b"")) for b in pdf["payload"]],
            "feature": feats,
        }
    )


def extract_features(media: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction via mapInPandas (the scale path for
    per-record Python).  Batch size is governed by
    spark.sql.execution.arrow.maxRecordsPerBatch."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _decode_batch(pdf)

    return media.select("media_id", "payload").mapInPandas(run, FEATURES_SCHEMA)


FRAMES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_sha256", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)


def sample_frames(
    media: DataFrame, frame_bytes: int = 1024, max_frames: int = 8
) -> DataFrame:
    """Frame sampling — the 1->N multimodal shape (one media row fans out to
    several frame rows) as an Arrow-batched mapInPandas.

    The "decoder" is a DETERMINISTIC STUB (fixed-size byte chunks stand in
    for keyframes — no ffmpeg in this container); production swaps the
    chunk loop for real keyframe extraction while the Spark-side plumbing
    (fan-out schema, batch iteration, per-frame hashing) stays identical.
    Deterministic chunking also makes this the one Python mapInPandas op
    with a full SQL oracle (blob substring + sha256 in DuckDB).
    """
    import hashlib

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                "media_id": [], "frame_idx": [], "frame_sha256": [], "n_bytes": [],
            }
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(payload or b"")
                n_frames = min(max_frames, max(1, (len(b) + frame_bytes - 1) // frame_bytes))
                for i in range(n_frames):
                    chunk = b[i * frame_bytes:(i + 1) * frame_bytes]
                    out["media_id"].append(mid)
                    out["frame_idx"].append(i)
                    out["frame_sha256"].append(hashlib.sha256(chunk).hexdigest())
                    out["n_bytes"].append(len(chunk))
            frame = pd.DataFrame(out)
            frame["frame_idx"] = frame["frame_idx"].astype("int32")
            yield frame

    return media.select("media_id", "payload").mapInPandas(run, FRAMES_SCHEMA)


THUMBNAIL_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("thumb_w", T.IntegerType()),
        T.StructField("thumb_h", T.IntegerType()),
        T.StructField("thumbnail", T.BinaryType()),
    ]
)


def resize_thumbnails(media: DataFrame, thumb_w: int = 8, thumb_h: int = 8) -> DataFrame:
    """Resize — the 1->1 binary-to-binary multimodal shape: each payload
    becomes a fixed-size thumbnail byte grid.

    STUB resizer (no PIL in this container): deterministic byte striding
    samples thumb_w*thumb_h evenly-spaced payload bytes (a real resize is
    `PIL.Image.open(...).resize((w, h)).tobytes()` with the identical
    mapInPandas contract).  Output stays a typed ``binary`` column so
    downstream ops (payload_stats, extract_features) compose unchanged.
    """
    n_px = thumb_w * thumb_h

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            thumbs = []
            for payload in pdf["payload"]:
                b = bytes(payload or b"")
                if not b:
                    thumbs.append(bytes(n_px))
                    continue
                step = max(len(b) // n_px, 1)
                sampled = b[::step][:n_px]
                thumbs.append(sampled.ljust(n_px, b"\x00"))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "thumb_w": pd.Series([thumb_w] * len(pdf), dtype="int32"),
                    "thumb_h": pd.Series([thumb_h] * len(pdf), dtype="int32"),
                    "thumbnail": thumbs,
                }
            )

    return media.select("media_id", "payload").mapInPandas(run, THUMBNAIL_SCHEMA)


# ---------------------------------------------------------------------------
# Real PPM (P6) decode — pure Python, no image libraries (r12)
# ---------------------------------------------------------------------------

DECODED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        # exact integer channel sums, not float means: sums hash identically
        # across engines (registry conventions: no floats on a hash path);
        # mean_c = channel_sums[c] / (width*height) when a caller wants it
        T.StructField("channel_sums", T.ArrayType(T.LongType())),
    ]
)


def synthetic_ppm_media(
    ids: DataFrame, id_col: str = "media_id", perturb_origin: bool = False
) -> DataFrame:
    """Deterministic PPM (P6) fixture images as MEDIA_SCHEMA rows — the
    image-shaped testdata generator (no image libs in the container, and
    the driver's parquet tables carry no blobs, so fixtures are
    synthesized from ids).  For media id m:
      width  = 8 + m % 5,  height = 6 + m % 7
      pixel byte at (x, y, channel c) = (m*7919 + y*131 + x*17 + c*29) % 256
    The formula is pure integer arithmetic so a SQL oracle can restate the
    decoded statistics WITHOUT parsing bytes — Spark's path is
    generate -> encode_ppm -> parse_ppm -> aggregate, the oracle computes
    the same stats straight from the formula; any parser drift breaks the
    hash.  Generation itself is Arrow-batched Python (fixture-making, not
    a hot operator).

    ``perturb_origin=True`` (r13, the near-dup fixture knob) adds 128
    (mod 256) to channel 0 of the ORIGIN pixel (x=0, y=0) only — a
    deterministic single-pixel edit that leaves the image a perceptual
    near-duplicate of its unperturbed twin, restatable in SQL as the same
    formula + the one conditional term."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {"media_id": [], "payload": [], "meta": []}
            for mid in pdf[id_col]:
                m = int(mid)
                w, h = 8 + m % 5, 6 + m % 7
                rgb = bytes(
                    (
                        m * 7919 + y * 131 + x * 17 + c * 29
                        + (128 if perturb_origin and x == 0 and y == 0 and c == 0 else 0)
                    ) % 256
                    for y in range(h)
                    for x in range(w)
                    for c in range(3)
                )
                payload = encode_ppm(w, h, rgb)
                out["media_id"].append(m)
                out["payload"].append(payload)
                out["meta"].append(
                    {"mime": "image/x-portable-pixmap",
                     "n_bytes": len(payload), "source": "synthetic"}
                )
            yield pd.DataFrame(out)

    return ids.select(F.col(id_col)).mapInPandas(run, MEDIA_SCHEMA)


def parse_ppm(b: bytes) -> tuple[int, int, bytes] | None:
    """Parse a binary PPM (P6) payload -> (width, height, raw RGB bytes),
    or None if the payload is not a well-formed maxval-255 P6 image.
    Header grammar per the netpbm spec: 'P6', then whitespace-separated
    width/height/maxval with '#' comments allowed between tokens, then
    EXACTLY ONE whitespace byte, then width*height*3 raw bytes."""
    if not b or not b.startswith(b"P6"):
        return None
    i, n = 2, len(b)
    fields: list[int] = []
    while len(fields) < 3:
        while i < n and b[i : i + 1].isspace():
            i += 1
        if i < n and b[i : i + 1] == b"#":  # comment to end of line
            while i < n and b[i] not in (0x0A, 0x0D):
                i += 1
            continue
        j = i
        while j < n and b[j : j + 1].isdigit():
            j += 1
        if j == i:
            return None
        fields.append(int(b[i:j]))
        i = j
    if i >= n or not b[i : i + 1].isspace():
        return None
    i += 1  # the single post-maxval whitespace byte
    w, h, maxval = fields
    if w <= 0 or h <= 0 or maxval != 255:
        return None
    need = w * h * 3
    if n - i < need:
        return None
    return w, h, b[i : i + need]


def encode_ppm(width: int, height: int, rgb: bytes) -> bytes:
    """Assemble a binary PPM (P6) payload from raw RGB bytes — the fixture
    generator's other half of parse_ppm (round-trip pytest-pinned)."""
    if len(rgb) != width * height * 3:
        raise ValueError(
            f"encode_ppm: need {width * height * 3} RGB bytes for "
            f"{width}x{height}, got {len(rgb)}"
        )
    return b"P6\n%d %d\n255\n" % (width, height) + rgb


def decode_image(media: DataFrame) -> DataFrame:
    """REAL image decode for PPM (P6) payloads — pure-Python parser, no
    PIL (r12; this replaces the previous NotImplementedError stub for the
    one format a fixed-header parser can own).  Arrow-batched mapInPandas,
    same scale shape as extract_features: bytes never leave the executor,
    one Python worker pass per batch.

    Emits (media_id, width, height, channels, channel_sums) with EXACT
    integer per-channel pixel sums (hash-stable across engines — divide by
    width*height for means).  A payload that does not parse as maxval-255
    P6 yields NULL width/height/channels/sums — decode failures are data,
    not exceptions, so one corrupt blob cannot kill a 10^9-row decode job
    (the same quarantine stance as the ingest's corrupt-record capture)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                "media_id": [], "width": [], "height": [],
                "channels": [], "channel_sums": [],
            }
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                parsed = parse_ppm(bytes(payload or b""))
                out["media_id"].append(mid)
                if parsed is None:
                    out["width"].append(None)
                    out["height"].append(None)
                    out["channels"].append(None)
                    out["channel_sums"].append(None)
                    continue
                w, h, rgb = parsed
                # vectorized channel sums (r13, r12 verdict nit): strided
                # uint8 views summed into int64 — same EXACT integers.
                # Formulation matters: `sum(rgb[c::3])` (builtin sum over a
                # bytes slice) is already C-level, and a (N,3) reshape-sum
                # is stride-bound and NO faster; the strided-view
                # `arr[c::3].sum()` is the one that wins — measured 51 ms
                # -> 5.8 ms (8.8x) on a 10 MB payload (SCALE.md r13)
                arr = np.frombuffer(rgb, dtype=np.uint8)
                sums = [int(arr[c::3].sum(dtype=np.int64)) for c in range(3)]
                out["width"].append(w)
                out["height"].append(h)
                out["channels"].append(3)
                out["channel_sums"].append(sums)
            frame = pd.DataFrame(out)
            frame["width"] = frame["width"].astype("Int32")
            frame["height"] = frame["height"].astype("Int32")
            frame["channels"] = frame["channels"].astype("Int32")
            yield frame

    return media.select("media_id", "payload").mapInPandas(run, DECODED_SCHEMA)


# ---------------------------------------------------------------------------
# Real WAV (RIFF/PCM) decode — pure Python, no audio libraries (r12)
# ---------------------------------------------------------------------------

AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        # exact integer sample statistics, not float RMS: integer sums hash
        # identically across engines (registry conventions: no floats on a
        # hash path); rms = sqrt(sum_sq / n_samples) when a caller wants it
        T.StructField("sum_abs", T.LongType()),
        T.StructField("peak_abs", T.LongType()),
        T.StructField("duration_ms", T.LongType()),
    ]
)

AUDIO_FRAMES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("energy", T.LongType()),
    ]
)


def encode_wav(sample_rate: int, samples: list[int]) -> bytes:
    """Assemble a RIFF/WAVE payload (PCM, mono, 16-bit little-endian) from
    int16 sample values — the fixture generator's other half of parse_wav
    (round-trip pytest-pinned)."""
    import struct

    data = struct.pack("<%dh" % len(samples), *samples)
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def parse_wav(b: bytes) -> tuple[int, int, bytes] | None:
    """Parse a RIFF/WAVE payload -> (sample_rate, n_channels, raw PCM16
    data bytes), or None if the payload is not well-formed PCM 16-bit.
    A real RIFF chunk walker per the WAVE spec: 'RIFF' <size> 'WAVE', then
    a sequence of <fourcc><u32 size><payload> chunks with a pad byte after
    odd-sized chunks; unknown chunks (LIST, fact, ...) are skipped, 'fmt '
    must declare PCM (format tag 1) at 16 bits/sample before 'data'."""
    import struct

    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    i, n = 12, len(b)
    sample_rate = n_channels = None
    while i + 8 <= n:
        fourcc = b[i : i + 4]
        (size,) = struct.unpack_from("<I", b, i + 4)
        i += 8
        if i + size > n:
            return None
        if fourcc == b"fmt ":
            if size < 16:
                return None
            tag, ch, rate, _bps, _align, bits = struct.unpack_from("<HHIIHH", b, i)
            if tag != 1 or bits != 16 or ch < 1:
                return None
            sample_rate, n_channels = rate, ch
        elif fourcc == b"data":
            if sample_rate is None or n_channels is None:
                return None  # data before fmt: malformed for our purposes
            if size % 2 != 0:
                return None  # torn int16 stream
            return sample_rate, n_channels, b[i : i + size]
        i += size + (size & 1)  # odd chunks are padded to word boundary
    return None


def synthetic_wav_media(
    ids: DataFrame,
    id_col: str = "media_id",
    n_base: int = 64,
    perturb_first: bool = False,
) -> DataFrame:
    """Deterministic WAV (RIFF/PCM16 mono) fixture clips as MEDIA_SCHEMA
    rows — the audio-shaped testdata generator (no audio libs in the
    container, and the driver's parquet tables carry no blobs, so fixtures
    are synthesized from ids).  For media id m:
      sample_rate = 8000 Hz,  n_samples = 64 + m % 37
      sample[i] = ((m*7919 + i*104729) % 65536) - 32768   (int16)
    Pure integer arithmetic, so a SQL oracle can restate the decoded
    statistics WITHOUT parsing bytes — Spark's path is generate ->
    encode_wav -> parse_wav -> aggregate, the oracle computes the same
    stats straight from the formula; any parser drift breaks the hash.

    r13 knobs (both restatable in the same formula): ``n_base`` scales
    clip length (n = n_base + m % 37 — the fingerprint fixtures need
    >= 65 frames, so they pass 1040); ``perturb_first=True`` adds 1000
    (inside the mod-65536 wrap) to SAMPLE 0 only — the single-sample
    edit that makes a clip an audible near-duplicate of its twin."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {"media_id": [], "payload": [], "meta": []}
            for mid in pdf[id_col]:
                m = int(mid)
                n = n_base + m % 37
                samples = [
                    (
                        (m * 7919 + i * 104729
                         + (1000 if perturb_first and i == 0 else 0)) % 65536
                    ) - 32768
                    for i in range(n)
                ]
                payload = encode_wav(8000, samples)
                out["media_id"].append(m)
                out["payload"].append(payload)
                out["meta"].append(
                    {"mime": "audio/wav", "n_bytes": len(payload), "source": "synthetic"}
                )
            yield pd.DataFrame(out)

    return ids.select(F.col(id_col)).mapInPandas(run, MEDIA_SCHEMA)


def decode_audio(media: DataFrame) -> DataFrame:
    """REAL audio decode for WAV (RIFF/PCM16) payloads — pure-Python RIFF
    chunk walker, no librosa/soundfile (r12; audio joins PPM as the second
    genuinely-decoded modality).  Arrow-batched mapInPandas, same scale
    shape as decode_image: bytes never leave the executor.

    Emits (media_id, sample_rate, n_channels, n_samples, sum_abs,
    peak_abs, duration_ms) with EXACT integer sample statistics
    (hash-stable across engines; rms derives from them).  n_samples counts
    per-channel frames (interleaved channels divide the int16 count).  A
    payload that does not parse as PCM16 WAVE yields NULL stats — decode
    failures are data, not exceptions, so one corrupt blob cannot kill a
    10^9-row decode job (the ingest's quarantine stance)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                "media_id": [], "sample_rate": [], "n_channels": [],
                "n_samples": [], "sum_abs": [], "peak_abs": [], "duration_ms": [],
            }
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                parsed = parse_wav(bytes(payload or b""))
                out["media_id"].append(mid)
                if parsed is None:
                    for k in ("sample_rate", "n_channels", "n_samples",
                              "sum_abs", "peak_abs", "duration_ms"):
                        out[k].append(None)
                    continue
                rate, ch, data = parsed
                # vectorized sample statistics (r13, r12 verdict nit): the
                # per-sample Python generator over a struct.unpack tuple
                # was interpreted work inside the Arrow batch; one
                # little-endian int16 frombuffer + int64 abs/sum/max is the
                # same EXACT integers at numpy speed (int64 BEFORE abs:
                # |INT16_MIN| overflows int16, and the sum needs the width
                # anyway).  Measured 567 ms -> 26 ms (22x) on a 10 MB
                # payload (SCALE.md r13).
                arr = np.abs(np.frombuffer(data, dtype="<i2").astype(np.int64))
                n_frames = arr.size // ch
                out["sample_rate"].append(rate)
                out["n_channels"].append(ch)
                out["n_samples"].append(n_frames)
                out["sum_abs"].append(int(arr.sum()))
                out["peak_abs"].append(int(arr.max()) if arr.size else 0)
                out["duration_ms"].append(n_frames * 1000 // rate)
            frame = pd.DataFrame(out)
            frame["sample_rate"] = frame["sample_rate"].astype("Int32")
            frame["n_channels"] = frame["n_channels"].astype("Int32")
            for k in ("n_samples", "sum_abs", "peak_abs", "duration_ms"):
                frame[k] = frame[k].astype("Int64")
            yield frame

    return media.select("media_id", "payload").mapInPandas(run, AUDIO_SCHEMA)


def audio_frame_energy(media: DataFrame, frame_samples: int = 16) -> DataFrame:
    """Per-frame energy over decoded WAV samples — the 1->N audio shape
    (one clip fans out to fixed-width analysis frames, the skeleton every
    spectral featurizer shares).  Frame f covers samples
    [f*frame_samples, (f+1)*frame_samples); energy = sum(v^2) over the
    frame, an EXACT integer (max 16 * 32768^2 ≈ 1.7e10, well inside
    int64), so the fan-out is fully SQL-oracle-checkable.  Non-WAV
    payloads contribute no frames (quarantine-by-absence, like
    sample_frames on empty payloads)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                "media_id": [], "frame_idx": [], "n_samples": [], "energy": [],
            }
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                parsed = parse_wav(bytes(payload or b""))
                if parsed is None:
                    continue
                _rate, _ch, data = parsed
                # vectorized frame energies (r13, r12 verdict nit): square
                # in int64 (a frame sum reaches 16 * 32768^2 — past int32)
                # and segment-sum with add.reduceat over the frame starts —
                # same EXACT integers as the per-sample Python loop,
                # including the ragged tail frame (reduceat's last segment
                # runs to the end).  Measured 670 ms -> 19 ms warm (35x) on
                # a 10 MB payload (SCALE.md r13).
                arr = np.frombuffer(data, dtype="<i2").astype(np.int64)
                if arr.size == 0:
                    continue
                starts = np.arange(0, arr.size, frame_samples)
                energies = np.add.reduceat(arr * arr, starts)
                n_per = np.diff(np.append(starts, arr.size))
                out["media_id"].extend([mid] * len(starts))
                out["frame_idx"].extend(range(len(starts)))
                out["n_samples"].extend(n_per.tolist())
                out["energy"].extend(energies.tolist())
            frame = pd.DataFrame(out)
            frame["frame_idx"] = frame["frame_idx"].astype("int32")
            for k in ("n_samples", "energy"):
                frame[k] = frame[k].astype("Int64")
            yield frame

    return media.select("media_id", "payload").mapInPandas(run, AUDIO_FRAMES_SCHEMA)


def resize_ppm_thumbnails(
    media: DataFrame, thumb_w: int = 8, thumb_h: int = 8
) -> DataFrame:
    """TRUE nearest-neighbor resize for PPM (P6) payloads: thumbnail pixel
    (tx, ty) samples source pixel (tx*W // thumb_w, ty*H // thumb_h) — the
    standard floor mapping — and the output is the thumb_w*thumb_h*3 raw
    RGB bytes (THUMBNAIL_SCHEMA, so downstream ops compose exactly like
    the byte-striding stub path).  Non-PPM payloads yield a NULL
    thumbnail, same quarantine stance as decode_image."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            thumbs: list = []
            for payload in pdf["payload"]:
                parsed = parse_ppm(bytes(payload or b""))
                if parsed is None:
                    thumbs.append(None)
                    continue
                w, h, rgb = parsed
                # vectorized gather (r13, r12 verdict nit): the same floor
                # mapping as the per-pixel loop — row indices (ty*H //
                # thumb_h) and column indices (tx*W // thumb_w) as integer
                # arrays, one fancy-index gather over the (h, w, 3) view —
                # byte-identical output.  Honest measurement: the old loop
                # cost scaled with THUMB size, not source size, so at 8x8
                # this is parity (~0.1 ms either way on a 10 MB payload);
                # the numpy form wins as thumb dims grow and reads cleaner
                a = np.frombuffer(rgb, dtype=np.uint8).reshape(h, w, 3)
                sy = np.arange(thumb_h, dtype=np.int64) * h // thumb_h
                sx = np.arange(thumb_w, dtype=np.int64) * w // thumb_w
                thumbs.append(a[sy][:, sx].tobytes())
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "thumb_w": pd.Series([thumb_w] * len(pdf), dtype="int32"),
                    "thumb_h": pd.Series([thumb_h] * len(pdf), dtype="int32"),
                    "thumbnail": thumbs,
                }
            )

    return media.select("media_id", "payload").mapInPandas(run, THUMBNAIL_SCHEMA)


def image_exact_dedup(decoded: DataFrame) -> DataFrame:
    """Exact image dedup over DECODED content fingerprints — the
    multimodal twin of dedup.exact_duplicates (r13, r12 verdict #6): rows
    group by (width, height, channels, channel_sums) and each group keeps
    its smallest media_id as survivor.  Input is decode_image's output;
    undecodable rows (NULL width — the corrupt-quarantine contract) are
    filtered FIRST so a corrupt blob can neither form its own NULL-keyed
    group nor crash the job.

    Scale shape: the payload bytes never reach this operator — the
    fingerprint rows it shuffles are ~40 bytes each regardless of image
    size (the same shuffle-hashes-not-bodies argument as text
    dedup_exact), and the groupBy partial-aggregates map-side.  The
    fingerprint is DECODED statistics, deliberately: byte-identical
    re-encodes (comment differences, header whitespace) still collide,
    which raw-payload sha256 (payload_stats) would miss."""
    valid = decoded.where(F.col("width").isNotNull())
    return valid.groupBy("width", "height", "channels", "channel_sums").agg(
        F.min("media_id").alias("keep_id"),
        F.count(F.lit(1)).alias("cluster_size"),
    )


AHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        # the 64-bit perceptual hash as two UNSIGNED 32-bit halves: bit 63
        # would make a single BIGINT sign-ambiguous across engines, and
        # split halves keep every value in [0, 2^32) on both
        T.StructField("hash_hi", T.LongType()),
        T.StructField("hash_lo", T.LongType()),
    ]
)


def image_ahash(media: DataFrame, thumb: int = 8) -> DataFrame:
    """Average-hash (aHash) perceptual image fingerprints for PPM
    payloads — the standard public baseline for image near-dup detection
    (8x8 nearest-neighbor downsample -> integer grayscale -> bit per cell
    = gray > mean): visually-identical re-renders land within a few bits,
    so Hamming distance over the 64-bit hash is the dedup metric.

    Every step is INTEGER arithmetic so the whole hash is SQL-restatable
    from the fixture formula (registry conventions): cell (tx, ty)
    samples source pixel (tx*W // thumb, ty*H // thumb) — exactly
    resize_ppm_thumbnails' floor mapping — gray = (r + g + b) // 3, mean
    = sum(gray) // thumb², bit index = ty*thumb + tx (row-major), STRICT
    ``gray > mean``.  Emitted as two unsigned 32-bit halves (bits 32-63 /
    0-31) so no engine ever faces a sign-bit BIGINT.  Corrupt payloads
    yield NULL halves (the quarantine stance).  One Arrow pass; bytes
    never leave the executor; downstream banding/joins are pure JVM."""
    n_cells = thumb * thumb
    if n_cells != 64:
        raise ValueError("image_ahash packs exactly 64 bits: thumb must be 8")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {"media_id": [], "hash_hi": [], "hash_lo": []}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                parsed = parse_ppm(bytes(payload or b""))
                out["media_id"].append(mid)
                if parsed is None:
                    out["hash_hi"].append(None)
                    out["hash_lo"].append(None)
                    continue
                w, h, rgb = parsed
                a = np.frombuffer(rgb, dtype=np.uint8).reshape(h, w, 3)
                sy = np.arange(thumb, dtype=np.int64) * h // thumb
                sx = np.arange(thumb, dtype=np.int64) * w // thumb
                cells = a[sy][:, sx].astype(np.int64)
                gray = cells.sum(axis=2) // 3
                mean = int(gray.sum()) // n_cells
                bits = (gray > mean).ravel()  # row-major: index = ty*8 + tx
                lo = sum(1 << i for i in range(32) if bits[i])
                hi = sum(1 << (i - 32) for i in range(32, 64) if bits[i])
                out["hash_hi"].append(hi)
                out["hash_lo"].append(lo)
            frame = pd.DataFrame(out)
            frame["hash_hi"] = frame["hash_hi"].astype("Int64")
            frame["hash_lo"] = frame["hash_lo"].astype("Int64")
            yield frame

    return media.select("media_id", "payload").mapInPandas(run, AHASH_SCHEMA)


def image_near_dup_pairs(
    hashes: DataFrame,
    max_hamming: int = 3,
    bands: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Perceptual image near-dup pairs over aHash fingerprints:
    ``(id_a, id_b, hamming)`` for every pair within ``max_hamming`` bits —
    via the BANDED Hamming join, never all-pairs: the 64-bit hash splits
    into ``bands`` equal slices, and by pigeonhole any pair with
    hamming <= bands - 1 agrees EXACTLY on at least one slice, so an
    equi-join on (band_idx, band_value) proposes a superset of the true
    pairs and the exact popcount verifies inside the join — the MinHash
    propose/verify shape with a DETERMINISTIC recall guarantee instead of
    a probabilistic one (enforced: max_hamming <= bands - 1 or this
    raises, because recall past the pigeonhole bound would silently
    drop pairs).

    HOT-BAND SKEW (r14, r13 advice — the docstring previously claimed
    hash-uniformity made a cap unnecessary; that claim was WRONG for
    perceptual hashes): aHash bands of smooth/dark/flat images commonly
    collapse to 0x0000/0xFFFF (every cell below/above the mean), and
    near-silent audio zero-fills trailing fingerprint bits — one hot
    (band_idx, band_val) bucket of m members proposes O(m²) candidate
    pairs BEFORE the popcount verify, exactly the web-scale hazard every
    other propose stage here caps (dedup._cap_band_buckets, winnowing's
    max_fp_df).  ``max_bucket_size`` is the same contract: band rows in
    buckets larger than the cap are EXCLUDED from the join (the window
    count shares the join's (band_idx, band_val) partitioning — no extra
    Exchange).  A pair still surfaces via any non-capped shared band; a
    pair whose EVERY shared band is capped is lost, so the cap trades
    the pigeonhole recall guarantee on hot-band content for a bounded
    output — run exact dedup first (image_exact_dedup collapses
    byte/pixel-identical content for free, the mm_full_pipeline
    composition) so capped buckets hold only the trivial-content
    residue.  Default None keeps the exhaustive exact-recall behavior.

    Scale shape: banding is a pure projection (shift/mask, JVM-side);
    the equi-join shuffles ~24 B (band_idx, band_value) keyed rows;
    popcount verification is ``bit_count(xor)``, whole-stage codegen.
    NULL hashes (corrupt payloads upstream) are dropped."""
    if max_hamming > bands - 1:
        raise ValueError(
            f"banded Hamming recall is only exact for max_hamming <= "
            f"bands - 1 (pigeonhole); got max_hamming={max_hamming}, "
            f"bands={bands} — raise bands or lower the threshold"
        )
    if bands != 4:
        raise ValueError("64-bit aHash bands: only the 4 x 16-bit split is wired")
    h = hashes.where(
        F.col("hash_hi").isNotNull() & F.col("hash_lo").isNotNull()
    ).select("media_id", "hash_hi", "hash_lo")
    mask = F.lit(0xFFFF)
    band_arr = F.array(
        F.col("hash_lo").bitwiseAND(mask),
        F.shiftrightunsigned(F.col("hash_lo"), 16).bitwiseAND(mask),
        F.col("hash_hi").bitwiseAND(mask),
        F.shiftrightunsigned(F.col("hash_hi"), 16).bitwiseAND(mask),
    )
    banded = h.select(
        "media_id", "hash_hi", "hash_lo",
        F.posexplode(band_arr).alias("band_idx", "band_val"),
    )
    if max_bucket_size is not None:
        from bulkfhirloader_spark.operators.dedup import _cap_band_buckets

        # share=True (r16): the capped table feeds both self-join sides;
        # without the cut each side re-ran the Exchange+Sort+Window chain
        # (see _cap_band_buckets — one side's broadcast build defeats
        # ReuseExchange).  Released via reuse.release_candidate_checkpoints.
        banded = _cap_band_buckets(
            banded, max_bucket_size, keys=("band_idx", "band_val"), share=True
        )
    a = banded.select(
        F.col("media_id").alias("id_a"),
        F.col("hash_hi").alias("_hi_a"),
        F.col("hash_lo").alias("_lo_a"),
        "band_idx",
        "band_val",
    )
    b = banded.select(
        F.col("media_id").alias("id_b"),
        F.col("hash_hi").alias("_hi_b"),
        F.col("hash_lo").alias("_lo_b"),
        "band_idx",
        "band_val",
    )
    hamming = F.bit_count(
        F.col("_hi_a").bitwiseXOR(F.col("_hi_b"))
    ) + F.bit_count(F.col("_lo_a").bitwiseXOR(F.col("_lo_b")))
    return (
        a.join(b, ["band_idx", "band_val"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", hamming.cast("int").alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def audio_fingerprint(
    media: DataFrame, frame_samples: int = 16, min_frames: int = 2
) -> DataFrame:
    """Energy-delta audio fingerprints — the Haitsma-Kalker-style
    sign-of-derivative hash that is the public baseline for audio
    near-dup detection: frame the PCM stream (audio_frame_energy's exact
    integer energies), then bit i = energy[i+1] > energy[i] for the
    first 64 deltas, packed row-major into the same two unsigned 32-bit
    halves as image_ahash — so the SAME banded Hamming join
    (banded_hamming_pairs) serves both modalities.  A re-encode or a
    few-sample edit perturbs a handful of frame energies, flipping a
    handful of sign bits; Hamming distance is the dedup metric.

    Every step is integer arithmetic (energies are exact int64 sums, the
    bits are strict comparisons), so the whole hash is SQL-restatable
    from the fixture formula.  Clips with 65 > frames >= ``min_frames``
    leave their missing trailing bits 0 (the short-clip clamp,
    restatable as a LEFT JOIN on delta existence); clips with FEWER than
    ``min_frames`` frames (default 2 — below one delta there is no
    fingerprint signal at all) yield NULL halves, the SAME quarantine as
    corrupt payloads: an all-zero hash for a zero-sample or one-frame
    clip is a VALID value that collides every silent/short clip at
    hamming 0 and reports unrelated content as near-dups (r13 advice) —
    no-signal content is quarantined, not hashed.  One Arrow pass, numpy
    reduceat energies, JVM-side joins downstream.

    MIGRATION NOTE for persisted fingerprint tables (r15, r14 advice):
    before the r14 quarantine, zero-sample and one-frame clips hashed to
    (0, 0) — a VALID, maximally-collidable value.  A fingerprint table
    written pre-r14 therefore mixes regimes with fresh rows: the legacy
    all-zero rows survive as collidable values that the NULL-dropping
    joins no longer treat as quarantined.  REBUILD such tables with the
    current operator (or delete rows where hash_hi = 0 AND hash_lo = 0
    AND the source clip has < min_frames frames) before joining them
    against newly-hashed corpora."""
    if min_frames < 2:
        raise ValueError(
            "min_frames must be >= 2: below one energy delta the "
            "fingerprint carries no signal and every such clip would "
            "collide at an all-zero hash"
        )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {"media_id": [], "hash_hi": [], "hash_lo": []}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                parsed = parse_wav(bytes(payload or b""))
                out["media_id"].append(mid)
                if parsed is None:
                    out["hash_hi"].append(None)
                    out["hash_lo"].append(None)
                    continue
                _rate, _ch, data = parsed
                arr = np.frombuffer(data, dtype="<i2").astype(np.int64)
                n_frames = -(-arr.size // frame_samples)  # ceil
                if n_frames < min_frames:
                    out["hash_hi"].append(None)
                    out["hash_lo"].append(None)
                    continue
                starts = np.arange(0, arr.size, frame_samples)
                en = np.add.reduceat(arr * arr, starts)
                deltas = en[1:] > en[:-1]
                lo = sum(1 << i for i in range(min(32, len(deltas))) if deltas[i])
                hi = sum(
                    1 << (i - 32)
                    for i in range(32, min(64, len(deltas)))
                    if deltas[i]
                )
                out["hash_hi"].append(hi)
                out["hash_lo"].append(lo)
            frame = pd.DataFrame(out)
            frame["hash_hi"] = frame["hash_hi"].astype("Int64")
            frame["hash_lo"] = frame["hash_lo"].astype("Int64")
            yield frame

    return media.select("media_id", "payload").mapInPandas(run, AHASH_SCHEMA)


# The banded Hamming join is modality-agnostic — it consumes any
# (media_id, hash_hi, hash_lo) table (image_ahash, audio_fingerprint).
# Canonical name; image_near_dup_pairs is the historical one.
banded_hamming_pairs = image_near_dup_pairs


# ---------------------------------------------------------------------------
# Real Y4M (YUV4MPEG2) video decode — pure Python, no codec (r13)
# ---------------------------------------------------------------------------

VIDEO_FRAMES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        # exact integer plane sums (no floats on a hash path)
        T.StructField("y_sum", T.LongType()),
        T.StructField("u_sum", T.LongType()),
        T.StructField("v_sum", T.LongType()),
    ]
)


def encode_y4m(width: int, height: int, frames: list[tuple[bytes, bytes, bytes]]) -> bytes:
    """Assemble a YUV4MPEG2 (C420) payload from per-frame (Y, U, V) raw
    planes — the fixture generator's other half of parse_y4m (round-trip
    pytest-pinned).  Even dimensions required by 4:2:0 subsampling."""
    if width % 2 or height % 2:
        raise ValueError("C420 needs even dimensions")
    cw, ch = width // 2, height // 2
    out = [b"YUV4MPEG2 W%d H%d F25:1 Ip A1:1 C420jpeg\n" % (width, height)]
    for y, u, v in frames:
        if len(y) != width * height or len(u) != cw * ch or len(v) != cw * ch:
            raise ValueError("plane size mismatch")
        out.append(b"FRAME\n")
        out.extend((y, u, v))
    return b"".join(out)


def parse_y4m(b: bytes) -> tuple[int, int, list[tuple[bytes, bytes, bytes]]] | None:
    """Parse a YUV4MPEG2 payload -> (width, height, [(Y, U, V) planes per
    frame]), or None if malformed.  A real stream walker per the public
    yuv4mpeg spec: 'YUV4MPEG2' + space-separated W/H/... parameters to
    newline, then per frame a 'FRAME[ params]\\n' marker followed by the
    raw 4:2:0 planes.  Only C420 variants (the default) are accepted —
    an explicit C444/C422 tag refuses (their plane sizes differ)."""
    if not b.startswith(b"YUV4MPEG2"):
        return None
    nl = b.find(b"\n")
    if nl < 0:
        return None
    w = h = None
    for tok in b[9:nl].split(b" "):
        if tok.startswith(b"W") and tok[1:].isdigit():
            w = int(tok[1:])
        elif tok.startswith(b"H") and tok[1:].isdigit():
            h = int(tok[1:])
        elif tok.startswith(b"C") and not tok.startswith(b"C420"):
            return None
    if not w or not h or w % 2 or h % 2:
        return None
    ysize, csize = w * h, (w // 2) * (h // 2)
    frames: list[tuple[bytes, bytes, bytes]] = []
    i, n = nl + 1, len(b)
    while i < n:
        if not b.startswith(b"FRAME", i):
            return None
        fnl = b.find(b"\n", i)
        if fnl < 0:
            return None
        i = fnl + 1
        if n - i < ysize + 2 * csize:
            return None  # torn frame
        y = b[i : i + ysize]
        u = b[i + ysize : i + ysize + csize]
        v = b[i + ysize + csize : i + ysize + 2 * csize]
        frames.append((y, u, v))
        i += ysize + 2 * csize
    return w, h, frames


def synthetic_y4m_media(
    ids: DataFrame, id_col: str = "media_id", perturb_origin: bool = False
) -> DataFrame:
    """Deterministic Y4M (C420) fixture clips as MEDIA_SCHEMA rows — the
    video-shaped testdata generator (same protocol as the PPM/WAV
    fixtures: pure integer formulas so a SQL oracle restates the decoded
    statistics without parsing bytes).  For media id m:
      width = 4 + 2*(m % 3), height = 4 + 2*(m % 2), n_frames = 2 + m % 3
      Y[f][i] = (m*7919 + f*257 + i*31) % 256        (i over w*h)
      U[f][j] = (m*7919 + f*257 + j*37 + 11) % 256   (j over w/2*h/2)
      V[f][j] = (m*7919 + f*257 + j*41 + 23) % 256

    ``perturb_origin=True`` (r14, the near-dup fixture knob — the video
    twin of synthetic_ppm_media's) adds 128 (mod 256) to Y[0][0] only —
    frame 0's origin luma sample — a deterministic single-sample edit
    that leaves the clip a perceptual near-duplicate of its unperturbed
    twin, restatable in SQL as the same formula + one conditional term."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {"media_id": [], "payload": [], "meta": []}
            for mid in pdf[id_col]:
                m = int(mid)
                w, h = 4 + 2 * (m % 3), 4 + 2 * (m % 2)
                nf = 2 + m % 3
                cs = (w // 2) * (h // 2)
                frames = [
                    (
                        bytes(
                            (
                                m * 7919 + f * 257 + i * 31
                                + (128 if perturb_origin and f == 0 and i == 0
                                   else 0)
                            ) % 256
                            for i in range(w * h)
                        ),
                        bytes((m * 7919 + f * 257 + j * 37 + 11) % 256 for j in range(cs)),
                        bytes((m * 7919 + f * 257 + j * 41 + 23) % 256 for j in range(cs)),
                    )
                    for f in range(nf)
                ]
                payload = encode_y4m(w, h, frames)
                out["media_id"].append(m)
                out["payload"].append(payload)
                out["meta"].append(
                    {"mime": "video/x-yuv4mpeg", "n_bytes": len(payload),
                     "source": "synthetic"}
                )
            yield pd.DataFrame(out)

    return ids.select(F.col(id_col)).mapInPandas(run, MEDIA_SCHEMA)


def decode_video(media: DataFrame) -> DataFrame:
    """REAL video decode for Y4M (YUV4MPEG2/C420) payloads — video joins
    PPM and WAV as the third genuinely-decoded modality (r13; the format
    is raw planes behind a text header, so no codec library is needed —
    sample_frames stays the stub for opaque codecs).  The 1->N fan-out
    shape: one clip row becomes one row per frame with EXACT integer
    per-plane pixel sums (hash-stable across engines).  Arrow-batched
    mapInPandas; bytes never leave the executor; malformed payloads
    contribute no frames (quarantine-by-absence, like
    audio_frame_energy)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                "media_id": [], "frame_idx": [], "width": [], "height": [],
                "y_sum": [], "u_sum": [], "v_sum": [],
            }
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                parsed = parse_y4m(bytes(payload or b""))
                if parsed is None:
                    continue
                w, h, frames = parsed
                for f, (y, u, v) in enumerate(frames):
                    out["media_id"].append(mid)
                    out["frame_idx"].append(f)
                    out["width"].append(w)
                    out["height"].append(h)
                    for k, plane in (("y_sum", y), ("u_sum", u), ("v_sum", v)):
                        out[k].append(
                            int(np.frombuffer(plane, dtype=np.uint8)
                                .sum(dtype=np.int64))
                        )
            frame = pd.DataFrame(out)
            frame["frame_idx"] = frame["frame_idx"].astype("int32")
            frame["width"] = frame["width"].astype("int32")
            frame["height"] = frame["height"].astype("int32")
            for k in ("y_sum", "u_sum", "v_sum"):
                frame[k] = frame[k].astype("Int64")
            yield frame

    return media.select("media_id", "payload").mapInPandas(run, VIDEO_FRAMES_SCHEMA)


VIDEO_AHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("hash_hi", T.LongType()),
        T.StructField("hash_lo", T.LongType()),
    ]
)


def video_frame_ahash(media: DataFrame, thumb: int = 8) -> DataFrame:
    """Per-frame perceptual fingerprints for Y4M clips (r14, r13 verdict
    #4 — video was the only decoded modality without one): each decoded
    frame's LUMA plane is already the grayscale image aHash wants, so
    the hash is image_ahash's exact recipe minus the RGB→gray step —
    8x8 nearest-neighbor downsample of the Y plane (cell (tx, ty)
    samples Y[(ty*H // 8)*W + tx*W // 8]), integer mean = sum // 64, bit
    = STRICT y > mean, row-major packing into the same two unsigned
    32-bit halves as the image/audio hashes.  Output is one row per
    (media_id, frame_idx): the 1->N fan-out shape of decode_video, so
    malformed payloads contribute no rows (quarantine-by-absence, the
    video family's convention) rather than NULL rows.

    Every step is integer arithmetic — SQL-restatable straight from the
    fixture formula without parsing a byte.  One Arrow pass; payload
    bytes never leave the executor; downstream banding/joins are pure
    JVM (video_near_dup_pairs)."""
    n_cells = thumb * thumb
    if n_cells != 64:
        raise ValueError("video_frame_ahash packs exactly 64 bits: thumb must be 8")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                "media_id": [], "frame_idx": [], "hash_hi": [], "hash_lo": [],
            }
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                parsed = parse_y4m(bytes(payload or b""))
                if parsed is None:
                    continue
                w, h, frames = parsed
                sy = np.arange(thumb, dtype=np.int64) * h // thumb
                sx = np.arange(thumb, dtype=np.int64) * w // thumb
                for f, (y, _u, _v) in enumerate(frames):
                    a = np.frombuffer(y, dtype=np.uint8).reshape(h, w)
                    gray = a[sy][:, sx].astype(np.int64)
                    mean = int(gray.sum()) // n_cells
                    bits = (gray > mean).ravel()  # row-major: ty*8 + tx
                    lo = sum(1 << i for i in range(32) if bits[i])
                    hi = sum(1 << (i - 32) for i in range(32, 64) if bits[i])
                    out["media_id"].append(mid)
                    out["frame_idx"].append(f)
                    out["hash_hi"].append(hi)
                    out["hash_lo"].append(lo)
            frame = pd.DataFrame(out)
            frame["frame_idx"] = frame["frame_idx"].astype("int32")
            for c in ("hash_hi", "hash_lo"):
                frame[c] = frame[c].astype("Int64")
            yield frame

    return media.select("media_id", "payload").mapInPandas(run, VIDEO_AHASH_SCHEMA)


def video_near_dup_pairs(
    frame_hashes: DataFrame,
    max_hamming: int = 3,
    bands: int = 4,
    min_close_frames: int = 1,
    max_bucket_size: int | None = None,
    align: str = "aligned",
) -> DataFrame:
    """Perceptual video near-dup pairs over per-frame aHashes (r14):
    ``(id_a, id_b, n_close_frames)`` — the count of close frame pairs
    within ``max_hamming`` bits, for clip pairs with at least
    ``min_close_frames`` of them.

    ``align`` picks the pairing rule:

    - ``"aligned"`` (default): only SAME-frame_idx pairs compare — the
      deterministic baseline for re-encodes/re-renders of the same cut;
      frame_idx rides the join key, so fan-out is per aligned frame.
    - ``"any"``: every frame of A may pair with every frame of B — the
      time-SHIFTED edit case (a clip trimmed by a few frames, an
      inserted intro).  The join drops frame_idx from the key, so a
      band bucket now holds every frame in the corpus sharing that
      16-bit slice — larger buckets by construction; ``max_bucket_size``
      is correspondingly more important here, and ``n_close_frames``
      counts DISTINCT close (frame_a, frame_b) pairs (a clip pair of
      near-black frames inflates it — exact-dedup trivial content first,
      the family stance).

    Scale shape: the SAME banded Hamming propose/verify as the
    image/audio families with frame_idx prepended to the join key — by
    pigeonhole a frame pair within bands-1 bits agrees exactly on >= 1
    of its 4 x 16-bit slices, so the equi-join on (frame_idx, band_idx,
    band_val) proposes a superset per aligned frame and ``bit_count
    (xor)`` verifies in-join (enforced max_hamming <= bands - 1, exact
    recall per frame); the clip-level count is one partial-aggregated
    groupBy over the ~16 B verified frame-pair rows.  Frame hashes are
    ~24 B/row regardless of resolution — clip bodies never join.
    ``max_bucket_size`` is the hot-band skew cap (shared contract, r13
    advice: flat/black frames collapse to one band value; capped frame
    rows propose nothing, trading recall on trivial-content frames for
    a bounded output)."""
    if max_hamming > bands - 1:
        raise ValueError(
            f"banded Hamming recall is only exact for max_hamming <= "
            f"bands - 1 (pigeonhole); got max_hamming={max_hamming}, "
            f"bands={bands} — raise bands or lower the threshold"
        )
    if bands != 4:
        raise ValueError("64-bit aHash bands: only the 4 x 16-bit split is wired")
    if min_close_frames < 1:
        raise ValueError("min_close_frames must be >= 1")
    if align not in ("aligned", "any"):
        raise ValueError(f"align must be 'aligned' or 'any', got {align!r}")
    h = frame_hashes.where(
        F.col("hash_hi").isNotNull() & F.col("hash_lo").isNotNull()
    ).select("media_id", "frame_idx", "hash_hi", "hash_lo")
    mask = F.lit(0xFFFF)
    band_arr = F.array(
        F.col("hash_lo").bitwiseAND(mask),
        F.shiftrightunsigned(F.col("hash_lo"), 16).bitwiseAND(mask),
        F.col("hash_hi").bitwiseAND(mask),
        F.shiftrightunsigned(F.col("hash_hi"), 16).bitwiseAND(mask),
    )
    banded = h.select(
        "media_id", "frame_idx", "hash_hi", "hash_lo",
        F.posexplode(band_arr).alias("band_idx", "band_val"),
    )
    join_keys = (
        ["frame_idx", "band_idx", "band_val"]
        if align == "aligned"
        else ["band_idx", "band_val"]
    )
    if max_bucket_size is not None:
        from bulkfhirloader_spark.operators.dedup import _cap_band_buckets

        # share=True: same double-execution cut as the image tier above
        banded = _cap_band_buckets(
            banded, max_bucket_size, keys=tuple(join_keys), share=True
        )

    def side(sfx: str) -> DataFrame:
        cols = [
            F.col("media_id").alias(f"id{sfx}"),
            F.col("hash_hi").alias(f"_hi{sfx}"),
            F.col("hash_lo").alias(f"_lo{sfx}"),
            "band_idx", "band_val",
        ]
        if align == "aligned":
            cols.append(F.col("frame_idx"))  # rides the join key
        else:
            cols.append(F.col("frame_idx").alias(f"f{sfx}"))
        return banded.select(*cols)

    a, b = side("_a"), side("_b")
    hamming = F.bit_count(
        F.col("_hi_a").bitwiseXOR(F.col("_hi_b"))
    ) + F.bit_count(F.col("_lo_a").bitwiseXOR(F.col("_lo_b")))
    frame_cols = (
        [F.col("frame_idx").alias("f_a"), F.col("frame_idx").alias("f_b")]
        if align == "aligned"
        else [F.col("f_a"), F.col("f_b")]
    )
    close_frames = (
        a.join(b, join_keys)
        .where(F.col("id_a") < F.col("id_b"))
        .where(hamming <= max_hamming)
        .select(F.col("id_a"), F.col("id_b"), *frame_cols)
        .distinct()
    )
    return (
        close_frames.groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_close_frames"))
        .where(F.col("n_close_frames") >= min_close_frames)
    )
