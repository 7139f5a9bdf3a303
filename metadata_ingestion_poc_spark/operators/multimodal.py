"""Multimodal column plumbing: images/audio/video as opaque binary
columns with typed metadata, processed by Arrow-batched pandas UDFs.

The Spark-side contract is fully real — schemas, partitioning, UDF
signatures, batch shapes, 1→N frame fan-out via mapInPandas — while the
codec step is a STUB: this environment ships no image/audio libraries,
so decode attempts real codecs (PIL) behind an import-try and otherwise
uses a clearly-marked deterministic fake derived from the bytes. Swap
`_decode_image_bytes` for a real decoder and nothing else changes.

In production the blob column comes from ``spark.read.format(
"binaryFile")`` (path/length/modificationTime/content) or from blob
pointers into object storage; at 100 TB you keep blobs OUT of shuffle
paths — derive features early, project the binary away, and join
features back by key.
"""

from __future__ import annotations

from collections.abc import Iterator

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

from ..execution import spread
from .dedup import band_layout, hamming_banded_pairs

BLOB_SCHEMA = StructType(
    [
        StructField("blob_id", LongType()),
        StructField("media_type", StringType()),
        StructField("content", BinaryType()),
        StructField("n_bytes", LongType()),
    ]
)

DECODED_SCHEMA = StructType(
    [
        StructField("blob_id", LongType()),
        StructField("media_type", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_bytes", LongType()),
    ]
)

FRAME_SCHEMA = StructType(
    [
        StructField("blob_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("frame_bytes", BinaryType()),
    ]
)


def synthetic_blob_table(docs: DataFrame) -> DataFrame:
    """Deterministic binary fixture: document text encoded as bytes.

    Stands in for binaryFile scans so the pipeline shape is testable
    without media files.
    """
    return docs.select(
        F.col("doc_id").alias("blob_id"),
        F.when(F.col("doc_id") % 3 == 0, "image/png")
        .when(F.col("doc_id") % 3 == 1, "audio/wav")
        .otherwise("video/mp4")
        .alias("media_type"),
        F.encode(F.col("text"), "UTF-8").cast("binary").alias("content"),
        F.length(F.col("text")).cast("long").alias("n_bytes"),
    )


def _decode_image_bytes(content: bytes) -> tuple[int, int]:
    """STUB decode. Tries a real codec; otherwise a deterministic fake
    (dimensions derived from the byte content) so tests are stable.
    """
    try:  # real path, unavailable in this container
        import io

        from PIL import Image  # type: ignore

        with Image.open(io.BytesIO(content)) as im:
            return im.width, im.height
    except Exception:
        # deterministic fake: NOT a real decode
        n = len(content)
        return (n % 640) + 1, ((n * 7) % 480) + 1


def decode_metadata(blobs: DataFrame) -> DataFrame:
    """Per-blob decoded metadata via mapInPandas (Arrow batches in,
    Arrow batches out; the binary column never round-trips per row)."""

    def decode(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            dims = [_decode_image_bytes(c) for c in pdf["content"]]
            yield pd.DataFrame(
                {
                    "blob_id": pdf["blob_id"],
                    "media_type": pdf["media_type"],
                    "width": [w for w, _ in dims],
                    "height": [h for _, h in dims],
                    "n_bytes": pdf["n_bytes"],
                }
            )

    return blobs.mapInPandas(decode, schema=DECODED_SCHEMA)


def extract_features(blobs: DataFrame, dim: int = 16) -> DataFrame:
    """Fixed-dim feature vector per blob (deterministic stand-in for a
    real encoder). Vectorized over Arrow batches with numpy."""
    from pyspark.sql.pandas.functions import pandas_udf

    def feats(content):
        import numpy as np
        import pandas as pd

        out = []
        for c in content:
            b = np.frombuffer(bytes(c), dtype=np.uint8)
            # deterministic fake embedding: bucketed byte histograms
            hist = np.bincount(b % dim, minlength=dim).astype(np.float32)
            denom = float(len(b)) if len(b) else 1.0
            out.append(hist / denom)
        return pd.Series(out)

    udf = pandas_udf(feats, ArrayType(FloatType()))
    return blobs.select("blob_id", "media_type", udf(F.col("content")).alias("features"))


def sample_frames(blobs: DataFrame, every_n_bytes: int = 32) -> DataFrame:
    """1→N fan-out: sample 'frames' (byte slices in the stub) from each
    video blob via mapInPandas — the batch shape a real frame sampler
    (ffmpeg/pyav) plugs into."""

    def frames(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            ids, idxs, chunks = [], [], []
            for bid, content in zip(pdf["blob_id"], pdf["content"]):
                data = bytes(content)
                for i, off in enumerate(range(0, len(data), every_n_bytes)):
                    ids.append(bid)
                    idxs.append(i)
                    chunks.append(data[off : off + every_n_bytes])
            yield pd.DataFrame(
                {"blob_id": ids, "frame_idx": idxs, "frame_bytes": chunks}
            )

    # spread BEFORE the fan-out: a small blob table arrives as one
    # input split, so the sampler AND every per-frame consumer
    # downstream (the pHash DCT is the CPU floor of q284) would run
    # on a single core. Stats-gated no-op at real scale (execution.spread);
    # spreading blobs (not frames) keeps the shuffle 1× the blob bytes.
    videos = spread(blobs.filter(F.col("media_type").startswith("video/")))
    return videos.mapInPandas(frames, schema=FRAME_SCHEMA)


def _gray32(content: bytes):
    """STUB decode to a 32×32 grayscale float matrix. Tries a real
    codec (PIL, absent in this container); otherwise a deterministic
    fake — the byte stream resampled to a 1024-pixel intensity grid —
    so near-identical blobs land on near-identical matrices and the
    perceptual-hash plumbing is testable without media files. Swap
    this for a real decode+resize and nothing downstream changes."""
    import numpy as np

    try:  # real path, unavailable in this container
        import io

        from PIL import Image  # type: ignore

        with Image.open(io.BytesIO(content)) as im:
            g = im.convert("L").resize((32, 32))
            return np.asarray(g, dtype=np.float64)
    except Exception:
        # pad/truncate, NOT resample: a resampled grid shifts EVERY
        # pixel when the length changes, so a 2-byte append would
        # scramble the whole hash — the opposite of perceptual. With
        # a fixed grid a local byte edit stays a local pixel edit
        # (what a real decoded image gives), at the documented stub
        # cost that bytes past 1024 don't influence the fake hash.
        b = np.frombuffer(content[:1024], dtype=np.uint8)
        img = np.zeros(1024, dtype=np.float64)
        img[: len(b)] = b
        return img.reshape(32, 32)


def _dct32():
    """Orthonormal 32-point DCT-II basis matrix (numpy has no dct;
    one 32×32 cosine table built per executor is free)."""
    import numpy as np

    i = np.arange(32, dtype=np.float64)
    k = i.reshape(-1, 1)
    m = np.cos(np.pi * (2 * i + 1) * k / 64.0)
    m[0] *= 1.0 / np.sqrt(2.0)
    return m * np.sqrt(2.0 / 32.0)


def _phash_udf():
    """The 64-bit DCT pHash as a reusable Arrow-batched pandas UDF —
    shared by phash64 (per-blob) and scene_segments (per-frame), so
    neither has to force its keys through a packed surrogate id."""
    from pyspark.sql.pandas.functions import pandas_udf

    def ph(content):
        import numpy as np
        import pandas as pd

        n = len(content)
        if n == 0:
            return pd.Series([], dtype="int64")
        dct = _dct32()
        weights = (np.int64(1) << np.arange(63, -1, -1, dtype=np.int64))
        # decode stays per row (it is the codec boundary); everything
        # after it runs as ONE batched numpy pipeline over the whole
        # Arrow batch — bit-identical to the per-row matmul/median
        # (numpy batches 3-D matmul as the same per-slice dgemm, and
        # np.median(axis=1) is the same selection per row), ~8× less
        # Python-interpreter time per frame.
        imgs = np.stack([_gray32(bytes(c)) for c in content])
        coef = dct @ imgs @ dct.T               # (n, 32, 32), batched
        block = coef[:, :8, :8].reshape(n, 64)
        med = np.median(block[:, 1:], axis=1)   # exclude the DC term
        bits = (block > med[:, None]).astype(np.int64)
        # two's-complement pack: numpy int64 multiply wraps, which
        # IS the desired bit pattern for the sign bit
        return pd.Series((bits * weights).sum(axis=1), dtype="int64")

    return pandas_udf(ph, LongType())


def phash64(
    blobs: DataFrame,
    id_col: str = "blob_id",
    content_col: str = "content",
) -> DataFrame:
    """(id, phash long): 64-bit perceptual hash of each blob.

    The classic pHash construction (public literature: DCT perceptual
    hashing, e.g. Zauner 2010): decode → 32×32 grayscale → 2-D DCT-II
    → keep the 8×8 lowest-frequency block → threshold each coefficient
    against the median of the 63 non-DC values → 64 bits, packed
    row-major into one signed long (two's complement — Spark's
    bit_count/bitwiseXOR are bitwise on longs, so sign never matters).

    Arrow-batched pandas UDF over the binary column (the sanctioned
    UDF case: a DCT matmul has no built-in form); one numpy
    einsum-free double matmul per blob, vectorized per batch. ZERO
    shuffle — a pure map over the corpus, like simhash. Hamming
    distance between hashes tracks perceptual distance, which is what
    the banded near-dup join below exploits."""
    udf = _phash_udf()
    return spread(blobs).select(
        F.col(id_col).alias("id"), udf(F.col(content_col)).alias("phash")
    )


def phash_near_dup_pairs(
    blobs: DataFrame,
    max_hamming: int = 3,
    id_col: str = "blob_id",
    content_col: str = "content",
) -> DataFrame:
    """Near-duplicate blob pairs with pHash Hamming distance ≤
    max_hamming — the multimodal twin of simhash_pairs (dedup.py).
    Signature = phash64, join = the shared lossless Hamming banding
    (see hamming_banded_pairs)."""
    band_layout(max_hamming)  # fail before planning the UDF scan
    sig = phash64(blobs, id_col, content_col).localCheckpoint(eager=False)
    return hamming_banded_pairs(sig, max_hamming, "phash")


def scene_segments(
    frames: DataFrame,
    scene_threshold: int = 8,
) -> DataFrame:
    """Temporal scene-change segmentation over a frame table.

    The classic shot-boundary detector (public literature: threshold
    on inter-frame perceptual distance), Spark-shaped: hash every
    frame with the pHash pandas UDF (zero shuffle, pure map), then ONE
    per-blob window pass — Hamming distance to the previous frame via
    bit_count(xor), a boundary wherever it exceeds ``scene_threshold``,
    and scene ids as the running boundary count. The window partitions
    by blob, so a billion blobs parallelize; frames-per-blob bounds
    the per-partition sort, exactly the bounded-window argument of the
    other sequence operators.

    Returns (blob_id, scene_id, start_frame, n_frames) — one row per
    detected scene, ordered within blob.
    """
    from pyspark.sql import Window

    if scene_threshold < 0 or scene_threshold > 64:
        raise ValueError(f"scene_threshold out of [0, 64]: {scene_threshold}")
    # hash frames in place — (blob_id, frame_idx) ride along, so no
    # surrogate-id packing that a billion-frame blob could overflow
    hashed = frames.select(
        "blob_id",
        "frame_idx",
        _phash_udf()(F.col("frame_bytes")).alias("phash"),
    )
    w = Window.partitionBy("blob_id").orderBy("frame_idx")
    seg = hashed.withColumn(
        "d",
        F.when(F.lag("phash").over(w).isNull(), F.lit(None)).otherwise(
            F.bit_count(
                F.col("phash").bitwiseXOR(F.lag("phash").over(w))
            )
        ),
    ).withColumn(
        "scene_id",
        F.sum(
            F.when(F.col("d") > scene_threshold, 1).otherwise(0)
        ).over(w).cast("int"),
    )
    return (
        seg.groupBy("blob_id", "scene_id")
        .agg(
            F.min("frame_idx").alias("start_frame"),
            F.count(F.lit(1)).cast("long").alias("n_frames"),
        )
        .orderBy("blob_id", "scene_id")
    )


# ---------------------------------------------------------------------------
# audio: spectral band-energy-difference fingerprint — the audio
# member of the perceptual family (image pHash above, video scenes
# below). Construction follows the classic Philips robust audio hash
# (Haitsma & Kalker, "A Highly Robust Audio Fingerprinting System",
# ISMIR 2002 — public literature; Chromaprint descends from the same
# filter idea): frame the waveform, take per-frame spectral energies
# in log-ish bands, and emit one bit per (time, band) from the SIGN
# of the time-and-band second difference — energy LANDSCAPE shape,
# robust to global gain and mild local edits, which is exactly what
# Hamming distance should track.
# ---------------------------------------------------------------------------

_AFP_FRAMES = 9       # 9 frames → 8 time-steps
_AFP_FRAME_LEN = 64   # samples per frame (576-sample fixed grid —
#                       sized to the synthetic blob range so most
#                       frames carry signal; a real decoder would feed
#                       real PCM and larger frames)
_AFP_BANDS = 9        # 9 bands → 8 band-differences; 8×8 = 64 bits
_AFP_BINS_PER_BAND = 3  # rfft bins 1..27 (DC excluded, of 33)


def _pcm_frames(content: bytes):
    """STUB decode to a 9×256 float sample matrix. A real path would
    decode PCM (wave/pydub/ffmpeg, absent in this container); the
    deterministic fake treats the byte stream as unsigned 8-bit
    samples on a FIXED 576-sample grid — pad/truncate, not resample,
    the _gray32 lesson: a local byte edit must stay a local sample
    edit, at the documented stub cost that bytes past 576 don't
    influence the fake fingerprint. Samples are centered (−128) so
    silence maps to zero signal."""
    import numpy as np

    b = np.frombuffer(
        content[: _AFP_FRAMES * _AFP_FRAME_LEN], dtype=np.uint8
    )
    pcm = np.zeros(_AFP_FRAMES * _AFP_FRAME_LEN, dtype=np.float64)
    pcm[: len(b)] = b.astype(np.float64) - 128.0
    return pcm.reshape(_AFP_FRAMES, _AFP_FRAME_LEN)


def _afp_udf():
    """The 64-bit audio fingerprint as an Arrow-batched pandas UDF:
    per frame t, band energies E[t, b] = Σ |rfft|² over 3-bin bands
    (DC excluded); bit(t, b) = sign of the Haitsma-Kalker filter
    (E[t,b] − E[t,b+1]) − (E[t−1,b] − E[t−1,b+1]) for t = 1..8,
    b = 0..7 — 64 bits packed row-major into one signed long (two's
    complement, the pHash packing). The rfft batch is ONE numpy call
    over all frames of a blob; vectorized per Arrow batch."""
    from pyspark.sql.pandas.functions import pandas_udf

    def fp(content):
        import numpy as np
        import pandas as pd

        n = len(content)
        if n == 0:
            return pd.Series([], dtype="int64")
        weights = (np.int64(1) << np.arange(63, -1, -1, dtype=np.int64))
        nb, bpb = _AFP_BANDS, _AFP_BINS_PER_BAND
        # decode per row (codec boundary), then ONE batched rfft +
        # band/filter pipeline over the whole Arrow batch —
        # bit-identical to the per-row path (rfft over a stacked axis
        # runs the same transform per 64-sample vector)
        pcm = np.stack([_pcm_frames(bytes(c)) for c in content])
        mag2 = np.abs(np.fft.rfft(pcm, axis=2)) ** 2
        # bands over bins 1..27: (n, frames, 9, 3) → (n, frames, 9)
        e = (
            mag2[:, :, 1 : 1 + nb * bpb]
            .reshape(n, _AFP_FRAMES, nb, bpb)
            .sum(axis=3)
        )
        bdiff = e[:, :, :-1] - e[:, :, 1:]        # (n, frames, 8)
        filt = bdiff[:, 1:] - bdiff[:, :-1]       # (n, 8, 8)
        bits = (filt > 0).astype(np.int64).reshape(n, 64)
        return pd.Series((bits * weights).sum(axis=1), dtype="int64")

    return pandas_udf(fp, LongType())


def audio_fingerprint64(
    blobs: DataFrame,
    id_col: str = "blob_id",
    content_col: str = "content",
) -> DataFrame:
    """(id, afp long): 64-bit spectral fingerprint of each audio blob.
    ZERO shuffle — a pure Arrow-batched map over the corpus, like
    phash64; the sanctioned UDF case (FFT has no built-in form)."""
    return spread(blobs).select(
        F.col(id_col).alias("id"),
        _afp_udf()(F.col(content_col)).alias("afp"),
    )


def audio_near_dup_pairs(
    blobs: DataFrame,
    max_hamming: int = 6,
    id_col: str = "blob_id",
    content_col: str = "content",
) -> DataFrame:
    """Near-duplicate audio pairs with fingerprint Hamming distance ≤
    max_hamming — signature = audio_fingerprint64, join = the shared
    lossless Hamming banding (hamming_banded_pairs; with the default
    max_hamming=6 the 8×8-bit band layout applies). A local waveform
    edit perturbs one frame, which touches at most the two adjacent
    time-steps of the filter — ≤ 16 of 64 bits — while unrelated audio
    differs in ~half the bits; the default threshold sits between
    (planted-edit recovery and banded≡brute-force are pinned in
    tests/test_audio_fp.py)."""
    band_layout(max_hamming)  # fail before planning the UDF scan
    sig = audio_fingerprint64(blobs, id_col, content_col).localCheckpoint(
        eager=False
    )
    return hamming_banded_pairs(sig, max_hamming, "afp")
