"""Multimodal column plumbing: images/audio/video as opaque binary
columns with typed metadata.

The container has no image/audio codecs, so the *decode* kernels are
stubbed (deterministic fake or ``NotImplementedError``) — but everything
Spark-side is real and tested: schemas, Arrow-batched ``mapInPandas``
operators, batch shapes, and partitioning. Swapping the stub for PIL /
torchaudio is a one-function change that doesn't touch the plan.

Design for 100 TB of media:
- media rows are big → keep ``spark.sql.files.maxPartitionBytes`` low
  for these tables and never ``collect()``;
- decode/feature kernels are ``mapInPandas`` (per-partition Arrow batch
  iterators) so the Python cost is amortized per batch, not per row;
- outputs are fixed-size vectors/structs so downstream joins/aggs stay
  columnar.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Typed metadata carried alongside every media binary.
MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image|audio|video
        T.StructField("mime", T.StringType(), True),
        T.StructField("content", T.BinaryType(), True),
        T.StructField("n_bytes", T.LongType(), True),
    ]
)

def _have_module(name: str) -> bool:
    import importlib.util

    return importlib.util.find_spec(name) is not None


#: Codec availability, probed at import. The operators dispatch on these:
#: real kernels when the library is present, deterministic stubs
#: otherwise — the Spark-side plan (mapInPandas, schemas, batch shapes)
#: is identical either way.
HAVE_IMAGE_CODEC = _have_module("PIL")  # pillow
HAVE_AUDIO_CODEC = _have_module("soundfile")


def synthesize_media(df: DataFrame, id_col: str, payload_col: str) -> DataFrame:
    """Build a deterministic fake media table from any table: the payload
    column's bytes become the binary 'content'. Stands in for a real
    binary source (e.g. parquet with BYTE_ARRAY media blobs)."""
    content = F.encode(F.col(payload_col).cast("string"), "utf-8")
    return df.select(
        F.col(id_col).cast("long").alias("media_id"),
        F.lit("image").alias("kind"),
        F.lit("application/octet-stream").alias("mime"),
        content.alias("content"),
        F.length(content).cast("long").alias("n_bytes"),
    )


def _fake_decode_dims(content: bytes) -> tuple[int, int]:
    """Deterministic stand-in for image decode: derive (width, height)
    from a content digest — reproducible anywhere (including in the SQL
    oracle, which re-derives the same sha256 arithmetic)."""
    d = hashlib.sha256(content or b"").digest()
    return 64 + d[0] % 192, 64 + d[1] % 192


def _real_decode_dims(content: bytes) -> tuple[int | None, int | None]:
    """PIL-backed decode. Corrupt/undecodable blobs yield (None, None) —
    at corpus scale a bad image must taint its row, not kill the job."""
    import io

    from PIL import Image

    try:
        with Image.open(io.BytesIO(content)) as im:
            return im.width, im.height
    except Exception:
        return None, None


DECODED_SCHEMA = (
    "media_id long, kind string, n_bytes long, width int, height int"
)


def decode_media(df: DataFrame, use_real_codecs: bool | None = None) -> DataFrame:
    """Decode kernel over ``mapInPandas``: binary → (width, height).

    ``use_real_codecs``: ``None`` (default) auto-selects the PIL kernel
    when pillow is importable, else the deterministic stub; ``True``
    demands PIL (raises up front if absent — better than failing inside
    executors); ``False`` pins the stub (the SQL-oracle queries pin this
    so their sha256 re-derivation stays valid even where PIL exists).

    Real shape of a distributed decode: Arrow batches stream through a
    per-partition Python worker; output is a narrow typed frame.
    """
    if use_real_codecs is None:
        use_real_codecs = HAVE_IMAGE_CODEC
    if use_real_codecs and not HAVE_IMAGE_CODEC:
        raise RuntimeError(
            "use_real_codecs=True but pillow is not installed; "
            "install pillow or pass use_real_codecs=False for the stub"
        )
    decode = _real_decode_dims if use_real_codecs else _fake_decode_dims

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            dims = pdf["content"].map(
                lambda c: decode(bytes(c) if c is not None else b"")
            )
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pdf["n_bytes"],
                    "width": dims.map(lambda t: t[0]).astype("Int32"),
                    "height": dims.map(lambda t: t[1]).astype("Int32"),
                }
            )

    return df.mapInPandas(kernel, DECODED_SCHEMA)


FEATURES_SCHEMA = "media_id long, feat array<double>"


def byte_histogram_features(df: DataFrame, bins: int = 16) -> DataFrame:
    """Feature-extract kernel: normalized byte histogram per media blob —
    the plumbing (and batch shape) of a real embedding extractor."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            feats = []
            for c in pdf["content"]:
                arr = np.frombuffer(bytes(c) if c is not None else b"", dtype=np.uint8)
                if arr.size == 0:
                    feats.append([0.0] * bins)
                    continue
                hist, _ = np.histogram(arr, bins=bins, range=(0, 256))
                feats.append((hist / arr.size).tolist())
            yield pd.DataFrame({"media_id": pdf["media_id"], "feat": feats})

    return df.mapInPandas(kernel, FEATURES_SCHEMA)


def frame_sample(df: DataFrame, num_frames: int = 4) -> DataFrame:
    """Frame-sample kernel: split each blob into ``num_frames`` equal
    byte slices (stand-in for video frame extraction); output one row per
    frame — the explode-shaped plumbing a real sampler needs."""
    n = F.coalesce(F.length("content"), F.lit(0))
    step = F.greatest((n / num_frames).cast("int"), F.lit(1))
    frames = F.transform(
        F.sequence(F.lit(0), F.lit(num_frames - 1)),
        lambda i: F.struct(
            i.cast("int").alias("frame_no"),
            F.substring(F.col("content"), (i * step + 1).cast("int"), step).alias(
                "frame_bytes"
            ),
        ),
    )
    return df.select(
        "media_id", F.explode(frames).alias("f")
    ).select(
        "media_id",
        F.col("f.frame_no").alias("frame_no"),
        F.col("f.frame_bytes").alias("frame_bytes"),
        F.length("f.frame_bytes").cast("long").alias("frame_len"),
    )


PHASH_SCHEMA = "media_id long, phash string"


def perceptual_hash(df: DataFrame, use_real_codecs: bool | None = None) -> DataFrame:
    """Perceptual (average) hash kernel: 64-bit aHash per media blob,
    emitted as a 16-char lowercase hex string — the image near-dup
    primitive (`group by phash` ≈ exact-duplicate buckets; hamming
    distance over the bits ranks near-duplicates, same pipeline shape
    as :func:`dedup.simhash_near_dups`).

    Real-codec path (pillow): decode → grayscale → 8×8 resize → bit i =
    pixel_i > mean. Stub path (pinned by the SQL oracle): the 64
    "pixels" are the bytes of ``sha256(content) || sha256(sha256hex)``
    — a deterministic chain reproducible in plain SQL, so the kernel's
    OUTPUT is value-verified end-to-end even with no codec installed.
    Either way the kernel is Arrow-batched numpy (vectorized mean/bit
    packing), never per-row Python in the hot loop beyond the decode
    call itself.
    """
    if use_real_codecs is None:
        use_real_codecs = HAVE_IMAGE_CODEC
    if use_real_codecs and not HAVE_IMAGE_CODEC:
        raise RuntimeError(
            "use_real_codecs=True but pillow is not installed; "
            "install pillow or pass use_real_codecs=False for the stub"
        )

    def stub_pixels(content: bytes):
        import numpy as np

        d1 = hashlib.sha256(content or b"").digest()
        d2 = hashlib.sha256(d1.hex().encode()).digest()
        return np.frombuffer(d1 + d2, dtype=np.uint8)

    def real_pixels(content: bytes):
        import io

        import numpy as np
        from PIL import Image

        try:
            with Image.open(io.BytesIO(content)) as im:
                g = im.convert("L").resize((8, 8))
                return np.asarray(g, dtype=np.uint8).reshape(64)
        except Exception:
            return None

    pixels = real_pixels if use_real_codecs else stub_pixels

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            hashes = []
            for c in pdf["content"]:
                px = pixels(bytes(c) if c is not None else b"")
                if px is None:
                    hashes.append(None)
                    continue
                bits = px > px.mean()  # strict: ties -> 0
                val = 0
                for i, b in enumerate(bits):
                    if b:
                        val |= 1 << i
                hashes.append(format(val, "016x"))
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "phash": hashes}
            )

    return df.mapInPandas(kernel, PHASH_SCHEMA)
