"""Multimodal-column plumbing (charter extension): treat image/audio/
video payloads as opaque ``binary`` columns with typed metadata, and
run decode / feature-extraction as Arrow-batched ``mapInPandas`` stages.

The actual codec step is STUBBED — image/audio libraries are not
available in this environment — behind ``decode_media`` which raises
``NotImplementedError`` unless the deterministic fake decoder is
selected.  Everything around the stub is real and tested: the binary
schema, the mapInPandas batch shape (iterator of pandas DataFrames with
``bytes`` cells), the output StructType, and the partition-parallel
execution — which is exactly the part that must be right at 100 TB
(decode is per-row CPU; it scales by partition count, and the Arrow
boundary amortizes serialization per batch, not per row).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Callable

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from firmable_company_data_pipeline_spark.operators.dedup import _hamming_band_pairs
from firmable_company_data_pipeline_spark.session import materialize

HASH_MOD = 1_000_000_007

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("media_type", StringType()),
        StructField("content", BinaryType()),
        StructField(
            "meta",
            StructType(
                [
                    StructField("source", StringType()),
                    StructField("n_bytes", LongType()),
                ]
            ),
        ),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("media_type", StringType()),
        StructField("n_bytes", LongType()),
        StructField("first_byte", LongType()),
        StructField("byte_sum_mod", LongType()),
    ]
)


def as_media_table(docs: DataFrame) -> DataFrame:
    """Synthesize a media table from the documents table: UTF-8 bytes of
    the text as the opaque binary payload plus typed metadata.  (In a
    real pipeline this is the parquet/Lance scan of stored blobs; the
    driver corpus has no true binary tables.)"""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("image/png"))
        .otherwise(F.lit("audio/wav"))
        .alias("media_type"),
        F.encode("text", "UTF-8").alias("content"),
        F.struct(
            F.col("source").alias("source"),
            F.octet_length(F.encode("text", "UTF-8")).cast("long").alias("n_bytes"),
        ).alias("meta"),
    )


def decode_media(payload: bytes, media_type: str, fake: bool = False):
    """Decode a binary payload into a raw byte signal.

    ``fake=True`` selects the deterministic fake decoder used by tests
    and the oracle queries: it treats the raw bytes as the "decoded"
    signal.  ``fake=False`` is the REAL arm: for ``image/*`` it decodes
    with PIL to an 8-bit grayscale pixel buffer (the byte-grid shape the
    downstream feature/resize/pHash stages consume); audio/video still
    need librosa/av.  In environments without the codec libraries the
    real arm raises ``NotImplementedError`` — exercised by a
    PIL-importorskip test so any future environment with codecs tests
    it with no code change.
    """
    if fake:
        return payload
    if (media_type or "").startswith("image/"):
        try:
            from PIL import Image
        except ImportError as exc:
            raise NotImplementedError(
                "image decoding requires PIL, not present in this "
                "environment; pass fake=True for the deterministic test decoder"
            ) from exc
        import io as _io

        return Image.open(_io.BytesIO(payload)).convert("L").tobytes()
    raise NotImplementedError(
        "audio/video decoding requires librosa/av codecs not present in "
        "this environment; pass fake=True for the deterministic test decoder"
    )


def extract_features(
    media: DataFrame, decoder: Callable[..., bytes] = decode_media
) -> DataFrame:
    """Arrow-batched feature extraction over the binary column.

    Deterministic features of the (fake-)decoded payload: byte length,
    first byte, and a rolling byte-sum mod — stand-ins for embedding /
    spectrogram outputs, chosen so the DuckDB oracle can reproduce them
    from the source text (the payload is ASCII here, bytes ==
    codepoints).
    """

    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            decoded = [
                decoder(payload, mt, fake=True)
                for payload, mt in zip(pdf["content"], pdf["media_type"])
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": [len(d) for d in decoded],
                    "first_byte": [d[0] if len(d) else -1 for d in decoded],
                    # numpy views the payload buffer in place; the C-speed
                    # sum is the per-row hot loop at scale.
                    "byte_sum_mod": [
                        int(np.frombuffer(d, dtype=np.uint8).sum()) % HASH_MOD
                        for d in decoded
                    ],
                }
            )

    return media.mapInPandas(batches, FEATURE_SCHEMA)


def resize_image(
    media: DataFrame,
    width: int,
    height: int,
    in_width: int = 16,
    decoder: Callable[..., bytes] = decode_media,
) -> DataFrame:
    """Nearest-neighbor resize over the (fake-)decoded byte grid — the
    formerly-stubbed operator made real for every part EXCEPT the codec:
    the payload is interpreted as a grayscale ``in_width × h`` matrix
    (h = n_bytes // in_width; true decode of PNG/JPEG needs PIL and
    stays behind ``decode_media(fake=False)``), resampled with integer
    index arithmetic ``src = (dst * src_dim) // dst_dim`` — deterministic
    in any engine, which is what lets the DuckDB oracle recompute the
    resized bytes from the source text.

    Output: (media_id, width, height, content binary, n_bytes) — the
    binary-in/binary-out Arrow-batched mapInPandas shape a real decoder
    plugs into.  Rows with fewer than one input row of pixels drop.
    """
    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, outs = [], []
            for mid, mt, payload in zip(
                pdf["media_id"], pdf["media_type"], pdf["content"]
            ):
                d = decoder(payload, mt, fake=True)
                h = len(d) // in_width
                if h == 0:
                    continue
                img = np.frombuffer(d[: h * in_width], dtype=np.uint8).reshape(
                    h, in_width
                )
                rows = (np.arange(height) * h) // height
                cols = (np.arange(width) * in_width) // width
                resized = img[np.ix_(rows, cols)]
                ids.append(mid)
                outs.append(resized.tobytes())
            if ids:
                yield pd.DataFrame(
                    {
                        "media_id": ids,
                        "width": [width] * len(ids),
                        "height": [height] * len(ids),
                        "content": outs,
                        "n_bytes": [len(o) for o in outs],
                    }
                )

    return media.mapInPandas(
        batches,
        "media_id long, width int, height int, content binary, n_bytes long",
    )


def sample_frames(media: DataFrame, every_n: int = 30) -> DataFrame:
    """Decode every ``every_n``-th video frame to an 8-bit grayscale
    pixel buffer: (media_id, frame_idx, width, height, frame binary).

    Real arm requires PyAV; in environments without it this raises
    ``NotImplementedError`` at plan time (eager import check) — the
    importorskip test exercises the real arm wherever codecs exist,
    with zero code change (same gating as ``decode_media``'s PIL arm).
    The metadata-only planning half (``frame_sample_plan``) runs
    anywhere and is oracle-checked.

    Plan shape: Arrow-batched ``mapInPandas`` — decode is per-row CPU
    that scales by partition count; at 100 TB pair this with
    ``frame_sample_plan``-driven ranged fetches so only the sampled
    byte ranges are ever read.
    """
    try:
        import av  # noqa: F401
    except ImportError as exc:
        raise NotImplementedError(
            "frame sampling requires av/ffmpeg (not in this environment); "
            "use frame_sample_plan for the metadata-only planning half"
        ) from exc

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io as _io

        import av as _av

        for pdf in it:
            ids, idxs, ws, hs, frames = [], [], [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["content"]):
                with _av.open(_io.BytesIO(payload)) as container:
                    for i, frame in enumerate(container.decode(video=0)):
                        if i % every_n:
                            continue
                        # to_ndarray strips ffmpeg's per-row linesize
                        # padding (raw plane buffers are stride-aligned
                        # to 16/32 bytes — width*height slicing of
                        # planes[0] is WRONG for non-aligned widths)
                        arr = frame.to_ndarray(format="gray")
                        ids.append(mid)
                        idxs.append(i)
                        ws.append(arr.shape[1])
                        hs.append(arr.shape[0])
                        frames.append(arr.tobytes())
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int64"),
                    "width": pd.Series(ws, dtype="int32"),
                    "height": pd.Series(hs, dtype="int32"),
                    "frame": frames,
                }
            )

    return media.mapInPandas(
        batches,
        "media_id long, frame_idx long, width int, height int, frame binary",
    )


# Perceptual block-hash (pHash-lite): PHASH_BITS equal byte-range chunks,
# one bit per chunk = (chunk mean > global mean).  64 bits / 4 bands of
# 16 → 65 536 buckets per band, so per-band candidate volume Σ|bucket|²
# stays sub-quadratic to ~10⁸ media rows (the former 16-bit/64-bucket
# setting saturated exactly like the r1 SimHash finding; widened the
# same way).  A production variant would swap the block means for a DCT
# — the PLAN SHAPE (Arrow-batch hash → banded self-join → bit_count
# verify) is identical.
PHASH_BITS = 64
PHASH_BANDS = 4  # pigeonhole: ≥ max_hamming+1 bands → recall 1 at the cap (else raises)


def extract_phash(
    media: DataFrame, decoder: Callable[..., bytes] = decode_media
) -> DataFrame:
    """Per-row perceptual hash of the (fake-)decoded byte signal —
    the media twin of SimHash: visually-near-identical payloads (same
    bytes ± small perturbations) land within a few bits.

    Arrow-batched like ``extract_features``; numpy views each payload
    buffer zero-copy, chunk boundaries are ``(i·n)//B`` so any engine
    reproduces them in integer arithmetic.  Empty chunks (n < B) set
    bit 0.  Output: (media_id, media_type, phash long).
    """
    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            hashes = []
            for payload, mt in zip(pdf["content"], pdf["media_type"]):
                d = decoder(payload, mt, fake=True)
                arr = np.frombuffer(d, dtype=np.uint8)
                n = len(arr)
                h = 0
                if n:
                    gm = arr.mean()
                    for i in range(PHASH_BITS):
                        lo = (i * n) // PHASH_BITS
                        hi = ((i + 1) * n) // PHASH_BITS
                        if hi > lo and arr[lo:hi].mean() > gm:
                            h |= 1 << i
                # Two's-complement fold: bit 63 set must land in int64
                # (the long column type) — same signed value the oracle's
                # BIGINT arithmetic produces.
                if h >= 1 << 63:
                    h -= 1 << 64
                hashes.append(h)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "media_type": pdf["media_type"],
                    "phash": pd.Series(hashes, dtype="int64"),
                }
            )

    return media.mapInPandas(
        batches, "media_id long, media_type string, phash long"
    )


def phash_dup_pairs(
    media: DataFrame,
    max_hamming: int = 2,
    decoder: Callable[..., bytes] = decode_media,
) -> DataFrame:
    """Near-duplicate media pairs by perceptual-hash Hamming distance.

    Banded blocking, the SimHash join (``dedup._hamming_band_pairs``):
    the hash splits into ``PHASH_BANDS`` bit-bands; ≤ ``max_hamming`` <
    bands errors leave at least one band intact (pigeonhole), so one
    (band, key) equi-join has recall 1 — candidate volume is Σ
    per-bucket² per band, never N² — and first-band-wins keeps each pair
    once.  ``max_hamming >= PHASH_BANDS`` raises ValueError.
    Verification is one ``bit_count(xor)`` per candidate.  Output:
    (id_a, id_b, hamming) with id_a < id_b.

    The hash table is read as both join sides: shared so the Arrow
    decode stage runs once.
    """
    ph = materialize(extract_phash(media, decoder), "share")
    fps = ph.select(F.col("media_id").alias("id"), F.col("phash").alias("fp"))
    return _hamming_band_pairs(fps, PHASH_BITS, PHASH_BANDS, max_hamming)


def frame_sample_plan(
    media: DataFrame, frame_bytes: int = 64, every_n: int = 4
) -> DataFrame:
    """Deterministic frame-sampling PLAN from metadata alone — which
    byte ranges a video decoder would fetch, WITHOUT decoding: frame i
    occupies bytes [i·frame_bytes, (i+1)·frame_bytes) of the payload
    and every ``every_n``-th frame is sampled.

    This replaces the former NotImplementedError stub with the real
    planning half of the operator (map-only: metadata → ``sequence`` →
    explode; zero shuffles, prunes the binary column entirely — at
    100 TB the plan rows are what feeds a ranged-fetch decode stage à la
    ``sources/commoncrawl.fetch_warc_html``).  The pixel-decode half
    still requires av/ffmpeg (``decode_media``).

    Output: (media_id, frame_idx, byte_offset, n_frame_bytes).
    """
    n_frames = F.floor(F.col("meta.n_bytes") / frame_bytes).cast("long")
    return (
        media.select("media_id", n_frames.alias("_nf"))
        .filter(F.col("_nf") > 0)
        .select(
            "media_id",
            F.explode(
                F.sequence(F.lit(0), F.col("_nf") - 1, F.lit(every_n))
            ).alias("frame_idx"),
        )
        .select(
            "media_id",
            "frame_idx",
            (F.col("frame_idx") * frame_bytes).alias("byte_offset"),
            F.lit(frame_bytes).cast("long").alias("n_frame_bytes"),
        )
    )
