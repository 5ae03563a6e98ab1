"""Multimodal plumbing tests: binary schema, mapInPandas batch shape,
deterministic fake decode, and stub gating."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, StructType

from firmable_company_data_pipeline_spark.operators import multimodal as mm
from firmable_company_data_pipeline_spark.session import load_tables


def test_media_table_schema(spark, sf_dir):
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    media = mm.as_media_table(docs)
    schema = {f.name: f.dataType for f in media.schema.fields}
    assert isinstance(schema["content"], BinaryType)
    assert isinstance(schema["meta"], StructType)
    row = media.limit(1).collect()[0]
    assert isinstance(row.content, (bytes, bytearray))
    assert row.meta.n_bytes == len(row.content)


def test_extract_features_matches_python(spark, sf_dir):
    docs = load_tables(spark, sf_dir, "documents")["documents"].limit(50)
    feats = mm.extract_features(mm.as_media_table(docs))
    got = {r.media_id: r for r in feats.collect()}
    for row in docs.collect():
        raw = row.text.encode("utf-8")
        f = got[row.doc_id]
        assert f.n_bytes == len(raw)
        assert f.first_byte == raw[0]
        assert f.byte_sum_mod == sum(raw) % mm.HASH_MOD


def test_feature_schema_stable(spark, sf_dir):
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    feats = mm.extract_features(mm.as_media_table(docs))
    assert feats.schema == mm.FEATURE_SCHEMA


def test_decode_stub_gated():
    try:
        import PIL  # noqa: F401

        has_pil = True
    except ImportError:
        has_pil = False
    if not has_pil:
        with pytest.raises(NotImplementedError):
            mm.decode_media(b"\x89PNG", "image/png")
    with pytest.raises(NotImplementedError):
        mm.decode_media(b"RIFF", "audio/wav")  # no audio codec anywhere here
    assert mm.decode_media(b"abc", "image/png", fake=True) == b"abc"


def test_real_image_decode_with_pil(spark):
    """Real-codec arm of decode_media, end-to-end through the Arrow
    mapInPandas stage.  importorskips on PIL: skipped (with reason) in
    this environment, green with zero code change wherever codecs
    exist — the transformWithState/protobuf gating pattern."""
    pytest.importorskip("PIL")
    import io

    import numpy as np
    from PIL import Image

    img = np.arange(64, dtype=np.uint8).reshape(8, 8)
    buf = io.BytesIO()
    Image.fromarray(img, mode="L").save(buf, format="PNG")
    media = _media_df(spark, [(1, buf.getvalue())])

    def real(payload, mt, fake=True):
        return mm.decode_media(payload, mt, fake=False)

    row = mm.extract_features(media, decoder=real).collect()[0]
    assert row["n_bytes"] == 64  # 8x8 grayscale pixel buffer, not PNG size
    assert row["first_byte"] == 0
    assert row["byte_sum_mod"] == int(img.sum()) % mm.HASH_MOD


def test_frames_decode_stubbed(spark, sf_dir):
    try:
        import av  # noqa: F401

        pytest.skip("av present: the real arm is tested below")
    except ImportError:
        pass
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    media = mm.as_media_table(docs)
    with pytest.raises(NotImplementedError):
        mm.sample_frames(media)


def test_real_frame_sampling_with_av(spark):
    """Real-codec arm of sample_frames, end-to-end through the Arrow
    mapInPandas stage.  importorskips on PyAV: skipped here, green with
    zero code change wherever codecs exist."""
    av = pytest.importorskip("av")
    import io

    import numpy as np

    buf = io.BytesIO()
    with av.open(buf, mode="w", format="mp4") as container:
        stream = container.add_stream("mpeg4", rate=10)
        stream.width, stream.height = 32, 16
        stream.pix_fmt = "yuv420p"
        for i in range(9):
            img = np.full((16, 32, 3), i * 20, dtype=np.uint8)
            frame = av.VideoFrame.from_ndarray(img, format="rgb24")
            for packet in stream.encode(frame):
                container.mux(packet)
        for packet in stream.encode():
            container.mux(packet)
    media = _media_df(spark, [(1, buf.getvalue())])
    rows = mm.sample_frames(media, every_n=4).collect()
    assert [r["frame_idx"] for r in rows] == [0, 4, 8]
    assert all(r["width"] == 32 and r["height"] == 16 for r in rows)
    assert all(len(bytes(r["frame"])) == 32 * 16 for r in rows)


def test_resize_image_nearest_neighbor(spark):
    import numpy as np

    # 16x4 gradient image; resize to 8x2 must pick rows 0,2 and every
    # other column (integer nearest-neighbor indices)
    img = np.arange(64, dtype=np.uint8).reshape(4, 16)
    media = _media_df(spark, [(1, img.tobytes()), (2, b"short")])
    out = {r["media_id"]: r for r in mm.resize_image(media, 8, 2).collect()}
    got = np.frombuffer(bytes(out[1]["content"]), dtype=np.uint8).reshape(2, 8)
    rows = (np.arange(2) * 4) // 2
    cols = (np.arange(8) * 16) // 8
    assert (got == img[np.ix_(rows, cols)]).all()
    assert out[1]["n_bytes"] == 16
    assert 2 not in out  # sub-one-row payload dropped


def _media_df(spark, rows):
    return spark.createDataFrame(
        [
            (i, "image/png", payload, {"source": "t", "n_bytes": len(payload)})
            for i, payload in rows
        ],
        mm.MEDIA_SCHEMA,
    )


def test_phash_identical_and_perturbed_payloads(spark):
    base = bytes(range(32, 96)) * 4  # 256 bytes, strong chunk structure
    perturbed = bytearray(base)
    perturbed[10] ^= 0x40  # one flipped byte: at most a few chunk means move
    other = bytes(reversed(base))
    media = _media_df(spark, [(1, base), (2, bytes(perturbed)), (3, other), (4, base)])
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in mm.phash_dup_pairs(media, max_hamming=2).collect()
    }
    assert pairs[(1, 4)] == 0  # identical payloads always pair at distance 0
    assert (2, 4) in pairs or (1, 2) in pairs  # perturbation stays near
    assert all(h <= 2 for h in pairs.values())


def test_phash_banding_has_full_recall_at_cap(spark):
    # every pair within the cap must survive banded blocking: compare the
    # banded operator against a brute-force recompute of its own hashes
    import itertools

    payloads = [(i, bytes((j * i + 7) % 251 for j in range(200))) for i in range(1, 9)]
    # media 9 repeats media 1: equal on all four bands, so first-band-wins
    # must still emit the pair exactly once
    payloads.append((9, payloads[0][1]))
    media = _media_df(spark, payloads)
    hashes = {r["media_id"]: r["phash"] for r in mm.extract_phash(media).collect()}
    want = {
        (a, b)
        for a, b in itertools.combinations(sorted(hashes), 2)
        # hashes are signed int64 (bit 63 two's-complement); mask the
        # Python xor to 64 bits so the popcount matches bit_count(long)
        if bin((hashes[a] ^ hashes[b]) & ((1 << 64) - 1)).count("1") <= 2
    }
    rows = [(r["id_a"], r["id_b"]) for r in mm.phash_dup_pairs(media, max_hamming=2).collect()]
    assert set(rows) == want
    assert (1, 9) in want
    assert len(rows) == len(set(rows))  # one row per pair


def test_media_phash_dups_matches_oracle_where_pairs_exist(spark, sf_dir):
    """``media_phash_dups`` returns no pair at sf0.001 or sf0.01, the
    scales the contract gate runs, so the gate cannot see a wrong pair
    set.  sf0.1 has pairs: compare the query there with its DuckDB
    oracle through the gate's own comparison."""
    import os

    import duckdb

    from firmable_company_data_pipeline_spark.queries.llmops import (
        MEDIA_PHASH_DUPS_SQL,
        media_phash_dups,
    )
    from scripts.check_contract import compare

    sf01 = os.path.join(os.path.dirname(sf_dir), "sf0.1")
    docs = os.path.join(sf01, "documents.parquet")
    if not os.path.exists(docs):
        pytest.skip(f"no sf0.1 documents at {docs}")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs}')")
    res = con.execute(MEDIA_PHASH_DUPS_SQL)
    duck_rows = res.fetchall()
    pairs = media_phash_dups(spark, sf01)
    assert len(duck_rows) > 0
    assert compare("media_phash_dups", pairs, duck_rows, [d[0] for d in res.description]) is None


def test_frame_sample_plan_arithmetic(spark):
    media = _media_df(spark, [(1, bytes(300)), (2, bytes(63)), (3, bytes(64))])
    rows = {
        (r["media_id"], r["frame_idx"]): r
        for r in mm.frame_sample_plan(media, frame_bytes=64, every_n=4).collect()
    }
    # payload 300 → 4 frames (0..3), sampled every 4th → frame 0 only
    assert (1, 0) in rows and (1, 4) not in rows
    assert rows[(1, 0)]["byte_offset"] == 0 and rows[(1, 0)]["n_frame_bytes"] == 64
    # payload 63 → 0 full frames → no plan rows
    assert not any(m == 2 for (m, _) in rows)
    # payload exactly one frame
    assert (3, 0) in rows


def test_real_image_resize_with_pil(spark):
    """Real-codec arm of the resize pipeline: PNG -> PIL grayscale
    decode -> integer nearest-neighbor resample, end-to-end through the
    Arrow mapInPandas stage via the same decoder seam the fake arm uses
    (the PyAV frame-sampling pattern).  Skipped with reason where PIL
    is absent; green with zero code change wherever codecs exist."""
    pytest.importorskip("PIL")
    import io

    import numpy as np
    from PIL import Image

    img = np.arange(64, dtype=np.uint8).reshape(4, 16)
    buf = io.BytesIO()
    Image.fromarray(img, mode="L").save(buf, format="PNG")
    media = _media_df(spark, [(1, buf.getvalue())])

    def real(payload, mt, fake=True):
        return mm.decode_media(payload, mt, fake=False)

    out = {
        r["media_id"]: r
        for r in mm.resize_image(media, 8, 2, in_width=16, decoder=real).collect()
    }
    got = np.frombuffer(bytes(out[1]["content"]), dtype=np.uint8).reshape(2, 8)
    rows = (np.arange(2) * 4) // 2
    cols = (np.arange(8) * 16) // 8
    assert (got == img[np.ix_(rows, cols)]).all()
