"""Multimodal tests: media schema, frame sampling, the stdlib PNG / JPEG
/ MJPEG / WAV / RIFF-AVI codecs, and ``decode_media``'s per-row choice
of decoder from ``kind`` and the blob's signature."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from anomaly_detection_iiot_spark.operators import multimodal


@pytest.fixture()
def media(spark):
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": range(6),
                "text": [f"payload-{i} " * (i + 1) for i in range(6)],
            }
        )
    )
    return multimodal.synthesize_media(docs)


def _types(schema):
    return [(f.name, f.dataType.simpleString()) for f in schema.fields]


def test_media_schema(media):
    assert _types(media.schema) == _types(multimodal.MEDIA_SCHEMA)
    kinds = {r.media_id: r.kind for r in media.select("media_id", "kind").collect()}
    assert kinds[0] == "image" and kinds[1] == "audio" and kinds[2] == "video"


def _wav(samples: np.ndarray) -> bytes:
    """Mono 16-bit PCM WAV of ``samples`` at 8 kHz."""
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(np.asarray(samples, dtype=np.int16).tobytes())
    return buf.getvalue()


def test_real_codec_decodes_wav(spark):
    """PCM WAV decode uses the stdlib wave module."""
    samples = np.array([0, 1000, -1000, 32767, -32768, 5], dtype=np.int16)
    media = spark.createDataFrame(
        pd.DataFrame(
            [
                {
                    "media_id": 2,
                    "kind": "audio",
                    "data": bytearray(_wav(samples)),
                    "meta": (0, 0, 1, 8000, 0, "wav"),
                }
            ]
        ),
        multimodal.MEDIA_SCHEMA,
    )
    rows = multimodal.decode_media(media).collect()
    assert rows[0].shape == [6, 1]
    np.testing.assert_allclose(rows[0].pixels, samples / 32768.0, rtol=1e-12)


def test_sample_frames(media):
    sampled = multimodal.sample_frames(media, every=7)
    meta = {r.media_id: r.meta.n_frames for r in media.collect()}
    got = sampled.groupBy("media_id").count().collect()
    vids = {r.media_id: r["count"] for r in got}
    expected = {
        mid: len(range(0, nf, 7))
        for mid, nf in meta.items()
        if mid % 3 == 2
    }
    assert vids == expected


def _fake_jpeg(*, app1_payload: bytes = b"", entropy: bytes = b"\x01\x02\x03") -> bytes:
    """Build a structurally valid minimal JPEG: SOI, optional APP1
    (length-prefixed — where EXIF thumbnails live), an SOS header, raw
    entropy bytes, EOI. `entropy` must not contain a bare 0xFF followed
    by a non-stuffing byte (real encoders guarantee this by stuffing)."""
    parts = [b"\xff\xd8"]
    if app1_payload:
        parts.append(b"\xff\xe1" + (len(app1_payload) + 2).to_bytes(2, "big") + app1_payload)
    sos_hdr = b"\x00\x01\x00"  # arbitrary 3-byte SOS header payload
    parts.append(b"\xff\xda" + (len(sos_hdr) + 2).to_bytes(2, "big") + sos_hdr)
    parts.append(entropy)
    parts.append(b"\xff\xd9")
    return b"".join(parts)


def test_split_mjpeg_frames_pure_bytes():
    """Marker-segment MJPEG splitting is pure bytes logic. Covers stuffed
    0xFF and restart markers inside entropy-coded data."""
    f1 = _fake_jpeg(entropy=b"frame-one \xff\x00 stuffed \xff\xd3 rst")
    f2 = _fake_jpeg(entropy=b"\x00" * 9)
    f3 = _fake_jpeg(entropy=b"tail")
    assert multimodal.split_mjpeg_frames(f1 + f2 + f3) == [f1, f2, f3]
    assert multimodal.split_mjpeg_frames(f2) == [f2]
    with pytest.raises(ValueError, match="SOI"):
        multimodal.split_mjpeg_frames(b"not a jpeg at all")


def test_split_mjpeg_frames_exif_thumbnail_not_split():
    """ADVICE r4: an APP1 (EXIF) payload may legally contain a complete
    embedded thumbnail JPEG — its SOI must NOT start a new frame. The
    segment walker skips APPn payloads by declared length, so the
    thumbnail is invisible to the splitter."""
    thumbnail = _fake_jpeg(entropy=b"thumb")  # full JPEG inside APP1
    f1 = _fake_jpeg(app1_payload=b"Exif\x00\x00" + thumbnail)
    f2 = _fake_jpeg(entropy=b"second-frame")
    assert multimodal.split_mjpeg_frames(f1 + f2) == [f1, f2]


# --- stdlib PNG codec (encode_png/decode_png) --------------------------------


def test_png_codec_roundtrip_all_filters():
    """Pure-bytes property test: encode cycles filter types 0-4 by row,
    so any image with >=5 rows exercises every PNG filter's encode AND
    decode path; shapes include degenerate single-column/row/empty."""
    rng = np.random.default_rng(11)
    for shape in [(1, 1), (5, 8), (13, 32), (100, 3), (0, 8), (7, 1)]:
        a = rng.integers(0, 256, size=shape, dtype=np.uint8)
        b = multimodal.decode_png(multimodal.encode_png(a))
        assert b.shape == a.shape
        assert (b == a).all()
    grad = np.tile(np.arange(64, dtype=np.uint8), (11, 1))
    assert (multimodal.decode_png(multimodal.encode_png(grad)) == grad).all()


def test_png_crc_detects_corruption():
    blob = bytearray(
        multimodal.encode_png(np.arange(40, dtype=np.uint8).reshape(5, 8))
    )
    blob[40] ^= 0xFF  # flip a byte inside IDAT payload
    with pytest.raises(ValueError, match="CRC"):
        multimodal.decode_png(bytes(blob))


def test_png_rejects_unsupported_depth():
    import struct
    import zlib

    blob = bytearray(multimodal.encode_png(np.zeros((2, 2), dtype=np.uint8)))
    # IHDR payload starts at offset 16; depth byte is at 16 + 8
    blob[24] = 16
    payload = bytes(blob[16:29])
    blob[29:33] = struct.pack(
        ">I", zlib.crc32(b"IHDR" + payload) & 0xFFFFFFFF
    )
    with pytest.raises(NotImplementedError, match="8-bit grayscale"):
        multimodal.decode_png(bytes(blob))


def test_pil_cross_decodes_our_png():
    """Spec-compliance cross-check against an independent decoder;
    skipped where Pillow is not installed (the mm4 oracle covers value
    correctness without it)."""
    PIL = pytest.importorskip("PIL.Image")
    import io

    rng = np.random.default_rng(3)
    a = rng.integers(0, 256, size=(9, 17), dtype=np.uint8)
    via_pil = np.asarray(PIL.open(io.BytesIO(multimodal.encode_png(a))))
    assert (via_pil == a).all()


def test_synthesize_png_decode_distributed(spark, media):
    """PNG decode on executors: each image row's utf-8 bytes are
    PNG-encoded on the driver as an (n_bytes // width, width) image and
    ``decode_media`` inflates+unfilters them back to the bytes truncated
    to the last full row; rows of other kinds are dropped by ``kinds``."""
    rows, expected = [], {}
    for r in media.collect():
        data = bytes(r.data)
        if r.kind == "image":
            raw = np.frombuffer(data, dtype=np.uint8)
            w = r.meta.width
            h = len(raw) // w
            expected[r.media_id] = raw[: h * w].reshape(h, w)
            data = multimodal.encode_png(expected[r.media_id])
        rows.append((r.media_id, r.kind, bytearray(data)))
    png_media = spark.createDataFrame(
        rows, "media_id bigint, kind string, data binary"
    )
    decoded = {
        r.media_id: r
        for r in multimodal.decode_media(png_media, kinds=("image",)).collect()
    }
    assert set(decoded) == set(expected)
    for mid, arr in expected.items():
        assert decoded[mid].shape == list(arr.shape)
        np.testing.assert_allclose(
            decoded[mid].pixels, arr.ravel() / 255.0, rtol=1e-12
        )


def test_avi_roundtrip_and_corrupt_containers_fail_loudly(spark):
    from anomaly_detection_iiot_spark.operators import multimodal as m

    frames = [bytes(range(16)), bytes(range(16, 32)), bytes([7] * 15)]
    blob = m.encode_avi(frames, 4, 4)
    meta, got = m.parse_avi(blob)
    assert meta == {"n_frames": 3, "width": 4, "height": 4}
    assert got == frames  # odd-length frame survives alignment padding

    import pytest as _pytest

    with _pytest.raises(ValueError, match="not RIFF"):
        m.parse_avi(b"JUNK" + blob[4:])
    with _pytest.raises(ValueError, match="RIFF length"):
        m.parse_avi(blob[:-2])  # truncated container
    # header/movi mismatch: drop one movi chunk but keep the header
    bad = bytearray(blob)
    # flip total-frames field in avih (offset: RIFF(12) + LIST hdr(8)
    # + 'hdrl'(4) + avih hdr(8) + 4 dwords)
    import struct

    off = 12 + 8 + 4 + 8 + 16
    bad[off:off + 4] = struct.pack("<I", 99)
    with _pytest.raises(ValueError, match="header frame count"):
        m.parse_avi(bytes(bad))


def test_avi_adversarial_nesting_and_trailing_garbage():
    """Depth-safety + strict framing: a deeply nested LIST tower must
    raise ValueError (never RecursionError), and sub-header trailing
    bytes inside a chunk body must fail loudly, not be ignored."""
    import struct
    import pytest as _pytest

    from anomaly_detection_iiot_spark.operators import multimodal as m

    # 5k nested 8-byte LISTs (5× the default recursion limit):
    # LIST(len=4, type only) nested via bodies.
    depth = 5_000
    body = b""
    for _ in range(depth):
        body = b"LIST" + struct.pack("<I", 4 + len(body)) + b"recx" + body
    blob = b"RIFF" + struct.pack("<I", 4 + len(body)) + b"AVI " + body
    # never RecursionError; header-count check fires (no avih → None != 0
    # only if frames... here n_frames missing and 0 frames → None != 0)
    with _pytest.raises(ValueError):
        m.parse_avi(blob)

    # LIST shorter than its 4-byte form type
    tiny = b"LIST" + struct.pack("<I", 2) + b"xx"
    blob2 = b"RIFF" + struct.pack("<I", 4 + len(tiny)) + b"AVI " + tiny
    with _pytest.raises(ValueError, match="form type"):
        m.parse_avi(blob2)

    # trailing sub-header garbage inside the movi body
    frames = [bytes([1] * 16)]
    good = m.encode_avi(frames, 4, 4)
    meta, got = m.parse_avi(good)
    assert got == frames
    garbled = bytearray(good)
    garbled += b"\x00\x00\x00"  # 3 trailing bytes at top level
    garbled[4:8] = struct.pack("<I", len(garbled) - 8)
    with _pytest.raises(ValueError, match="trailing bytes"):
        m.parse_avi(bytes(garbled))

    # in-order frames across nested 'rec ' lists (real AVI interleave)
    def chunk(tag, payload):
        out = tag + struct.pack("<I", len(payload)) + payload
        return out + (b"\x00" if len(payload) % 2 else b"")

    f0, f1, f2 = b"\x01" * 4, b"\x02" * 4, b"\x03" * 4
    avih = struct.pack("<14I", 0, 0, 0, 0, 3, 0, 1, 4, 2, 2, 0, 0, 0, 0)
    hdrl = chunk(b"LIST", b"hdrl" + chunk(b"avih", avih))
    rec = chunk(b"LIST", b"rec " + chunk(b"00db", f0) + chunk(b"00db", f1))
    movi = chunk(b"LIST", b"movi" + rec + chunk(b"00db", f2))
    payload = b"AVI " + hdrl + movi
    nested = b"RIFF" + struct.pack("<I", len(payload)) + payload
    meta2, frames2 = m.parse_avi(nested)
    assert frames2 == [f0, f1, f2]  # stream order preserved through rec list


def test_jpeg_uniform_blocks_roundtrip_exact():
    """DC quant step 8 makes uniform 8x8 blocks lossless: the decoded
    image equals the source integer-exactly after the full real
    pipeline (markers, Huffman, unstuffing, dequant, IDCT)."""
    from anomaly_detection_iiot_spark.operators import multimodal as m

    vals = np.array([0, 7, 127, 128, 200, 255, 13, 99], dtype=np.uint8)
    arr = np.repeat(np.repeat(vals.reshape(-1, 1), 8, axis=0), 8, axis=1)
    dec = m.decode_jpeg(m.encode_jpeg(arr))
    assert dec.shape == arr.shape
    assert np.array_equal(dec, arr)


def test_jpeg_general_content_matches_coefficient_reference():
    """Non-uniform content is lossy, but decode must equal the
    dequant+IDCT of the encoder's own quantized coefficients — an
    independent numpy recomputation, so Huffman/zigzag/marker bugs
    can't hide inside 'acceptable loss'. Also pins crop-back for
    non-multiple-of-8 dims and reasonable error bounds."""
    from anomaly_detection_iiot_spark.operators import multimodal as m

    rng = np.random.default_rng(42)
    img = rng.integers(0, 256, size=(24, 16)).astype(np.uint8)
    dec = m.decode_jpeg(m.encode_jpeg(img))
    C = m._jpeg_dct_matrix()
    Q = m._JPEG_Q.reshape(8, 8)
    for by in range(0, 24, 8):
        for bx in range(0, 16, 8):
            blk = img[by : by + 8, bx : bx + 8].astype(np.float64) - 128
            q = np.rint((C @ blk @ C.T) / Q)
            ref = np.clip(np.rint(C.T @ (q * Q) @ C + 128), 0, 255)
            assert np.array_equal(
                dec[by : by + 8, bx : bx + 8], ref.astype(np.uint8)
            )
    assert np.abs(dec.astype(int) - img.astype(int)).max() <= 40

    odd = rng.integers(0, 256, size=(13, 11)).astype(np.uint8)
    assert m.decode_jpeg(m.encode_jpeg(odd)).shape == (13, 11)


def test_jpeg_rejects_unsupported_and_corrupt_streams():
    from anomaly_detection_iiot_spark.operators import multimodal as m

    img = np.full((8, 8), 42, dtype=np.uint8)
    blob = m.encode_jpeg(img)

    with pytest.raises(ValueError, match="SOI"):
        m.decode_jpeg(b"JUNK" + blob[4:])
    # progressive SOF2 must be a loud NotImplementedError
    prog = bytearray(blob)
    sof_at = blob.index(b"\xff\xc0")
    prog[sof_at + 1] = 0xC2
    with pytest.raises(NotImplementedError, match="baseline"):
        m.decode_jpeg(bytes(prog))
    # multi-component (color) SOF
    color = bytearray(blob)
    ncomp_at = sof_at + 9  # marker(2) + len(2) + prec(1) + h(2) + w(2)
    color[ncomp_at] = 3
    with pytest.raises(NotImplementedError, match="grayscale"):
        m.decode_jpeg(bytes(color))
    # truncated entropy data: the scan hits EOI mid-block
    with pytest.raises(ValueError):
        m.decode_jpeg(blob[:-4] + b"\xff\xd9")


def test_pil_cross_decodes_our_jpeg():
    """Interop: a third-party decoder (libjpeg via Pillow) must read
    our stream-carried Huffman/quant tables and agree — exactly on
    uniform blocks (DC-only), within IDCT-rounding tolerance
    elsewhere. Skipped where Pillow is not installed."""
    Image = pytest.importorskip("PIL.Image")
    import io

    from anomaly_detection_iiot_spark.operators import multimodal as m

    vals = np.array([0, 128, 255, 64], dtype=np.uint8)
    arr = np.repeat(np.repeat(vals.reshape(-1, 1), 8, axis=0), 8, axis=1)
    pil = np.asarray(Image.open(io.BytesIO(m.encode_jpeg(arr))))
    assert np.array_equal(pil, arr)

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(16, 16)).astype(np.uint8)
    ours = m.decode_jpeg(m.encode_jpeg(img))
    pil2 = np.asarray(Image.open(io.BytesIO(m.encode_jpeg(img))))
    assert np.abs(ours.astype(int) - pil2.astype(int)).max() <= 2


def test_decode_media_jpeg_image_and_mjpeg_video(spark):
    """JPEG mapInPandas plumbing: grayscale image decode plus MJPEG
    video (concatenated baseline JPEG frames, split on SOI then
    per-frame stdlib decode)."""
    from anomaly_detection_iiot_spark.operators import multimodal as m

    img = np.repeat(
        np.repeat(np.array([[10], [250]], dtype=np.uint8), 8, axis=0),
        8,
        axis=1,
    )
    f0 = np.full((8, 8), 30, dtype=np.uint8)
    f1 = np.full((8, 8), 200, dtype=np.uint8)
    mjpeg = m.encode_jpeg(f0) + m.encode_jpeg(f1)
    df = spark.createDataFrame(
        [
            (1, "image", bytearray(m.encode_jpeg(img))),
            (2, "video", bytearray(mjpeg)),
            (3, "audio", bytearray(b"\x00" * 8)),  # dropped by kinds
        ],
        "media_id bigint, kind string, data binary",
    )
    rows = {
        r.media_id: r
        for r in m.decode_media(df, kinds=("image", "video")).collect()
    }
    assert set(rows) == {1, 2}
    assert rows[1].shape == [16, 8]
    assert rows[1].pixels[0] == 10 / 255.0
    assert rows[1].pixels[-1] == 250 / 255.0
    assert rows[2].shape == [2, 8, 8]
    assert rows[2].pixels[0] == 30 / 255.0
    assert rows[2].pixels[-1] == 200 / 255.0


def test_decode_media_quarantine_mode(spark):
    """on_error='quarantine': corrupt blobs land in the err column with
    empty pixels, good rows decode normally, the job never dies — the
    media twin of the corrupt-record quarantine. Default mode must
    still fail loudly on the same input."""
    from anomaly_detection_iiot_spark.operators import multimodal as m

    good = np.full((8, 8), 77, dtype=np.uint8)
    df = spark.createDataFrame(
        [
            (1, "image", bytearray(m.encode_jpeg(good))),
            (2, "image", bytearray(b"\xff\xd8 garbage not a jpeg")),
            (3, "image", bytearray(m.encode_jpeg(good))[:-6]),  # truncated
        ],
        "media_id bigint, kind string, data binary",
    )
    rows = {
        r.media_id: r
        for r in m.decode_media(df, on_error="quarantine").collect()
    }
    assert rows[1].err is None and rows[1].shape == [8, 8]
    assert rows[1].pixels[0] == 77 / 255.0
    for bad in (2, 3):
        assert rows[bad].err and rows[bad].pixels == []

    with pytest.raises(
        Exception, match="truncated|expected marker|not a JPEG"
    ):
        m.decode_media(df).collect()

    # png path too
    png_df = spark.createDataFrame(
        [
            (1, "image", bytearray(m.encode_png(good))),
            (2, "image", bytearray(b"not a png at all")),
        ],
        "media_id bigint, kind string, data binary",
    )
    prows = {
        r.media_id: r
        for r in m.decode_media(png_df, on_error="quarantine").collect()
    }
    assert prows[1].err is None and prows[2].err


def test_decode_media_picks_decoder_per_row(spark):
    """One frame holding a PNG, a JPEG, a WAV and an MJPEG row: each
    row's decoder comes from its kind and the blob's signature, and the
    values equal decode_png / decode_jpeg / wave run on the driver."""
    import io
    import wave

    rng = np.random.default_rng(8)
    png = multimodal.encode_png(rng.integers(0, 256, (5, 7), dtype=np.uint8))
    jpeg = multimodal.encode_jpeg(rng.integers(0, 256, (16, 8), dtype=np.uint8))
    wav = _wav(rng.integers(-32768, 32768, 9))
    mjpeg = b"".join(
        multimodal.encode_jpeg(rng.integers(0, 256, (8, 16), dtype=np.uint8))
        for _ in range(3)
    )
    df = spark.createDataFrame(
        [
            (1, "image", bytearray(png)),
            (2, "image", bytearray(jpeg)),
            (3, "audio", bytearray(wav)),
            (4, "video", bytearray(mjpeg)),
        ],
        "media_id bigint, kind string, data binary",
    )
    with wave.open(io.BytesIO(wav)) as w:
        samples = np.frombuffer(w.readframes(w.getnframes()), dtype=np.int16)
    expected = {
        1: multimodal.decode_png(png) / 255.0,
        2: multimodal.decode_jpeg(jpeg) / 255.0,
        3: (samples / 32768.0).reshape(-1, 1),
        4: np.stack(
            [multimodal.decode_jpeg(f)
             for f in multimodal.split_mjpeg_frames(mjpeg)]
        ) / 255.0,
    }
    rows = {r.media_id: r for r in multimodal.decode_media(df).collect()}
    assert set(rows) == set(expected)
    for mid, arr in expected.items():
        assert rows[mid].shape == list(arr.shape), mid
        assert rows[mid].pixels == arr.ravel().tolist(), mid


def test_decode_media_unknown_image_signature(spark):
    """An image blob that is neither PNG nor JPEG raises by default and
    fills ``err`` under quarantine."""
    df = spark.createDataFrame(
        [
            (1, "image", bytearray(b"GIF89a\x01\x00\x01\x00")),
            (2, "image", bytearray(multimodal.encode_png(np.zeros((2, 2), np.uint8)))),
        ],
        "media_id bigint, kind string, data binary",
    )
    with pytest.raises(Exception, match="unknown image signature"):
        multimodal.decode_media(df).collect()
    rows = {
        r.media_id: r
        for r in multimodal.decode_media(df, on_error="quarantine").collect()
    }
    assert rows[1].err.startswith("ValueError: unknown image signature")
    assert rows[1].pixels == [] and rows[1].shape == []
    assert rows[2].err is None and rows[2].shape == [2, 2]


def test_decode_media_quarantines_truncated_wav(spark):
    """A WAV whose data chunk is shorter than its header's frame count,
    or whose header is cut off, is quarantined like a bad image."""
    good = _wav(np.arange(-8, 8) * 1000)
    df = spark.createDataFrame(
        [
            (1, "audio", bytearray(good)),
            (2, "audio", bytearray(good[:-4])),
            (3, "audio", bytearray(good[:20])),
        ],
        "media_id bigint, kind string, data binary",
    )
    rows = {
        r.media_id: r
        for r in multimodal.decode_media(df, on_error="quarantine").collect()
    }
    assert rows[1].err is None and rows[1].shape == [16, 1]
    assert "truncated WAV" in rows[2].err and rows[2].pixels == []
    assert rows[3].err and rows[3].pixels == []
    with pytest.raises(Exception, match="truncated WAV"):
        multimodal.decode_media(df.filter("media_id <= 2")).collect()


def test_decode_avi_frames_mapinpandas(spark):
    from anomaly_detection_iiot_spark.operators import multimodal as m

    frames = [bytes([10] * 16), bytes([20] * 16)]
    df = spark.createDataFrame(
        [(5, bytearray(m.encode_avi(frames, 4, 4)))],
        "media_id long, data binary",
    )
    rows = m.decode_avi_frames(df).orderBy("frame_idx").collect()
    assert [(r.media_id, r.width, r.height, r.frame_idx) for r in rows] == [
        (5, 4, 4, 0), (5, 4, 4, 1),
    ]
    assert rows[0].pixels[0] == 10 / 255.0
    assert rows[1].pixels[0] == 20 / 255.0


def test_mm8_query_runs_on_either_decoder(spark):
    """mm8 decodes its AVI corpus through decode_avi_frames."""
    from anomaly_detection_iiot_spark.queries import REGISTRY

    rows = REGISTRY["mm8_frame_tensor_stats"].fn(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(rows) >= 1
    assert all(r.n_frames >= 1 and 0.0 <= r.mean_px <= 1.0 for r in rows)


def test_media_frame_slices_capped(spark):
    """One slice per blob for a handful of blobs; a large blob list is
    capped at MEDIA_SLICES_PER_CORE slices per core."""
    from anomaly_detection_iiot_spark.queries import media

    cap = media.MEDIA_SLICES_PER_CORE * spark.sparkContext.defaultParallelism
    many = media._media_frame(
        spark, [(i, b"x") for i in range(1000)], "media_id bigint, data binary"
    )
    assert many.rdd.getNumPartitions() == min(1000, cap)
    few = media._media_frame(
        spark, [(i, b"x") for i in range(3)], "media_id bigint, data binary"
    )
    assert few.rdd.getNumPartitions() == 3
