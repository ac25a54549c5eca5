"""Multimodal plumbing: schema/batch shape real, decode deterministic-fake."""

import pytest
from pyspark.sql import functions as F

from leann_rs_spark.operators.multimodal import (
    decode_media,
    duckdb_media_features,
    frame_sample,
    media_from_documents,
    resize_plan,
)

from conftest import SF_SMOKE


@pytest.fixture(scope="module")
def media(spark):
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").filter(
        F.col("doc_id") < 60
    )
    return media_from_documents(docs).cache()


@pytest.fixture(scope="module")
def features(media):
    return decode_media(media).cache()


def test_media_schema(media):
    row = media.head()
    assert isinstance(row["content"], (bytes, bytearray))
    mods = {r["modality"] for r in media.select("modality").distinct().collect()}
    assert mods == {"image", "audio", "video"}


def test_fake_decode_matches_oracle(spark, features, duck):
    got = {
        r["media_id"]: (
            r["modality"], r["n_bytes"], r["fingerprint"],
            r["width"], r["height"], r["duration_ms"],
        )
        for r in features.collect()
    }
    want = {
        int(r[0]): (r[1], int(r[2]), r[3],
                    None if r[4] is None else int(r[4]),
                    None if r[5] is None else int(r[5]),
                    None if r[6] is None else int(r[6]))
        for r in duck.sql(
            duckdb_media_features() + " WHERE doc_id < 60"
        ).fetchall()
    }
    assert got == want


def test_modality_metadata_nulls(features):
    for r in features.collect():
        if r["modality"] == "image":
            assert r["width"] is not None and r["duration_ms"] is None
        elif r["modality"] == "audio":
            assert r["width"] is None and r["duration_ms"] is not None
        else:
            assert r["width"] is not None and r["duration_ms"] is not None


def test_real_engine_total_over_text_bytes(media):
    # text bytes are not any sniffable media format -> NULL fields,
    # rows kept (the real engine is total over dirty corpora)
    rows = decode_media(media.limit(5), engine="real").collect()
    assert len(rows) == 5
    assert all(r["width"] is None and r["duration_ms"] is None for r in rows)
    assert all(r["n_bytes"] > 0 for r in rows)


def test_frame_sample_counts(features):
    frames = frame_sample(features, every_ms=1000, max_frames=32)
    per = frames.groupBy("media_id").agg(
        F.count("*").alias("n"), F.max("timestamp_ms").alias("tmax")
    )
    joined = per.join(features, "media_id").collect()
    assert joined
    for r in joined:
        expect = min(r["duration_ms"] // 1000 + 1, 32)
        assert r["n"] == expect
        assert r["tmax"] == (r["n"] - 1) * 1000


def test_resize_plan_fits_target(features):
    out = resize_plan(features, 224, 224).collect()
    assert out
    for r in out:
        assert 1 <= r["out_w"] <= 224 and 1 <= r["out_h"] <= 224
        assert max(r["out_w"], r["out_h"]) >= 16  # aspect-fit really scaled


# ---------------------------------------------------------------------------
# real engine: header-level decode (format sniffing + stdlib wave)
# ---------------------------------------------------------------------------

def _png(w, h):
    import struct
    import zlib

    ihdr = struct.pack(">II", w, h) + b"\x08\x02\x00\x00\x00"
    chunk = b"IHDR" + ihdr
    return (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", len(ihdr)) + chunk
        + struct.pack(">I", zlib.crc32(chunk))
    )


def _gif(w, h):
    import struct

    return b"GIF89a" + struct.pack("<HH", w, h) + b"\x00" * 6


def _jpeg(w, h):
    import struct

    # SOI + APP0 stub + SOF0 with dims
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
    sof = b"\xff\xc0" + struct.pack(">H", 11) + b"\x08" + struct.pack(">HH", h, w) + b"\x01\x11\x00"
    return b"\xff\xd8" + app0 + sof + b"\xff\xd9"


def _wav(ms, rate=8000):
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(1)
        w.setframerate(rate)
        w.writeframes(b"\x00" * int(rate * ms / 1000))
    return buf.getvalue()


def test_sniffers():
    from leann_rs_spark.operators.multimodal import sniff_image_dims, wav_duration_ms

    assert sniff_image_dims(_png(640, 480)) == (640, 480)
    assert sniff_image_dims(_gif(320, 200)) == (320, 200)
    assert sniff_image_dims(_jpeg(1024, 768)) == (1024, 768)
    assert sniff_image_dims(b"not an image") == (None, None)
    assert sniff_image_dims(b"") == (None, None)
    assert wav_duration_ms(_wav(1500)) == 1500
    assert wav_duration_ms(b"RIFFxxxxWAVEgarbage") is None
    assert wav_duration_ms(b"junk") is None


def test_real_engine_decodes_headers(spark):
    from pyspark.sql import Row

    from leann_rs_spark.operators.multimodal import decode_media

    media = spark.createDataFrame(
        [
            Row(media_id=0, modality="image", content=bytearray(_png(12, 34)), source="a"),
            Row(media_id=1, modality="image", content=bytearray(_jpeg(56, 78)), source="b"),
            Row(media_id=2, modality="audio", content=bytearray(_wav(2500)), source="c"),
            Row(media_id=3, modality="image", content=bytearray(b"corrupt"), source="d"),
            Row(media_id=4, modality="video", content=bytearray(b"novideo"), source="e"),
        ],
        schema="media_id long, modality string, content binary, source string",
    )
    got = {
        r["media_id"]: (r["width"], r["height"], r["duration_ms"], r["n_bytes"])
        for r in decode_media(media, engine="real").collect()
    }
    assert got[0][:2] == (12, 34)
    assert got[1][:2] == (56, 78)
    assert got[2][2] == 2500
    assert got[3][:3] == (None, None, None)  # dirty bytes -> NULLs, row kept
    assert got[4][:3] == (None, None, None)  # no pure-python video codec
    assert all(v[3] > 0 for v in got.values())


# --- real BMP pixel path ---------------------------------------------------

def _gradient_bmp(w, h):
    import numpy as np

    from leann_rs_spark.operators.multimodal import bmp_encode

    arr = np.zeros((h, w, 3), dtype=np.uint8)
    arr[:, :, 0] = (np.arange(h)[:, None] * 255 // max(h - 1, 1))
    arr[:, :, 1] = (np.arange(w)[None, :] * 255 // max(w - 1, 1))
    arr[:, :, 2] = 7
    return arr, bmp_encode(arr)


def test_bmp_roundtrip_identity():
    import numpy as np

    from leann_rs_spark.operators.multimodal import bmp_decode

    arr, blob = _gradient_bmp(13, 9)  # odd width exercises row padding
    back = bmp_decode(blob)
    assert back is not None and np.array_equal(back, arr)


def test_bmp_sniff_dims():
    from leann_rs_spark.operators.multimodal import sniff_image_dims

    _, blob = _gradient_bmp(33, 21)
    assert sniff_image_dims(blob) == (33, 21)


def test_nn_resize_reference():
    import numpy as np

    from leann_rs_spark.operators.multimodal import nn_resize

    arr, _ = _gradient_bmp(10, 6)
    out = nn_resize(arr, 5, 3)
    assert out.shape == (3, 5, 3)
    for i in range(3):
        for j in range(5):
            assert np.array_equal(out[i, j], arr[i * 6 // 3, j * 10 // 5])


def test_resize_images_real_pixels(spark):
    import numpy as np

    from leann_rs_spark.operators.multimodal import bmp_decode, resize_images

    _, big = _gradient_bmp(64, 32)
    _, small = _gradient_bmp(8, 8)
    media = spark.createDataFrame(
        [(1, bytearray(big)), (2, bytearray(small)), (3, bytearray(b"not a bmp"))],
        "media_id bigint, content binary",
    )
    rows = {r["media_id"]: r for r in resize_images(media, 16, 16).collect()}
    assert rows[1]["width"] == 64 and rows[1]["height"] == 32
    assert (rows[1]["out_w"], rows[1]["out_h"]) == (16, 8)  # aspect fit
    out1 = bmp_decode(bytes(rows[1]["content"]))
    assert out1.shape == (8, 16, 3)
    # upscale-capped: 8x8 fits within 16x16 -> scale 2
    assert (rows[2]["out_w"], rows[2]["out_h"]) == (16, 16)
    # dirty bytes keep their row with NULL output
    assert rows[3]["content"] is None and rows[3]["out_w"] is None


def test_bmp_corrupt_headers_rejected():
    from leann_rs_spark.operators.multimodal import bmp_decode, sniff_image_dims

    _, blob = _gradient_bmp(6, 4)
    neg_w = bytearray(blob)
    neg_w[18:22] = (-100).to_bytes(4, "little", signed=True)
    assert sniff_image_dims(bytes(neg_w)) == (None, None)
    assert bmp_decode(bytes(neg_w)) is None
    bad_off = bytearray(blob)
    bad_off[10:14] = (2).to_bytes(4, "little")  # pixel data inside header
    assert bmp_decode(bytes(bad_off)) is None


# --- PIL-widened decode tier (pypdf pattern) --------------------------------

class _FakePILImage:
    """Minimal PIL.Image shim: open() parses BMP via our own kernel,
    so the PIL code path executes for real in a container without
    Pillow. Tests pin that (a) decode_image routes through PIL when
    importable and (b) results equal the no-PIL tier — the determinism
    contract that lets the two tiers coexist in one fleet."""

    calls = 0

    class _Im:
        def __init__(self, arr):
            self._arr = arr

        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

        def convert(self, mode):
            assert mode == "RGB"
            return self

        def __array__(self, dtype=None, copy=None):
            import numpy as np

            return np.asarray(self._arr, dtype=dtype)

    @classmethod
    def open(cls, fh):
        from leann_rs_spark.operators.multimodal import bmp_decode

        cls.calls += 1
        arr = bmp_decode(fh.read())
        if arr is None:
            raise OSError("cannot identify image file")
        return cls._Im(arr)


def _with_fake_pil(monkeypatch):
    import sys
    import types

    pil = types.ModuleType("PIL")
    pil.Image = _FakePILImage
    monkeypatch.setitem(sys.modules, "PIL", pil)
    monkeypatch.setitem(sys.modules, "PIL.Image", _FakePILImage)


def test_decode_image_without_pil_is_bmp_kernel():
    import numpy as np

    from leann_rs_spark.operators.multimodal import (
        bmp_decode,
        decode_image,
        pil_image,
    )

    assert pil_image() is None  # this container has no Pillow
    arr, blob = _gradient_bmp(13, 9)
    assert np.array_equal(decode_image(blob), bmp_decode(blob))
    assert decode_image(b"not an image") is None


def test_decode_image_with_pil_routes_and_matches(monkeypatch):
    import numpy as np

    from leann_rs_spark.operators import multimodal

    arr, blob = _gradient_bmp(13, 9)
    without = multimodal.decode_image(blob)
    _with_fake_pil(monkeypatch)
    assert multimodal.pil_image() is _FakePILImage
    before = _FakePILImage.calls
    with_pil = multimodal.decode_image(blob)
    assert _FakePILImage.calls == before + 1  # PIL tier actually ran
    assert np.array_equal(with_pil, without) and np.array_equal(with_pil, arr)


def test_decode_image_pil_failure_falls_back(monkeypatch):
    import numpy as np

    from leann_rs_spark.operators import multimodal

    _with_fake_pil(monkeypatch)
    arr, blob = _gradient_bmp(8, 8)

    def boom(fh):
        raise OSError("no codec")

    monkeypatch.setattr(_FakePILImage, "open", boom)
    assert np.array_equal(multimodal.decode_image(blob), arr)


def test_real_ahash_kernel_both_tiers(monkeypatch):
    from leann_rs_spark.operators import multimodal

    arr, blob = _gradient_bmp(32, 24)
    h_no_pil = multimodal.real_ahash_py(blob)
    assert isinstance(h_no_pil, int) and 0 < h_no_pil < 2**63
    assert multimodal.real_ahash_py(b"junk") is None
    _with_fake_pil(monkeypatch)
    assert multimodal.real_ahash_py(blob) == h_no_pil  # tier-invariant


def test_media_ahash_real_engine(spark):
    from leann_rs_spark.operators.multimodal import media_ahash, real_ahash_py

    _, blob_a = _gradient_bmp(32, 24)
    _, blob_b = _gradient_bmp(16, 12)
    media = spark.createDataFrame(
        [(1, bytearray(blob_a)), (2, bytearray(blob_b)), (3, bytearray(b"x"))],
        "media_id long, content binary",
    )
    rows = {r["media_id"]: r["ahash"]
            for r in media_ahash(media, engine="real").collect()}
    assert rows[1] == real_ahash_py(blob_a)
    assert rows[2] == real_ahash_py(blob_b)
    assert rows[3] is None
    # same gradient at two scales: nn-resize to the same 8x8 grid makes
    # the perceptual hashes near-identical (that is the point of aHash)
    assert bin(rows[1] ^ rows[2]).count("1") <= 8


def _output_rows(df, node):
    """Collect `df`, then sum numOutputRows over the `node` nodes (e.g.
    "Generate") of its executed plan, AQE query stages included."""
    df.collect()
    total = 0

    def walk(p):
        nonlocal total
        name = p.nodeName()
        if name == "AdaptiveSparkPlan":
            return walk(p.executedPlan())
        if name.endswith("QueryStage"):
            return walk(p.plan())
        if name == node:
            total += p.metrics().apply("numOutputRows").value()
        kids = p.children()
        for i in range(kids.size()):
            walk(kids.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return total


def test_media_ahash_near_dups_real_skips_undecodable(spark):
    """Undecodable images hash to NULL; they must neither pair nor reach
    the band explode, where NULL hashes would all share one bucket per
    band (bands·N²/2 candidates for N undecodable blobs)."""
    from leann_rs_spark.operators.multimodal import media_ahash_near_dups

    _, blob_a = _gradient_bmp(32, 24)
    _, blob_b = _gradient_bmp(16, 12)
    junk = [(10 + i, bytearray(b"junk%d" % i)) for i in range(30)]
    media = spark.createDataFrame(
        [(1, bytearray(blob_a)), (2, bytearray(blob_b))] + junk,
        "media_id long, content binary",
    )
    pairs = media_ahash_near_dups(media, engine="real", max_hamming=6, bands=7)
    # two self-join sides × the 2 decodable images × 7 bands
    assert _output_rows(pairs, "Generate") == 2 * 2 * 7
    assert [(r["id_a"], r["id_b"]) for r in pairs.collect()] == [(1, 2)]


# --- GIF: pure-Python scan / LZW decode / encode + frame extraction --------

def _rand_gif(n_frames=3, w=14, h=10, n_colors=16, seed=7):
    import numpy as np

    from leann_rs_spark.operators.multimodal import gif_encode

    rng = np.random.RandomState(seed)
    palette = rng.randint(0, 256, (n_colors, 3)).astype(np.uint8)
    frames = [
        palette[rng.randint(0, n_colors, (h, w))] for _ in range(n_frames)
    ]
    delays = [100 * (i + 1) for i in range(n_frames)]
    return frames, delays, gif_encode(frames, delays)


def test_gif_scan_metadata():
    from leann_rs_spark.operators.multimodal import gif_scan

    _, delays, blob = _rand_gif()
    assert gif_scan(blob) == (delays, 14, 10)
    assert gif_scan(b"not a gif") is None
    assert gif_scan(blob[:20]) is None  # truncated block stream


def test_gif_encode_decode_roundtrip_exact():
    import numpy as np

    from leann_rs_spark.operators.multimodal import gif_decode_frames

    frames, _, blob = _rand_gif()
    dec = gif_decode_frames(blob)
    assert len(dec) == len(frames)
    for a, b in zip(frames, dec):
        assert np.array_equal(a, b)
    # multi-subblock + periodic CLEAR codes (>254 literals per frame)
    big_frames, _, big_blob = _rand_gif(n_frames=1, w=64, h=64, seed=3)
    assert np.array_equal(gif_decode_frames(big_blob)[0], big_frames[0])
    assert gif_decode_frames(b"GIF89a garbage") is None


def test_gif_interlaced_decode():
    """Interlace scatters stream rows through the 8/8/4/2 pass
    sequence: for h=4 that is [0, 2, 1, 3]. Encode the rows in stream
    order, flip the interlace bit, and expect the logical image."""
    import numpy as np

    from leann_rs_spark.operators.multimodal import (
        gif_decode_frames,
        gif_encode,
    )

    rows = np.arange(4 * 6 * 3, dtype=np.uint8).reshape(4, 6, 3) % 16
    seq = [0, 2, 1, 3]
    stream_order = rows[seq]
    blob = bytearray(gif_encode([stream_order], [0]))
    # image descriptor follows header(6)+lsd(7)+gct(768)+gce(8): flag
    # byte is at offset 6+7+768+8+9
    idx = 6 + 7 + 768 + 8 + 9
    assert blob[6 + 7 + 768 + 8] == 0x2C
    blob[idx] |= 0x40
    dec = gif_decode_frames(bytes(blob))
    assert dec is not None and np.array_equal(dec[0], rows)


def test_gif_transparency_composites_over_previous_frame():
    """A transparent index in frame 2 must keep frame 1's pixels —
    hand-assemble the GCE transparency flag over an encoder blob."""
    import numpy as np

    from leann_rs_spark.operators.multimodal import (
        gif_decode_frames,
        gif_encode,
    )

    a = np.full((4, 4, 3), 10, dtype=np.uint8)
    b = np.full((4, 4, 3), 200, dtype=np.uint8)
    b[0, 0] = 10  # palette will hold both colors
    blob = bytearray(gif_encode([a, b], [0, 0]))
    # second GCE: locate the 2nd 0x21 0xF9 pair
    pos = blob.index(b"\x21\xf9", blob.index(b"\x21\xf9") + 2)
    # find color 10's palette index (palette starts at 13)
    pal = np.frombuffer(bytes(blob[13 : 13 + 768]), dtype=np.uint8).reshape(
        256, 3
    )
    t_idx = int(np.where((pal == [10, 10, 10]).all(axis=1))[0][0])
    blob[pos + 3] |= 0x01  # transparency flag
    blob[pos + 6] = t_idx  # transparent index
    dec = gif_decode_frames(bytes(blob))
    assert np.array_equal(dec[0], a)
    # frame 2: color-10 cells (only b[0,0]) show frame 1's pixel
    expect = b.copy()
    expect[0, 0] = a[0, 0]
    assert np.array_equal(dec[1], expect)


def test_gif_frames_py_tiers_match(monkeypatch):
    """Pixel bytes must be identical from the PIL tier and the pure
    LZW tier (the shim decodes GIFs with our own decoder, pinning the
    ROUTING — open/seek/convert — not the codec)."""
    import numpy as np

    from leann_rs_spark.operators import multimodal

    frames, delays, blob = _rand_gif()
    pure = multimodal.gif_frames_py(blob)
    assert pure is not None
    d, w, h, blobs = pure
    assert (d, w, h) == (delays, 14, 10)
    for arr, bmp in zip(frames, blobs):
        assert np.array_equal(multimodal.bmp_decode(bmp), arr)

    class _GifIm:
        def __init__(self, arrs):
            self._arrs = arrs
            self._i = 0

        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

        def seek(self, i):
            self._i = i

        def convert(self, mode):
            assert mode == "RGB"
            return self._arrs[self._i]

    class _GifPIL:
        calls = 0

        @classmethod
        def open(cls, fh):
            cls.calls += 1
            arrs = multimodal.gif_decode_frames(fh.read())
            if arrs is None:
                raise OSError("cannot identify image file")
            return _GifIm(arrs)

    import sys
    import types

    pil = types.ModuleType("PIL")
    pil.Image = _GifPIL
    monkeypatch.setitem(sys.modules, "PIL", pil)
    monkeypatch.setitem(sys.modules, "PIL.Image", _GifPIL)
    before = _GifPIL.calls
    with_pil = multimodal.gif_frames_py(blob)
    assert _GifPIL.calls == before + 1  # PIL tier actually ran
    assert with_pil == pure  # byte-identical frames + metadata


def test_extract_gif_frames_spark(spark):
    import numpy as np

    from leann_rs_spark.operators.multimodal import (
        bmp_decode,
        extract_gif_frames,
    )

    frames, delays, blob = _rand_gif()
    media = spark.createDataFrame(
        [(1, bytearray(blob)), (2, bytearray(b"junk"))],
        "media_id long, content binary",
    )
    out = extract_gif_frames(media).orderBy("frame_index").collect()
    assert [r["media_id"] for r in out] == [1, 1, 1]
    assert [r["frame_index"] for r in out] == [0, 1, 2]
    # presentation timestamps: cumulative prior delays
    assert [r["timestamp_ms"] for r in out] == [0, 100, 300]
    assert {(r["width"], r["height"]) for r in out} == {(14, 10)}
    for r, arr in zip(out, frames):
        assert np.array_equal(bmp_decode(bytes(r["content"])), arr)


def test_extract_gif_frames_caps_and_decode_media_duration(spark):
    from leann_rs_spark.operators.multimodal import (
        decode_media,
        extract_gif_frames,
    )

    _, _, blob = _rand_gif(n_frames=5)
    media = spark.createDataFrame(
        [(1, "video", bytearray(blob), "s")],
        "media_id long, modality string, content binary, source string",
    )
    assert extract_gif_frames(media, max_frames=2).count() == 2
    feat = decode_media(media, engine="real").collect()[0]
    # real video tier: duration = sum of GIF frame delays, dims real
    assert feat["duration_ms"] == 100 + 200 + 300 + 400 + 500
    assert (feat["width"], feat["height"]) == (14, 10)


# --- Audio: real WAV decode / features / energy-hash near-dup ---------------

def _sine_wav(freq=440.0, secs=2.0, amp=0.5, rate=8000):
    import numpy as np

    from leann_rs_spark.operators.multimodal import wav_encode

    t = np.arange(int(rate * secs)) / rate
    x = amp * np.sin(2 * np.pi * freq * t)
    return x, wav_encode(x, rate)


def test_wav_codec_roundtrip_and_tiers():
    import numpy as np

    from leann_rs_spark.operators.multimodal import wav_decode, wav_encode

    x, blob = _sine_wav()
    y, rate = wav_decode(blob)
    assert rate == 8000 and len(y) == len(x)
    assert float(np.abs(y - x).max()) < 1e-4  # 16-bit quantization
    assert wav_decode(b"junk") is None
    assert wav_decode(b"RIFFxxxxWAVE") is None  # truncated
    # stereo averages to mono: interleave x with zeros → x/2
    import io
    import wave

    buf = io.BytesIO()
    pcm = (np.stack([x, np.zeros_like(x)], axis=1) * 32767).astype("<i2")
    with wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(pcm.tobytes())
    y2, _ = wav_decode(buf.getvalue())
    assert float(np.abs(y2 - x / 2).max()) < 1e-4


def test_audio_features_real_signal_math():
    from leann_rs_spark.operators.multimodal import audio_features_py

    x, blob = _sine_wav(freq=440, secs=2, amp=0.5)
    f = audio_features_py(blob)
    assert f["duration_ms"] == 2000
    assert abs(f["rms"] - 0.5 / 2 ** 0.5) < 1e-3  # sine RMS = A/√2
    assert abs(f["peak"] - 0.5) < 1e-3
    assert f["silence_ratio"] == 0.0
    assert abs(f["spectral_centroid_hz"] - 440) < 5
    # half the clip silent → silence_ratio ≈ 0.5
    import numpy as np

    from leann_rs_spark.operators.multimodal import wav_encode

    half = np.concatenate([x[:8000], np.zeros(8000)])
    f2 = audio_features_py(wav_encode(half, 8000))
    assert 0.45 < f2["silence_ratio"] < 0.55
    assert audio_features_py(b"not audio") is None


def test_audio_energy_hash_locality():
    import numpy as np

    from leann_rs_spark.operators.multimodal import (
        audio_energy_hash_py,
        wav_encode,
    )

    x, blob = _sine_wav()
    h = audio_energy_hash_py(blob)
    assert isinstance(h, int) and 0 < h < 2 ** 63
    # gain scaling preserves the envelope shape → tiny Hamming distance
    h_gain = audio_energy_hash_py(wav_encode(x * 0.7, 8000))
    assert bin(h ^ h_gain).count("1") <= 2
    # unrelated noise → far
    rng = np.random.RandomState(0)
    h_noise = audio_energy_hash_py(wav_encode(rng.randn(16000) * 0.2, 8000))
    assert bin(h ^ h_noise).count("1") > 10
    assert audio_energy_hash_py(b"junk") is None


def test_audio_features_real_engine_spark(spark):
    from leann_rs_spark.operators.multimodal import (
        audio_features,
        audio_features_py,
    )

    _, blob = _sine_wav()
    media = spark.createDataFrame(
        [(1, bytearray(blob)), (2, bytearray(b"junk"))],
        "media_id long, content binary",
    )
    rows = {r["media_id"]: r
            for r in audio_features(media, engine="real").collect()}
    ref = audio_features_py(blob)
    assert rows[1]["duration_ms"] == ref["duration_ms"]
    assert rows[1]["rms_r"] == round(ref["rms"], 6)
    assert rows[1]["centroid_hz_r"] == round(ref["spectral_centroid_hz"], 6)
    assert rows[2]["rms_r"] is None  # undecodable keeps its row, NULL


def test_audio_near_dups_spark(spark):
    import numpy as np

    from leann_rs_spark.operators.multimodal import (
        audio_near_dups,
        wav_encode,
    )

    x, blob = _sine_wav()
    rng = np.random.RandomState(1)
    media = spark.createDataFrame(
        [
            (1, bytearray(blob)),
            (2, bytearray(wav_encode(x * 0.8, 8000))),  # gain copy
            (3, bytearray(wav_encode(rng.randn(16000) * 0.2, 8000))),
            (4, bytearray(b"junk")),  # undecodable: excluded, no pair
        ],
        "media_id long, content binary",
    )
    pairs = {(r["id_a"], r["id_b"]) for r in audio_near_dups(media).collect()}
    assert (1, 2) in pairs
    assert all(4 not in p for p in pairs)
    assert all(3 not in p for p in pairs)


# --- Video: per-frame aHash + frame-aligned near-dup -------------------------

def test_video_near_dups_spark(spark):
    import numpy as np

    from leann_rs_spark.operators.multimodal import (
        gif_encode,
        video_frame_hashes,
        video_near_dups,
    )

    rng = np.random.RandomState(11)
    palette = (rng.randint(0, 30, (16, 3)) * 8).astype(np.uint8)
    frames = [palette[rng.randint(0, 16, (12, 16))] for _ in range(4)]
    vid_a = gif_encode(frames, [100] * 4)
    # brightness-shifted re-encode: aHash is invariant to uniform shifts
    frames_b = [np.clip(f.astype(np.int32) + 8, 0, 255).astype(np.uint8)
                for f in frames]
    vid_b = gif_encode(frames_b, [100] * 4)
    # unrelated clip
    other = [palette[rng.randint(0, 16, (12, 16))] for _ in range(4)]
    vid_c = gif_encode(other, [100] * 4)
    media = spark.createDataFrame(
        [(1, bytearray(vid_a)), (2, bytearray(vid_b)),
         (3, bytearray(vid_c)), (4, bytearray(b"not video"))],
        "media_id long, content binary",
    )
    fh = video_frame_hashes(media).collect()
    assert {r["media_id"] for r in fh} == {1, 2, 3}
    assert all(r["n_frames"] == 4 for r in fh)
    pairs = {(r["id_a"], r["id_b"]): r for r in video_near_dups(media).collect()}
    assert (1, 2) in pairs
    assert pairs[(1, 2)]["match_frac"] == 1.0
    assert all(3 not in p and 4 not in p for p in pairs)


def test_resample_audio_preserves_signal():
    import numpy as np

    from leann_rs_spark.operators.multimodal import (
        audio_features_py,
        resample_audio_py,
        wav_decode,
    )

    x, blob = _sine_wav(freq=440, secs=1.0, rate=8000)
    up = resample_audio_py(blob, 16000)
    y, rate = wav_decode(up)
    assert rate == 16000 and len(y) == 16000
    f = audio_features_py(up)
    # tone, level and duration survive the rate change
    assert abs(f["spectral_centroid_hz"] - 440) < 10
    assert abs(f["rms"] - 0.5 / 2 ** 0.5) < 5e-3
    assert f["duration_ms"] == 1000
    # downsample below Nyquist-safe still keeps the 440 Hz tone
    down = resample_audio_py(blob, 2000)
    fd = audio_features_py(down)
    assert abs(fd["spectral_centroid_hz"] - 440) < 25
    assert resample_audio_py(b"junk", 16000) is None
    # same-rate passthrough re-encodes losslessly (16-bit grid)
    same, _ = wav_decode(resample_audio_py(blob, 8000))
    assert float(np.abs(same - wav_decode(blob)[0]).max()) < 1e-9


def test_resample_audio_spark(spark):
    from leann_rs_spark.operators.multimodal import resample_audio, wav_decode

    _, blob = _sine_wav(secs=0.5, rate=8000)
    media = spark.createDataFrame(
        [(1, bytearray(blob)), (2, bytearray(b"junk"))],
        "media_id long, content binary",
    )
    rows = {r["media_id"]: r
            for r in resample_audio(media, target_rate=4000).collect()}
    assert rows[1]["src_rate"] == 8000
    assert rows[1]["n_samples_out"] == 2000
    y, rate = wav_decode(bytes(rows[1]["content"]))
    assert rate == 4000 and len(y) == 2000
    assert rows[2]["content"] is None  # undecodable keeps its row


def test_resample_downsample_antialiases_above_nyquist_tone():
    """A 3 kHz tone downsampled 8 k→2 k (target Nyquist 1 kHz) must
    ATTENUATE, not fold to 1 kHz: post-filter energy ≈ 0. The upsample
    path stays filter-free and bit-identical to plain np.interp; the
    reported n_samples_out needs no re-decode (resample_n_out)."""
    import numpy as np

    from leann_rs_spark.operators.multimodal import (
        resample_audio_py,
        resample_n_out,
        wav_decode,
        wav_encode,
    )

    _, blob = _sine_wav(freq=3000, secs=1.0, rate=8000)
    down, rate = wav_decode(resample_audio_py(blob, 2000))
    assert rate == 2000 and len(down) == resample_n_out(8000, 8000, 2000)
    in_rms = float(np.sqrt(np.mean(wav_decode(blob)[0] ** 2)))
    out_rms = float(np.sqrt(np.mean(down ** 2)))
    # without the low-pass this folds to a full-level 1 kHz tone
    # (out_rms ≈ in_rms); the 63-tap sinc kills it by >20 dB
    assert out_rms < in_rms * 0.1

    # an in-band tone survives the same downsample at full level
    _, keep_blob = _sine_wav(freq=440, secs=1.0, rate=8000)
    kept, _ = wav_decode(resample_audio_py(keep_blob, 2000))
    kept_rms = float(np.sqrt(np.mean(kept ** 2)))
    assert abs(kept_rms - in_rms) < 0.02

    # upsample path: exactly np.interp of the decoded input (no filter)
    x, _ = wav_decode(blob)
    n_out = resample_n_out(len(x), 8000, 16000)
    want = np.interp(
        np.arange(n_out) * (8000 / 16000), np.arange(len(x)), x
    )
    got, _ = wav_decode(resample_audio_py(blob, 16000))
    assert float(np.abs(got - wav_decode(wav_encode(want, 16000))[0]).max()) == 0.0

    # one-sample clip survives the filter guard
    one = wav_encode([0.25], 8000)
    y, r2 = wav_decode(resample_audio_py(one, 4000))
    assert r2 == 4000 and len(y) == 1


def test_audio_features_real_custom_id_col(spark):
    """engine='real' with a non-default id_col (ADVICE r6: the kernel
    read r[id_col] after the select had aliased it to media_id)."""
    from leann_rs_spark.operators.multimodal import audio_features

    _, blob = _sine_wav(freq=440, secs=0.25, rate=8000)
    media = spark.createDataFrame(
        [(7, bytearray(blob))], "clip_id long, content binary"
    )
    rows = audio_features(media, id_col="clip_id", engine="real").collect()
    assert len(rows) == 1 and rows[0]["media_id"] == 7
    assert abs(rows[0]["centroid_hz_r"] - 440) < 10


def test_video_near_dups_fake_tier_planted(spark):
    """engine='fake': a 1-char edit perturbs exactly one frame slice,
    so the planted copy matches on the untouched frames and the pair
    survives the shorter-clip fraction gate; unrelated clips pair with
    nothing. Variable per-row n_frames exercises least(na, nb)."""
    from pyspark.sql import functions as F

    from leann_rs_spark.operators.multimodal import video_near_dups

    texts = {
        1: "the quick brown fox jumps over the lazy dog " * 8,
        3: "completely different content about spark shuffles " * 8,
    }
    rows = [(i, t.encode()) for i, t in texts.items()]
    rows += [(100 + i, (t[:9] + "Z" + t[10:]).encode()) for i, t in texts.items()]
    media = spark.createDataFrame(
        [(i, bytearray(b)) for i, b in rows], "media_id long, content binary"
    )
    nf = F.lit(2) + F.length(F.decode("content", "UTF-8")) % 3
    pairs = {
        (r["id_a"], r["id_b"]): r
        for r in video_near_dups(media, engine="fake", n_frames=nf).collect()
    }
    assert (1, 101) in pairs and (3, 103) in pairs
    assert (1, 3) not in pairs and (1, 103) not in pairs
    for k in [(1, 101), (3, 103)]:
        assert pairs[k]["match_frac"] >= 0.5
