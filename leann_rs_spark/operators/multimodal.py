"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

No reference counterpart (the reference is text-only; SURVEY §2.5) —
this is part of the LLM-data-pipeline surface designed for 100 TB. The
pattern: media lives in a `content BINARY` column with a `modality`
discriminator and a typed metadata struct; decode / feature-extract /
resize / frame-sample run as Arrow-batched `mapInPandas` stages so the
bytes never leave the executor and flow batch-at-a-time, never
row-at-a-time.

Decode tiers (no remaining stubs):

- `decode_media(..., engine="real")` does real decoding with what this
  container has: format sniffers + PIL (when importable) for image
  dims, the stdlib wave reader for WAV duration, a pure-Python GIF
  block walker (`gif_scan`) for video frame count/timing, PIL for GIF
  frame pixels (`extract_gif_frames`), and our own numpy kernels for
  all pixel math (BMP codec, nn_resize, aHash) so results are
  identical with and without PIL for formats both tiers decode.
  Full libav-class codecs (MP4/H.264, MP3, …) would slot in behind
  the same functions.
- `decode_media(..., engine="fake")` (default) produces DETERMINISTIC
  FAKE decode metadata derived from the content bytes (md5-seeded), so
  the Spark-side plumbing — schema, UDF signature, Arrow batch shape,
  partition behavior — is real and testable end-to-end, and an oracle
  can replay it in SQL.

Scale: content bytes dominate row size, so feature extraction selects
(id, modality, content) only — column pruning keeps the metadata-only
consumers from ever reading the blob column; store media Parquet with a
small `spark.sql.files.maxPartitionBytes` (blobs compress poorly) and
partition by modality so per-modality pipelines prune files.

Near-dup pairs (image aHash, audio energy hash, video frame hashes)
are packed-long sketch builders around the banded-LSH core in
operators/dedup.py: `media_ahash_near_dups` and `audio_near_dups` run
its `_packed_near_dups` path (the one SimHash uses); `video_near_dups`
bands with `_packed_bands` and self-joins per frame position.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F, types as T

from leann_rs_spark.operators.dedup import (
    _duckdb_bands, _duckdb_packed_bb, _packed_bands, _packed_near_dups,
    _pigeonhole, _self_pairs,
)

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("modality", T.StringType(), False),  # image|audio|video|text
        T.StructField("content", T.BinaryType(), True),
        T.StructField("source", T.StringType(), True),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("modality", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("fingerprint", T.StringType(), False),  # md5 hex
        T.StructField("width", T.IntegerType(), True),  # image/video
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),  # audio/video
    ]
)


def media_from_documents(docs: DataFrame) -> DataFrame:
    """Adapter for the driver's text-only tables: treat each document's
    UTF-8 bytes as an opaque blob, round-robin modalities by id. Lets
    every multimodal stage run against deterministic test bytes."""
    modality = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    return docs.select(
        F.col("doc_id").alias("media_id"),
        modality.alias("modality"),
        F.encode(F.col("text"), "UTF-8").alias("content"),
        F.col("source"),
    )


def _fake_dims(digest: str) -> tuple[int, int]:
    # md5-derived, bounded like real frame sizes; globally deterministic
    w = 16 + int(digest[:8], 16) % 1920
    h = 16 + int(digest[8:16], 16) % 1080
    return w, h


def _fake_duration(digest: str) -> int:
    return int(digest[16:24], 16) % 600_000  # < 10 min


# --- real-engine header parsers (pure Python / stdlib; same spirit as
# the PDF extractor: PIL when importable, format sniffing otherwise) ---

try:  # pragma: no cover - environment-dependent
    from PIL import Image as _PILImage  # type: ignore

    _HAVE_PIL = True
except Exception:
    _HAVE_PIL = False


def sniff_image_dims(content: bytes) -> tuple[int | None, int | None]:
    """(width, height) from PNG/GIF/JPEG headers; PIL for anything else
    when importable; (None, None) on unknown/corrupt bytes."""
    try:
        if content[:8] == b"\x89PNG\r\n\x1a\n" and content[12:16] == b"IHDR":
            return (
                int.from_bytes(content[16:20], "big"),
                int.from_bytes(content[20:24], "big"),
            )
        if content[:6] in (b"GIF87a", b"GIF89a"):
            return (
                int.from_bytes(content[6:8], "little"),
                int.from_bytes(content[8:10], "little"),
            )
        if content[:2] == b"\xff\xd8":  # JPEG: walk segments to a SOFn
            i, n = 2, len(content)
            while i + 9 < n and content[i] == 0xFF:
                marker = content[i + 1]
                if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                    i += 2
                    continue
                seg_len = int.from_bytes(content[i + 2 : i + 4], "big")
                if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                    return (
                        int.from_bytes(content[i + 7 : i + 9], "big"),
                        int.from_bytes(content[i + 5 : i + 7], "big"),
                    )
                i += 2 + seg_len
        if content[:2] == b"BM" and len(content) >= 26:
            bw = int.from_bytes(content[18:22], "little", signed=True)
            bh = int.from_bytes(content[22:26], "little", signed=True)
            # negative width / zero height are spec-invalid — fall
            # through to the (None, None) corrupt-bytes contract
            if bw > 0 and bh != 0:
                return bw, abs(bh)
            return None, None
        if _HAVE_PIL:
            import io

            with _PILImage.open(io.BytesIO(content)) as im:
                return im.width, im.height
    except Exception:
        pass
    return None, None


def wav_duration_ms(content: bytes) -> int | None:
    """Duration of a RIFF/WAVE blob via the stdlib wave reader; None on
    anything else."""
    if content[:4] != b"RIFF" or content[8:12] != b"WAVE":
        return None
    import io
    import wave

    try:
        with wave.open(io.BytesIO(content)) as w:
            rate = w.getframerate()
            if rate <= 0:
                return None
            return int(w.getnframes() * 1000 / rate)
    except Exception:
        return None


def gif_scan(content: bytes) -> tuple[list[int], int, int] | None:
    """Pure-Python GIF block walker → (per-frame delays in ms, width,
    height); None on non-GIF/corrupt bytes. This is the SINGLE source
    of frame-count/timing truth for BOTH decode tiers (PIL supplies
    only pixels), so frame indices and timestamps are tier-invariant
    by construction. Walks: logical screen descriptor (+ global color
    table), 0x21 extensions (Graphic Control delay = hundredths of a
    second for the NEXT image), 0x2C image descriptors (+ local color
    table + LZW sub-blocks), 0x3B trailer."""
    try:
        if content[:6] not in (b"GIF87a", b"GIF89a") or len(content) < 13:
            return None
        w = int.from_bytes(content[6:8], "little")
        h = int.from_bytes(content[8:10], "little")
        flags = content[10]
        i = 13
        if flags & 0x80:
            i += 3 * (2 ** ((flags & 0x07) + 1))
        delays: list[int] = []
        pending = 0
        n = len(content)
        while i < n:
            b = content[i]
            if b == 0x3B:  # trailer
                break
            if b == 0x21:  # extension: label then sub-blocks
                label = content[i + 1]
                i += 2
                if label == 0xF9 and i + 3 < n and content[i] >= 4:
                    pending = int.from_bytes(content[i + 2 : i + 4], "little") * 10
                while i < n and content[i] != 0:
                    i += 1 + content[i]
                i += 1
            elif b == 0x2C:  # image descriptor
                delays.append(pending)
                pending = 0
                lflags = content[i + 9]
                i += 10
                if lflags & 0x80:
                    i += 3 * (2 ** ((lflags & 0x07) + 1))
                i += 1  # LZW minimum code size
                while i < n and content[i] != 0:
                    i += 1 + content[i]
                i += 1
            else:
                return None  # corrupt block stream
        return (delays, w, h) if delays else None
    except Exception:
        return None


def _lzw_decode(min_code_size: int, data: bytes, npix: int) -> bytes | None:
    """GIF-variant LZW: LSB-first bit packing, CLEAR/END codes, code
    width grows at table size 2^width up to 12 bits. Returns the index
    stream (npix bytes) or None on a corrupt stream."""
    clear = 1 << min_code_size
    end = clear + 1
    base = {i: bytes([i]) for i in range(clear)}
    table = dict(base)
    code_size = min_code_size + 1
    next_code = end + 1
    out = bytearray()
    prev: bytes | None = None
    bitpos = 0
    total = len(data) * 8
    while bitpos + code_size <= total and len(out) < npix:
        byte_i = bitpos >> 3
        chunk = int.from_bytes(data[byte_i : byte_i + 4], "little")
        code = (chunk >> (bitpos & 7)) & ((1 << code_size) - 1)
        bitpos += code_size
        if code == clear:
            table = dict(base)
            code_size = min_code_size + 1
            next_code = end + 1
            prev = None
            continue
        if code == end:
            break
        if prev is None:
            entry = table.get(code)
            if entry is None:
                return None
        elif code in table:
            entry = table[code]
        elif code == next_code:
            entry = prev + prev[:1]
        else:
            return None
        if prev is not None and next_code < 4096:
            table[next_code] = prev + entry[:1]
            next_code += 1
            if next_code == (1 << code_size) and code_size < 12:
                code_size += 1
        out += entry
        prev = entry
    return bytes(out[:npix]) if len(out) >= npix else None


_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def gif_decode_frames(content: bytes, max_frames: int | None = None):
    """Pure-Python GIF pixel decoder → list of HxWx3 uint8 RGB frames
    (each the full logical-screen canvas after compositing), or None on
    non-GIF/corrupt bytes. Handles global/local palettes, interlacing,
    transparency, and disposal methods 0-2 (3, restore-to-previous, is
    treated as leave-in-place — a documented approximation; it is rare
    and disposal only affects how the NEXT frame composites). The same
    block walk as gif_scan, plus the LZW/palette work gif_scan skips."""
    import numpy as np

    try:
        if content[:6] not in (b"GIF87a", b"GIF89a") or len(content) < 13:
            return None
        w = int.from_bytes(content[6:8], "little")
        h = int.from_bytes(content[8:10], "little")
        flags = content[10]
        bg_index = content[11]
        i = 13
        gpal = None
        if flags & 0x80:
            n = 2 ** ((flags & 0x07) + 1)
            gpal = np.frombuffer(content[i : i + 3 * n], dtype=np.uint8)
            gpal = gpal.reshape(n, 3)
            i += 3 * n
        if gpal is not None and bg_index < len(gpal):
            canvas = np.tile(gpal[bg_index], (h, w, 1)).astype(np.uint8)
        else:
            canvas = np.zeros((h, w, 3), dtype=np.uint8)
        frames: list = []
        transparent: int | None = None
        disposal = 0
        n_bytes = len(content)
        while i < n_bytes:
            b = content[i]
            if b == 0x3B:
                break
            if b == 0x21:
                label = content[i + 1]
                i += 2
                if label == 0xF9 and i + 4 < n_bytes and content[i] >= 4:
                    gflags = content[i + 1]
                    disposal = (gflags >> 2) & 0x07
                    transparent = (
                        content[i + 4] if gflags & 0x01 else None
                    )
                while i < n_bytes and content[i] != 0:
                    i += 1 + content[i]
                i += 1
            elif b == 0x2C:
                left = int.from_bytes(content[i + 1 : i + 3], "little")
                top = int.from_bytes(content[i + 3 : i + 5], "little")
                fw = int.from_bytes(content[i + 5 : i + 7], "little")
                fh = int.from_bytes(content[i + 7 : i + 9], "little")
                lflags = content[i + 9]
                i += 10
                pal = gpal
                if lflags & 0x80:
                    n = 2 ** ((lflags & 0x07) + 1)
                    pal = np.frombuffer(
                        content[i : i + 3 * n], dtype=np.uint8
                    ).reshape(n, 3)
                    i += 3 * n
                if pal is None or left + fw > w or top + fh > h:
                    return None
                min_code = content[i]
                i += 1
                data = bytearray()
                while i < n_bytes and content[i] != 0:
                    size = content[i]
                    data += content[i + 1 : i + 1 + size]
                    i += 1 + size
                i += 1
                idx = _lzw_decode(min_code, bytes(data), fw * fh)
                if idx is None:
                    return None
                grid = np.frombuffer(idx, dtype=np.uint8).reshape(fh, fw)
                if lflags & 0x40:  # interlaced: stream row k is the
                    # k-th row of the 8/8/4/2 pass sequence
                    seq = [
                        y
                        for start, step in _INTERLACE_PASSES
                        for y in range(start, fh, step)
                    ]
                    deinterlaced = np.empty_like(grid)
                    deinterlaced[seq] = grid
                    grid = deinterlaced
                clipped = np.minimum(grid, len(pal) - 1)
                rgb = pal[clipped]
                region = canvas[top : top + fh, left : left + fw]
                if transparent is not None:
                    m = (grid != transparent)[:, :, None]
                    region = np.where(m, rgb, region)
                else:
                    region = rgb
                canvas[top : top + fh, left : left + fw] = region
                frames.append(canvas.copy())
                if disposal == 2:  # restore region to background
                    if gpal is not None and bg_index < len(gpal):
                        canvas[top : top + fh, left : left + fw] = gpal[
                            bg_index
                        ]
                    else:
                        canvas[top : top + fh, left : left + fw] = 0
                transparent = None
                disposal = 0
                if max_frames is not None and len(frames) >= max_frames:
                    break
            else:
                return None
        return frames or None
    except Exception:
        return None


def gif_encode(frames, delays_ms) -> bytes:
    """HxWx3 uint8 RGB frames (+ per-frame delays in ms) → animated
    GIF bytes: one global palette built from the frames' distinct
    colors (ValueError above 256 — the synthetic-media/test scope;
    quantization is a real encoder's job), full-frame descriptors, and
    the classic uncompressed-LZW emission (a CLEAR code every 254
    literals keeps the code width fixed at 9 bits, valid for every
    decoder). Round-trips bit-exactly through gif_decode_frames."""
    import numpy as np

    if len(frames) != len(delays_ms) or not frames:
        raise ValueError("need equal, nonzero frames and delays")
    h, w, _ = frames[0].shape
    colors = np.unique(
        np.concatenate([f.reshape(-1, 3) for f in frames], axis=0), axis=0
    )
    if len(colors) > 256:
        raise ValueError(f"{len(colors)} distinct colors > 256")
    pal = np.zeros((256, 3), dtype=np.uint8)
    pal[: len(colors)] = colors
    lut = {tuple(c): i for i, c in enumerate(colors)}
    out = bytearray(b"GIF89a")
    out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
    out += bytes([0x80 | 0x07, 0, 0])  # global palette of 256, bg 0
    out += pal.tobytes()
    for arr, delay in zip(frames, delays_ms):
        if arr.shape != (h, w, 3):
            raise ValueError("all frames must share the first frame's shape")
        out += bytes([0x21, 0xF9, 0x04, 0x00])
        out += (max(delay, 0) // 10).to_bytes(2, "little") + bytes([0, 0])
        out += bytes([0x2C]) + bytes(4) + w.to_bytes(2, "little")
        out += h.to_bytes(2, "little") + bytes([0])
        idx = np.array(
            [lut[tuple(px)] for px in arr.reshape(-1, 3)], dtype=np.uint8
        )
        out += bytes([8])  # LZW minimum code size
        bits = bytearray()
        acc = 0
        nacc = 0

        def emit(code: int):
            nonlocal acc, nacc
            acc |= code << nacc
            nacc += 9
            while nacc >= 8:
                bits.append(acc & 0xFF)
                acc >>= 8
                nacc -= 8

        emit(256)  # CLEAR
        for j, v in enumerate(idx):
            if j and j % 254 == 0:
                emit(256)
            emit(int(v))
        emit(257)  # END
        if nacc:
            bits.append(acc & 0xFF)
        for k in range(0, len(bits), 255):
            chunk = bits[k : k + 255]
            out += bytes([len(chunk)]) + chunk
        out += bytes([0])
    out += bytes([0x3B])
    return bytes(out)


GIF_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_index", T.IntegerType(), False),
        T.StructField("timestamp_ms", T.LongType(), False),
        T.StructField("width", T.IntegerType(), False),
        T.StructField("height", T.IntegerType(), False),
        T.StructField("content", T.BinaryType(), True),  # BMP frame
    ]
)


def gif_frames_py(
    content: bytes, max_frames: int = 32
) -> tuple[list[int], int, int, list[bytes | None]] | None:
    """Per-row kernel behind extract_gif_frames → (delays_ms, width,
    height, per-frame BMP bytes or None), or None for non-GIF bytes.
    Metadata always comes from gif_scan; pixels from PIL when
    importable (fast C path), else OUR pure LZW decoder — so frame
    bytes are identical across tiers (pinned in tests)."""
    import io

    import numpy as np

    meta = gif_scan(content)
    if meta is None:
        return None
    delays, w, h = meta
    k = min(len(delays), max_frames)
    arrs = None
    Image = pil_image()
    if Image is not None:
        try:
            with Image.open(io.BytesIO(content)) as im:
                arrs = []
                for fi in range(k):
                    im.seek(fi)
                    arrs.append(
                        np.asarray(im.convert("RGB"), dtype=np.uint8)
                    )
        except Exception:
            arrs = None  # fall through to the pure tier
    if arrs is None:
        arrs = gif_decode_frames(content, max_frames=k)
    frames: list[bytes | None] = [
        bmp_encode(a) if a is not None else None
        for a in (arrs if arrs is not None else [None] * k)
    ]
    frames += [None] * (k - len(frames))
    return delays[:k], w, h, frames


def extract_gif_frames(media: DataFrame, max_frames: int = 32) -> DataFrame:
    """REAL frame extraction: one row per GIF frame (capped at
    max_frames) with its true presentation timestamp (cumulative
    Graphic Control delays) and, when PIL is importable, the frame's
    pixels re-encoded as BMP by OUR encoder. Arrow-batched
    mapInPandas; bytes never leave the executor.

    Tiering mirrors decode_image/media_ahash: frame_index /
    timestamp_ms / width / height come from the pure-Python gif_scan
    in BOTH tiers (tier-invariant by construction, pinned in
    tests/test_multimodal.py); pixels come from PIL when importable
    (the fast C path), else from OUR pure-Python LZW decoder
    (gif_decode_frames) — real frames either way. `content` is NULL
    only when the pixel stream is corrupt (metadata rows survive,
    total over dirty corpora). Non-GIF / undecodable blobs yield no
    rows (a frame row without a frame is meaningless — unlike the
    per-row feature stages, this stage is one-to-many).

    No SQL-oracle gate: binary codecs are the serving/filesystem
    operator class (same ruling as resize_images); the RELATIONAL
    half of frame sampling stays oracle-gated via frame_sample
    (x_media_frame_sample)."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                content = (
                    bytes(r["content"]) if r["content"] is not None else b""
                )
                res = gif_frames_py(content, max_frames)
                if res is None:
                    continue
                delays, w, h, frames = res
                ts = 0
                for fi, blob in enumerate(frames):
                    rows.append(
                        {
                            "media_id": r["media_id"],
                            "frame_index": fi,
                            "timestamp_ms": ts,
                            "width": w,
                            "height": h,
                            "content": blob,
                        }
                    )
                    ts += delays[fi]
            yield pd.DataFrame(
                rows, columns=[f.name for f in GIF_FRAME_SCHEMA.fields]
            )

    return media.select("media_id", "content").mapInPandas(
        run, schema=GIF_FRAME_SCHEMA
    )


def decode_media(media: DataFrame, engine: str = "fake") -> DataFrame:
    """Decode/feature-extract stage: (media_id, modality, content) →
    FEATURE_SCHEMA rows via mapInPandas.

    engine="fake": deterministic metadata from md5(content) — a stand-in
    with the same schema/batch shape as a real decoder.
    engine="real": header-level decoding that actually works here —
    PNG/GIF/JPEG dimensions by format sniffing (PIL when importable
    widens the format set), WAV duration via the stdlib wave reader.
    Unknown/corrupt bytes yield NULL fields (total over dirty corpora,
    like the text branch). Full pixel/sample decoding (resizing,
    frame extraction) still needs PIL/av — that slot remains marked
    below.
    """
    if engine not in ("fake", "real"):
        raise ValueError(f"unknown engine {engine!r}")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                content = bytes(r["content"]) if r["content"] is not None else b""
                digest = hashlib.md5(content).hexdigest()
                w = h = None
                dur = None
                if engine == "real":
                    # header-level real decode; the PIXEL decode slot
                    # (PIL.Image / av frame extraction) goes here when
                    # those libs are present
                    if r["modality"] in ("image", "video"):
                        w, h = sniff_image_dims(content)
                        if w is None:
                            # PIL tier: formats the header sniffer
                            # doesn't know (WebP, TIFF, …) when the
                            # lib is importable
                            arr = decode_image(content)
                            if arr is not None:
                                h, w = int(arr.shape[0]), int(arr.shape[1])
                    if r["modality"] in ("audio", "video"):
                        dur = wav_duration_ms(content)
                        if dur is None:
                            # animated GIF as the container's honest
                            # video format: true duration = sum of
                            # frame presentation delays (pure parser)
                            meta = gif_scan(content)
                            if meta is not None:
                                dur = sum(meta[0])
                elif r["modality"] in ("image", "video"):
                    w, h = _fake_dims(digest)
                if engine == "fake" and r["modality"] in ("audio", "video"):
                    dur = _fake_duration(digest)
                rows.append(
                    {
                        "media_id": r["media_id"],
                        "modality": r["modality"],
                        "n_bytes": len(content),
                        "fingerprint": digest,
                        "width": w,
                        "height": h,
                        "duration_ms": dur,
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in FEATURE_SCHEMA.fields])

    return media.select("media_id", "modality", "content").mapInPandas(
        run, schema=FEATURE_SCHEMA
    )


def frame_sample(
    features: DataFrame, every_ms: int = 1000, max_frames: int = 32
) -> DataFrame:
    """Video frame-sampling plan: one row per sampled frame timestamp.
    The frame *extraction* would join these timestamps back to content
    in a real-decoder mapInPandas; here the sampling plan itself is the
    tested (and pure-relational) part."""
    n = F.least(
        F.floor(F.col("duration_ms") / F.lit(every_ms)).cast("int") + 1,
        F.lit(max_frames),
    )
    return (
        features.filter(F.col("modality") == "video")
        .select(
            "media_id",
            F.posexplode(F.sequence(F.lit(0), n - 1)).alias("frame_index", "_i"),
        )
        .select(
            "media_id",
            "frame_index",
            (F.col("frame_index").cast("long") * every_ms).alias("timestamp_ms"),
        )
    )


def resize_plan(
    features: DataFrame, target_w: int = 224, target_h: int = 224
) -> DataFrame:
    """Image resize bookkeeping (aspect-preserving fit): pure column math
    over decoded dims; the pixel work is the real-decoder stub's job."""
    scale = F.least(
        F.lit(float(target_w)) / F.col("width"),
        F.lit(float(target_h)) / F.col("height"),
    )
    return features.filter(F.col("modality") == "image").select(
        "media_id",
        "width",
        "height",
        F.greatest(F.floor(F.col("width") * scale).cast("int"), F.lit(1)).alias("out_w"),
        F.greatest(F.floor(F.col("height") * scale).cast("int"), F.lit(1)).alias("out_h"),
    )


# ---------------------------------------------------------------------------
# Real pixel path — uncompressed 24-bit BMP, the one raster format this
# container can decode/encode with no external codec (pure numpy).
# PIL/libav would widen the format set behind the same functions; the
# pipeline shape (mapInPandas batch → decode → vectorized kernel →
# re-encode) is exactly what a real multi-format decoder runs.
# ---------------------------------------------------------------------------

def pil_image():
    """`PIL.Image` when importable, else None — the pypdf pattern
    (sources/pdf.py): an optional library widens the format set behind
    the same function, and its absence degrades to the pure-Python
    tier instead of failing."""
    try:
        from PIL import Image

        return Image
    except Exception:
        return None


def decode_image(content: bytes):
    """bytes → HxWx3 uint8 RGB array, or None on undecodable input.

    Tiered: PIL when importable (PNG/JPEG/GIF/WebP/… — whatever its
    codecs cover), falling back to OUR pure-Python kernels either when
    PIL is absent or when PIL itself cannot parse the bytes: the numpy
    BMP decoder, then the GIF LZW decoder (first frame). All PIXEL
    MATH downstream (nn_resize, ahash) stays in our own deterministic
    kernels, so results for formats both tiers decode (BMP, GIF) are
    identical with and without PIL — pinned by tests."""
    import numpy as np

    Image = pil_image()
    if Image is not None and content:
        import io

        try:
            with Image.open(io.BytesIO(content)) as im:
                return np.asarray(im.convert("RGB"), dtype=np.uint8)
        except Exception:
            pass  # fall through: PIL lacks the codec or bytes are dirty
    arr = bmp_decode(content)
    if arr is not None:
        return arr
    frames = gif_decode_frames(content, max_frames=1)
    return frames[0] if frames else None


def bmp_decode(content: bytes):
    """Uncompressed BGR888 BMP → HxWx3 uint8 (RGB, top-down); None on
    anything else (other formats, compressed BMPs, truncated bytes)."""
    import numpy as np

    try:
        if content[:2] != b"BM" or len(content) < 54:
            return None
        offset = int.from_bytes(content[10:14], "little")
        hdr = int.from_bytes(content[14:18], "little")
        w = int.from_bytes(content[18:22], "little", signed=True)
        h = int.from_bytes(content[22:26], "little", signed=True)
        bpp = int.from_bytes(content[28:30], "little")
        comp = int.from_bytes(content[30:34], "little")
        if hdr < 40 or bpp != 24 or comp != 0 or w <= 0 or h == 0:
            return None
        if offset < 14 + hdr:  # pixel data cannot start inside the header
            return None
        flip = h > 0  # positive height = bottom-up row order
        h = abs(h)
        stride = (w * 3 + 3) & ~3  # rows pad to 4 bytes
        end = offset + stride * h
        if len(content) < end:
            return None
        rows = np.frombuffer(content[offset:end], dtype=np.uint8)
        rows = rows.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
        if flip:
            rows = rows[::-1]
        return rows[:, :, ::-1].copy()  # BGR → RGB
    except Exception:
        return None


def bmp_encode(arr) -> bytes:
    """HxWx3 uint8 RGB → uncompressed bottom-up BGR888 BMP bytes."""
    import numpy as np

    h, w, _ = arr.shape
    stride = (w * 3 + 3) & ~3
    body = np.zeros((h, stride), dtype=np.uint8)
    body[:, : w * 3] = arr[::-1, :, ::-1].reshape(h, w * 3)  # flip + RGB→BGR
    data = body.tobytes()
    size = 54 + len(data)
    header = (
        b"BM" + size.to_bytes(4, "little") + b"\x00\x00\x00\x00"
        + (54).to_bytes(4, "little")
        + (40).to_bytes(4, "little")
        + w.to_bytes(4, "little", signed=True)
        + h.to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little") + len(data).to_bytes(4, "little")
        + (2835).to_bytes(4, "little") * 2  # 72 dpi
        + (0).to_bytes(4, "little") * 2
    )
    return header + data


def nn_resize(arr, out_w: int, out_h: int):
    """Nearest-neighbor resize via vectorized index maps — the
    deterministic kernel (floor(i·H/out_h), floor(j·W/out_w))."""
    import numpy as np

    h, w, _ = arr.shape
    yy = (np.arange(out_h) * h // out_h).astype(np.int64)
    xx = (np.arange(out_w) * w // out_w).astype(np.int64)
    return arr[yy][:, xx]


def resize_images(
    media: DataFrame, target_w: int = 224, target_h: int = 224
) -> DataFrame:
    """The REAL pixel stage: decode image blobs (PIL-widened when
    importable, pure-numpy BMP kernel otherwise — `decode_image`),
    aspect-preserving-fit nearest-neighbor resize in OUR deterministic
    kernel (identical output with/without PIL), re-encode as BMP —
    Arrow-batched mapInPandas, bytes never leave the executor.
    Undecodable blobs keep their row with NULL output (total over
    dirty corpora). → (media_id, width, height, out_w, out_h,
    content<BINARY resized BMP>).

    No SQL-oracle gate: binary codecs are outside DuckDB's expressible
    surface (the serving/filesystem operator class) — pinned instead by
    round-trip, kernel-reference, and dirty-bytes tests; the RELATIONAL
    half of resizing (the aspect-fit dimension math) stays oracle-gated
    via resize_plan (x_media_resize)."""
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("width", T.IntegerType(), True),
            T.StructField("height", T.IntegerType(), True),
            T.StructField("out_w", T.IntegerType(), True),
            T.StructField("out_h", T.IntegerType(), True),
            T.StructField("content", T.BinaryType(), True),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                content = bytes(r["content"]) if r["content"] is not None else b""
                arr = decode_image(content)
                if arr is None:
                    rows.append(
                        {"media_id": r["media_id"], "width": None,
                         "height": None, "out_w": None, "out_h": None,
                         "content": None}
                    )
                    continue
                h, w = arr.shape[:2]
                scale = min(target_w / w, target_h / h)
                ow = max(int(w * scale), 1)
                oh = max(int(h * scale), 1)
                rows.append(
                    {"media_id": r["media_id"], "width": w, "height": h,
                     "out_w": ow, "out_h": oh,
                     "content": bmp_encode(nn_resize(arr, ow, oh))}
                )
            yield pd.DataFrame(
                rows, columns=[f.name for f in out_schema.fields]
            )

    return media.select("media_id", "content").mapInPandas(
        run, schema=out_schema
    )


# ---------------------------------------------------------------------------
# Real audio path — RIFF/WAVE PCM, the one audio container this
# container can decode/encode with no external codec (stdlib `wave` +
# numpy). libav/soundfile would widen the format set behind the same
# functions; all SIGNAL MATH (framing, RMS, FFT centroid, energy hash)
# is our own deterministic numpy, mirroring the image tier's BMP/GIF
# kernels.
# ---------------------------------------------------------------------------


def wav_decode(content: bytes):
    """RIFF/WAVE PCM bytes → (mono float64 samples in [-1, 1],
    sample_rate), or None on non-WAV/compressed/corrupt input.
    8-bit (unsigned) and 16/32-bit (signed) PCM; channels averaged to
    mono — the standard analysis front-end."""
    import io
    import wave

    import numpy as np

    if content[:4] != b"RIFF" or content[8:12] != b"WAVE":
        return None
    try:
        with wave.open(io.BytesIO(content)) as w:
            rate = w.getframerate()
            nch = w.getnchannels()
            width = w.getsampwidth()
            n = w.getnframes()
            if rate <= 0 or nch <= 0 or width not in (1, 2, 4) or n <= 0:
                return None
            raw = w.readframes(n)
    except Exception:
        return None
    if width == 1:
        x = np.frombuffer(raw, dtype=np.uint8).astype(np.float64)
        x = (x - 128.0) / 128.0
    elif width == 2:
        x = np.frombuffer(raw, dtype="<i2").astype(np.float64) / 32768.0
    else:
        x = np.frombuffer(raw, dtype="<i4").astype(np.float64) / 2147483648.0
    if nch > 1:
        x = x[: (len(x) // nch) * nch].reshape(-1, nch).mean(axis=1)
    return x, rate


def wav_encode(samples, rate: int = 8000) -> bytes:
    """Mono float samples in [-1, 1] → 16-bit PCM WAV bytes (the
    synthesis half: test fixtures, resampled sinks)."""
    import io
    import wave

    import numpy as np

    x = np.asarray(samples, dtype=np.float64)
    # symmetric with wav_decode's /32768 so decode∘encode∘decode is the
    # identity on the 16-bit grid (×32767-truncate loses one LSB)
    pcm = np.clip(np.round(x * 32768.0), -32768, 32767).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(pcm.tobytes())
    return buf.getvalue()


AUDIO_SILENCE_RMS = 0.02  # frame counts as silent below this RMS
AUDIO_N_FRAMES = 63  # analysis frames per clip (matches AHASH_BITS)


def audio_features_py(content: bytes) -> dict | None:
    """Real per-clip audio features from decoded PCM: duration_ms,
    rms, peak, silence_ratio (share of AUDIO_N_FRAMES equal frames
    with RMS < AUDIO_SILENCE_RMS), spectral_centroid_hz (rfft
    POWER-weighted mean frequency — the brightness feature quality
    filters threshold on; power weighting, |X|², keeps the 16-bit
    quantization noise floor from dragging the centroid toward
    Nyquist/2 the way magnitude weighting measurably does). None when
    the bytes don't decode."""
    import numpy as np

    dec = wav_decode(content)
    if dec is None:
        return None
    x, rate = dec
    if len(x) == 0:
        return None
    frames = np.array_split(x, AUDIO_N_FRAMES)
    frame_rms = np.array([
        float(np.sqrt(np.mean(f * f))) if len(f) else 0.0 for f in frames
    ])
    mag = np.abs(np.fft.rfft(x)) ** 2
    freqs = np.fft.rfftfreq(len(x), d=1.0 / rate)
    denom = float(mag.sum())
    centroid = float((freqs * mag).sum() / denom) if denom > 0 else 0.0
    return {
        "duration_ms": int(len(x) * 1000 / rate),
        "rms": float(np.sqrt(np.mean(x * x))),
        "peak": float(np.max(np.abs(x))),
        "silence_ratio": float(
            (frame_rms < AUDIO_SILENCE_RMS).sum() / AUDIO_N_FRAMES
        ),
        "spectral_centroid_hz": centroid,
    }


def audio_energy_hash_py(content: bytes) -> int | None:
    """Perceptual audio fingerprint: the aHash recipe on the 1-D
    energy envelope — AUDIO_N_FRAMES equal frames, bit i set iff
    frame i's RMS exceeds the mean frame RMS. Robust to gain changes
    that preserve the envelope SHAPE relative to its mean; re-encoded
    or volume-scaled copies land within small Hamming distance, which
    the banded pigeonhole join exploits exactly like image aHash."""
    import numpy as np

    dec = wav_decode(content)
    if dec is None:
        return None
    x, _ = dec
    if len(x) == 0:
        return None
    frames = np.array_split(x, AUDIO_N_FRAMES)
    frame_rms = np.array([
        float(np.sqrt(np.mean(f * f))) if len(f) else 0.0 for f in frames
    ])
    mean = float(frame_rms.mean())
    bits = 0
    for i, v in enumerate(frame_rms):
        if float(v) > mean:
            bits |= 1 << i
    return bits


AUDIO_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("duration_ms", T.LongType(), True),
        T.StructField("rms_r", T.DoubleType(), True),
        T.StructField("peak_r", T.DoubleType(), True),
        T.StructField("silence_ratio_r", T.DoubleType(), True),
        T.StructField("centroid_hz_r", T.DoubleType(), True),
    ]
)


def audio_features(
    media: DataFrame,
    engine: str = "fake",
    id_col: str = "media_id",
    content_col: str = "content",
) -> DataFrame:
    """→ (media_id, duration_ms, rms_r, peak_r, silence_ratio_r,
    centroid_hz_r): per-clip audio features, rounded to 6 dp.

    engine="real": Arrow-batched mapInPandas over audio_features_py
    (true WAV decode + numpy FFT); undecodable rows keep NULL features
    (total over dirty corpora). No SQL oracle — binary codecs + FFT
    are outside DuckDB's surface (the resize_images ruling); pinned by
    synthesized-signal unit tests (tests/test_multimodal.py).

    engine="fake": the media_ahash fake-signal convention — 63 evenly
    spaced byte samples of the content stand in for the PCM envelope
    (LOCALITY-PRESERVING, see the aHash notes), mapped to [-1, 1] via
    (b - 128) / 128, and the SAME feature math that is SQL-expressible
    (rms / peak / per-sample silence ratio; centroid needs the FFT and
    is NULL here) runs as native HOF expressions with a DuckDB twin
    (duckdb_audio_features). duration_ms reuses the fake-decoder
    md5 rule so the fake tiers agree with decode_media."""
    if engine == "real":

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                rows = []
                for _, r in pdf.iterrows():
                    content = (
                        bytes(r[content_col])
                        if r[content_col] is not None
                        else b""
                    )
                    f = audio_features_py(content)
                    rows.append(
                        {
                            # post-alias name: the select below projects
                            # id_col AS media_id before the kernel runs
                            "media_id": r["media_id"],
                            "duration_ms": f and f["duration_ms"],
                            "rms_r": f and round(f["rms"], 6),
                            "peak_r": f and round(f["peak"], 6),
                            "silence_ratio_r": f
                            and round(f["silence_ratio"], 6),
                            "centroid_hz_r": f
                            and round(f["spectral_centroid_hz"], 6),
                        }
                    )
                yield pd.DataFrame(
                    rows,
                    columns=[f_.name for f_ in AUDIO_FEATURE_SCHEMA.fields],
                )

        return media.select(
            F.col(id_col).alias("media_id") if id_col != "media_id" else id_col,
            content_col,
        ).mapInPandas(run, schema=AUDIO_FEATURE_SCHEMA)

    n = AHASH_BITS
    t = media.select(
        F.col(id_col).alias("media_id"),
        F.decode(F.col(content_col), "UTF-8").alias("__t"),
        F.md5(F.col(content_col)).alias("__d"),
    )
    # the ahash fake-signal sample positions, mapped to [-1, 1]
    pix = t.select(
        "media_id",
        "__d",
        F.when(
            F.length("__t") > 0,
            F.transform(
                F.sequence(F.lit(0), F.lit(n - 1)),
                lambda i: (
                    F.ascii(
                        F.col("__t").substr(
                            (
                                F.lit(1)
                                + F.floor(
                                    i * (F.length("__t") - 1) / F.lit(n - 1)
                                )
                            ).cast("int"),
                            F.lit(1),
                        )
                    )
                    - F.lit(128)
                )
                / F.lit(128.0),
            ),
        )
        .otherwise(F.array_repeat(F.lit(0.0), n))
        .alias("__x"),
    )
    # let-bind __x (Catalyst does not CSE into HOF lambdas — CLAUDE.md)
    silence = F.lit(AUDIO_SILENCE_RMS)
    return pix.select(
        "media_id",
        F.conv(F.substring("__d", 17, 8), 16, 10)
        .cast("long")
        .__mod__(600_000)
        .alias("duration_ms"),
        (
            F.round(
                F.sqrt(
                    F.aggregate(
                        "__x",
                        F.lit(0.0),
                        lambda a, v: a + v * v,
                    )
                    / F.lit(float(n))
                )
                * F.lit(1e6)
            )
            / F.lit(1e6)
        ).alias("rms_r"),
        (
            F.round(
                F.array_max(F.transform("__x", lambda v: F.abs(v)))
                * F.lit(1e6)
            )
            / F.lit(1e6)
        ).alias("peak_r"),
        (
            F.round(
                F.aggregate(
                    "__x",
                    F.lit(0.0),
                    lambda a, v: a
                    + F.when(F.abs(v) < silence, F.lit(1.0)).otherwise(
                        F.lit(0.0)
                    ),
                )
                / F.lit(float(n))
                * F.lit(1e6)
            )
            / F.lit(1e6)
        ).alias("silence_ratio_r"),
        F.lit(None).cast("double").alias("centroid_hz_r"),
    )


def duckdb_audio_features(media_sql: str, id_sql: str = "id") -> str:
    """Twin of audio_features(engine='fake') over (id, t TEXT) rows —
    identical sample positions, the same (b-128)/128 mapping, rms /
    peak / silence math, md5-rule duration; centroid NULL (FFT is not
    SQL)."""
    n = AHASH_BITS
    return f"""
        WITH m AS ({media_sql}),
        pix AS (
            SELECT {id_sql} AS media_id,
                   md5(t) AS d,
                   CASE WHEN length(t) > 0 THEN
                       list_transform(generate_series(0, {n - 1}),
                           i -> (ascii(substr(t,
                               (1 + (i * (length(t) - 1)) // {n - 1})::int,
                               1)) - 128) / 128.0)
                   ELSE list_transform(generate_series(0, {n - 1}),
                                       i -> CAST(0.0 AS DOUBLE))
                   END AS x
            FROM m
        )
        SELECT media_id,
               (('0x' || substr(d, 17, 8))::bigint % 600000)::bigint
                   AS duration_ms,
               round(sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   list_transform(x, v -> v * v)), (a, v) -> a + v)
                   / {n}.0) * 1e6) / 1e6 AS rms_r,
               round(list_max(list_transform(x, v -> abs(v))) * 1e6) / 1e6
                   AS peak_r,
               round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   list_transform(x, v -> CASE WHEN abs(v) <
                       {AUDIO_SILENCE_RMS} THEN 1.0 ELSE 0.0 END)),
                   (a, v) -> a + v) / {n}.0 * 1e6) / 1e6
                   AS silence_ratio_r,
               CAST(NULL AS DOUBLE) AS centroid_hz_r
        FROM pix
    """


def audio_near_dups(
    media: DataFrame,
    bands: int = 7,
    max_hamming: int = 6,
    id_col: str = "media_id",
    content_col: str = "content",
) -> DataFrame:
    """→ (id_a, id_b, hamming): perceptual audio near-dup pairs via
    the energy-envelope hash — REAL tier only (the hash needs PCM
    decode; the oracle-gated relational twin of this banding is
    x_media_phash_dups, same plan shape). mapInPandas hash pass →
    the shared packed-sketch path (`dedup._packed_near_dups`, never
    O(n²)); bands ≤ max_hamming raise ValueError."""
    sh = _py_hash_frame(media, id_col, content_col, audio_energy_hash_py)
    return _packed_near_dups(
        sh.filter(F.col("ahash").isNotNull()),
        id_col, "ahash", AHASH_BITS, bands, max_hamming,
    )


ANTIALIAS_TAPS = 63  # windowed-sinc FIR length (odd → linear phase)


def _antialias_lowpass(x, src_rate: int, target_rate: int):
    """Windowed-sinc low-pass at the TARGET Nyquist, applied before
    downsampling: content above target_rate/2 would otherwise fold
    back into band (classic aliasing — a 3 kHz tone downsampled 8 k→
    2 k reappears at 1 kHz). Hamming-windowed ideal sinc, DC-normalized
    so passband gain is exactly 1; edges reflect-padded so the clip's
    ends are filtered against themselves, not zeros. Pure numpy,
    deterministic."""
    import numpy as np

    fc = 0.5 * target_rate / src_rate  # cutoff in cycles/sample at src
    n = np.arange(ANTIALIAS_TAPS) - (ANTIALIAS_TAPS - 1) / 2.0
    h = 2.0 * fc * np.sinc(2.0 * fc * n)
    h *= np.hamming(ANTIALIAS_TAPS)
    h /= h.sum()
    half = (ANTIALIAS_TAPS - 1) // 2
    if len(x) == 1:
        return x  # nothing to filter; reflect-pad needs >= 2 samples
    pad = np.pad(x, half, mode="reflect")
    return np.convolve(pad, h, mode="valid")


def resample_n_out(n_in: int, src_rate: int, target_rate: int) -> int:
    """Output sample count of `resample_audio_py` — arithmetic, no
    decode needed: round(n · target/src) (duration preserved to within
    one sample), floored at 1; identity when the rates match."""
    if src_rate == target_rate:
        return n_in
    return max(int(round(n_in * target_rate / src_rate)), 1)


def resample_audio_py(content: bytes, target_rate: int) -> bytes | None:
    """Real audio resample kernel: WAV decode → [anti-alias low-pass
    when downsampling] → linear interpolation onto the target sample
    grid (np.interp — deterministic) → 16-bit WAV re-encode. None on
    undecodable input. Output length = `resample_n_out`.

    The upsample path (target ≥ src) is filter-free and bit-identical
    to the historical behavior; the downsample path low-passes at the
    target Nyquist first (`_antialias_lowpass`) so above-band content
    attenuates instead of folding in — the 44.1 k→16 k direction a
    speech pipeline actually runs."""
    import numpy as np

    dec = wav_decode(content)
    if dec is None:
        return None
    x, rate = dec
    if rate == target_rate:
        return wav_encode(x, rate)
    if target_rate < rate:
        x = _antialias_lowpass(x, rate, target_rate)
    n_out = resample_n_out(len(x), rate, target_rate)
    t_out = np.arange(n_out) * (rate / target_rate)
    y = np.interp(t_out, np.arange(len(x)), x)
    return wav_encode(y, target_rate)


def resample_audio(media: DataFrame, target_rate: int = 16000) -> DataFrame:
    """The audio twin of resize_images: decode WAV blobs, linear-interp
    resample to `target_rate` in OUR deterministic kernel, re-encode
    as 16-bit WAV — Arrow-batched mapInPandas, bytes never leave the
    executor. Undecodable blobs keep their row with NULL output (total
    over dirty corpora). → (media_id, src_rate, n_samples_out,
    content<BINARY resampled WAV>). No SQL-oracle gate: binary codecs
    are the serving/filesystem class (resize_images ruling); pinned by
    signal-preservation unit tests."""
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("src_rate", T.IntegerType(), True),
            T.StructField("n_samples_out", T.LongType(), True),
            T.StructField("content", T.BinaryType(), True),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                content = (
                    bytes(r["content"]) if r["content"] is not None else b""
                )
                dec = wav_decode(content)
                if dec is None:
                    rows.append(
                        {"media_id": r["media_id"], "src_rate": None,
                         "n_samples_out": None, "content": None}
                    )
                    continue
                out = resample_audio_py(content, target_rate)
                rows.append(
                    {"media_id": r["media_id"], "src_rate": dec[1],
                     "n_samples_out": resample_n_out(
                         len(dec[0]), dec[1], target_rate
                     ),
                     "content": out}
                )
            yield pd.DataFrame(
                rows, columns=[f.name for f in out_schema.fields]
            )

    return media.select("media_id", "content").mapInPandas(
        run, schema=out_schema
    )


VIDEO_HASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_index", T.IntegerType(), False),
        T.StructField("n_frames", T.IntegerType(), False),
        T.StructField("ahash", T.LongType(), True),
    ]
)


def video_frame_hashes(media: DataFrame, max_frames: int = 16) -> DataFrame:
    """→ (media_id, frame_index, n_frames, ahash): per-frame aHash of
    each GIF video, decoded and hashed INSIDE one Arrow batch kernel
    (frame pixels never leave the executor as rows — only the 8-byte
    hashes shuffle). Non-GIF rows yield nothing; a frame whose pixel
    stream is corrupt yields a NULL hash (its metadata row survives,
    consistent with extract_gif_frames)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                content = (
                    bytes(r["content"]) if r["content"] is not None else b""
                )
                meta = gif_scan(content)
                if meta is None:
                    continue
                delays, _w, _h = meta
                k = min(len(delays), max_frames)
                arrs = gif_decode_frames(content, max_frames=k)
                for fi in range(k):
                    arr = arrs[fi] if arrs is not None and fi < len(arrs) else None
                    rows.append(
                        {
                            "media_id": r["media_id"],
                            "frame_index": fi,
                            "n_frames": k,
                            "ahash": None
                            if arr is None
                            else ahash_from_array(arr),
                        }
                    )
            yield pd.DataFrame(
                rows, columns=[f.name for f in VIDEO_HASH_SCHEMA.fields]
            )

    return media.select("media_id", "content").mapInPandas(
        run, schema=VIDEO_HASH_SCHEMA
    )


def fake_video_frame_hashes(
    media: DataFrame,
    n_frames=4,
    id_col: str = "media_id",
    content_col: str = "content",
) -> DataFrame:
    """→ (media_id, frame_index, n_frames, ahash): the fake-decoder
    tier of `video_frame_hashes`, SQL-expressible for the oracle gate
    (duckdb_fake_video_frame_hashes). A fake "video" is the content
    text cut into `n_frames` contiguous slices (frame i covers
    [⌊iL/nf⌋, ⌊(i+1)L/nf⌋) — a partition, so a 1-char edit perturbs
    exactly one frame); each slice gets the media_ahash fake-signal
    hash (63 evenly-spaced byte samples, exact-integer mean threshold,
    MSB-first packing). LOCALITY-PRESERVING like the image fake: a
    lightly edited copy shares all but the touched frame's hash, which
    is the property the frame-aligned banding exists to exploit.
    `n_frames` is an int or a per-row Column (clips vary in length)."""
    nf = F.lit(n_frames) if isinstance(n_frames, int) else n_frames
    t = media.select(
        F.col(id_col).alias("media_id"),
        F.decode(F.col(content_col), "UTF-8").alias("__t"),
        nf.cast("int").alias("__nf"),
    )
    frames = t.select(
        "media_id",
        F.col("__nf").alias("n_frames"),
        F.explode(F.sequence(F.lit(0), F.col("__nf") - 1)).alias(
            "frame_index"
        ),
        "__t",
    )
    # frame boundaries via floor(i·L/nf): double division is exact at
    # these magnitudes (quotient gaps ≥ 1/nf dwarf the half-ulp error;
    # same ruling as media_ahash's sample positions, // in DuckDB)
    L = F.length("__t")
    fi = F.col("frame_index")
    start = (F.lit(1) + F.floor(fi * L / F.col("n_frames"))).cast("int")
    flen = (
        F.floor((fi + 1) * L / F.col("n_frames"))
        - F.floor(fi * L / F.col("n_frames"))
    ).cast("int")
    # LET-BIND the frame slice: substr is "cheap" to CollapseProject,
    # so a plain projected alias would be inlined into every one of the
    # 63 sample references — each recopying the multi-KB parent text
    # (measured 20.4 s → 1.9 s cold at sf0.1 for this one binding; the
    # CLAUDE.md single-element-array rule)
    cols = ["media_id", "frame_index", "n_frames"]
    pix = frames.select(
        *cols,
        F.transform(
            F.array(F.col("__t").substr(start, flen)), _fake_pixels
        )[0].alias("__pix"),
    )
    return _pack_ahash(pix, cols)


def video_near_dups(
    media: DataFrame,
    max_frames: int = 16,
    bands: int = 7,
    max_hamming: int = 6,
    min_match_frac: float = 0.5,
    engine: str = "real",
    n_frames=4,
) -> DataFrame:
    """→ (id_a, id_b, matched_frames, match_frac): video near-dup
    pairs — two videos match when ≥ min_match_frac of their ALIGNED
    sampled frames are perceptually close (Hamming(aHash) ≤
    max_hamming). Re-encoded / brightness-shifted / palette-requantized
    copies match (aHash invariances); unrelated clips share no banded
    buckets.

    Plan shape: the pigeonhole join runs PER FRAME POSITION — band
    keys are (frame_index, band, band_bits) — so candidate pairs are
    frame-aligned and the pair space stays candidate-proportional like
    every banded dedup here; one groupBy then counts distinct matched
    positions per pair and the fraction gate uses the SHORTER clip's
    sampled length.

    engine="real": GIF pixel decode (video_frame_hashes). engine=
    "fake": text-slice frame hashes (fake_video_frame_hashes, oracle-
    gated by x_video_near_dups with `n_frames` frames per clip); both
    tiers share every operator from the frame-hash table on."""
    _pigeonhole(AHASH_BITS, bands, max_hamming)
    if engine == "real":
        fh = video_frame_hashes(media, max_frames)
    else:
        fh = fake_video_frame_hashes(media, n_frames)
    fh = fh.filter(F.col("ahash").isNotNull())
    fh = fh.persist()
    fh.count()  # both self-join sides read it
    cols = ["media_id", "frame_index", "n_frames", "ahash"]
    banded = _packed_bands(fh, cols, "ahash", AHASH_BITS, bands)
    matched = (
        _self_pairs(
            banded, ["frame_index", "band", "bb"], "media_id",
            {"ahash": "h", "n_frames": "n"},
        )
        .filter(
            F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))) <= max_hamming
        )
        .select("id_a", "id_b", "frame_index", "na", "nb")
        .dropDuplicates()
    )
    return (
        matched.groupBy("id_a", "id_b")
        .agg(
            F.count("*").alias("matched_frames"),
            F.first("na").alias("na"),
            F.first("nb").alias("nb"),
        )
        .withColumn(
            "match_frac",
            F.col("matched_frames") / F.least(F.col("na"), F.col("nb")),
        )
        .filter(F.col("match_frac") >= min_match_frac)
        .select("id_a", "id_b", "matched_frames", "match_frac")
    )


# ---------------------------------------------------------------------------
# DuckDB oracle twins (fake-decoder math over the same derived bytes)
# ---------------------------------------------------------------------------

def duckdb_media_features(table: str = "documents") -> str:
    """Oracle for media_from_documents → decode_media(engine='fake')."""
    digest = "md5(text)"
    w = f"(16 + ('0x' || substr({digest}, 1, 8))::bigint % 1920)::int"
    h = f"(16 + ('0x' || substr({digest}, 9, 8))::bigint % 1080)::int"
    dur = f"(('0x' || substr({digest}, 17, 8))::bigint % 600000)::bigint"
    modality = (
        "(CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END)"
    )
    return f"""
        SELECT doc_id AS media_id,
               {modality} AS modality,
               octet_length(encode(text))::bigint AS n_bytes,
               {digest} AS fingerprint,
               CASE WHEN {modality} IN ('image','video') THEN {w} END AS width,
               CASE WHEN {modality} IN ('image','video') THEN {h} END AS height,
               CASE WHEN {modality} IN ('audio','video') THEN {dur} END AS duration_ms
        FROM {table}
    """


# ---------------------------------------------------------------------------
# Perceptual average-hash (aHash) + near-dup pairs
# ---------------------------------------------------------------------------
#
# Image dedup at corpus scale is PERCEPTUAL (pHash/aHash over decoded
# pixels — re-encoded/resized copies share no bytes but share pixels),
# never byte-exact. The aHash recipe: downsample to a tiny grayscale
# grid, threshold each cell against the grid mean, pack the bits, and
# compare by Hamming distance; near-dups come from the same banded
# pigeonhole join as SimHash (bands > max_hamming ⇒ some band equal),
# so the pair space is never O(n²).
#
# The DECODE is the stub tier (same contract as decode_media):
# - engine="real": the PIL downsample call site raises
#   NotImplementedError (marked below).
# - engine="fake": 63 evenly-spaced byte samples of the content stand
#   in for the grayscale cells. Unlike the md5-derived fake used for
#   decode metadata, this fake is LOCALITY-PRESERVING — near-identical
#   content yields near-identical samples and therefore close Hamming
#   distance, which is the property perceptual dedup exists to
#   exploit (an avalanching fake would make every near-dup invisible).
# Everything downstream of the pixel vector — mean threshold in exact
# integer arithmetic (63·p > Σp avoids any float mean), MSB-first
# packing into ONE long (63-bit shift-overflow bound, operators/bq.py),
# band extraction by shift+mask, bit_count(XOR) verify — is the real
# operator and runs identically over real pixels.

AHASH_BITS = 63


def ahash_from_array(arr) -> int:
    """The aHash kernel over an already-decoded HxWx3 array: 8×8
    nn_resize → integer grayscale ((r+g+b)//3) → bit i set iff cell i
    exceeds the grid mean, over the first AHASH_BITS raster-order
    cells. Invariant to uniform brightness shifts (cells and mean move
    together) — the property video_near_dups leans on."""
    import numpy as np

    small = nn_resize(arr, 8, 8)
    gray = small.astype(np.uint32).sum(axis=2) // 3
    cells = gray.reshape(-1)[:AHASH_BITS]
    mean = float(cells.mean())
    bits = 0
    for i, v in enumerate(cells):
        if float(v) > mean:
            bits |= 1 << i
    return bits


def real_ahash_py(content: bytes) -> int | None:
    """Pixel average-hash: decode_image → ahash_from_array (63 bits
    keeps the value sign-safe in a BIGINT, matching the fake engine's
    width). None when the bytes don't decode."""
    arr = decode_image(content)
    if arr is None:
        return None
    return ahash_from_array(arr)


def media_ahash(
    media: DataFrame,
    engine: str = "fake",
    id_col: str = "media_id",
    content_col: str = "content",
) -> DataFrame:
    """→ (id_col, ahash BIGINT): perceptual average-hash per row.

    engine="fake": deterministic text-derived stand-in with a DuckDB
    oracle twin (the gated path). engine="real": actual pixels —
    decode_image (PIL-widened when importable, pure-numpy BMP kernel
    otherwise) → 8×8 nn_resize → integer grayscale → mean threshold
    over the first AHASH_BITS cells. All pixel math is our own kernel,
    so the hash is identical with and without PIL for formats both
    tiers decode; undecodable rows get NULL (total over dirty
    corpora). No SQL oracle for the real engine (binary codecs are
    outside DuckDB's surface) — pinned by kernel round-trip tests."""
    if engine == "real":
        return _py_hash_frame(media, id_col, content_col, real_ahash_py)
    t = media.select(
        F.col(id_col), F.decode(F.col(content_col), "UTF-8").alias("__t")
    )
    pix = t.select(id_col, _fake_pixels(F.col("__t")).alias("__pix"))
    return _pack_ahash(pix, [id_col])


def _py_hash_frame(
    media: DataFrame, id_col: str, content_col: str, fn
) -> DataFrame:
    """(id_col, ahash BIGINT): the per-row Python hash `fn(bytes) ->
    int | None` (NULL content hashes as b"") in one Arrow-batched
    mapInPandas pass — the real-tier sketch of image and audio."""
    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType(), False),
            T.StructField("ahash", T.LongType(), True),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                content = (
                    bytes(r[content_col])
                    if r[content_col] is not None
                    else b""
                )
                rows.append({id_col: r[id_col], "ahash": fn(content)})
            yield pd.DataFrame(
                rows, columns=[f.name for f in out_schema.fields]
            )

    return media.select(id_col, content_col).mapInPandas(
        run, schema=out_schema
    )


def _fake_pixels(t: Column) -> Column:
    """The fake decode's AHASH_BITS "pixels" of text `t`: the byte at
    sample position i: 1 + floor(i·(L-1)/(n-1)) ∈ [1, L] — exact for
    these magnitudes (quotients are never within an ulp of an integer
    unless the division is exact), matching DuckDB's integer //.
    Empty (or NULL) text gives all-zero pixels."""
    n = AHASH_BITS
    return F.when(
        F.length(t) > 0,
        F.transform(
            F.sequence(F.lit(0), F.lit(n - 1)),
            lambda i: F.ascii(
                t.substr(
                    (
                        F.lit(1)
                        + F.floor(i * (F.length(t) - 1) / F.lit(n - 1))
                    ).cast("int"),
                    F.lit(1),
                )
            ),
        ),
    ).otherwise(F.array_repeat(F.lit(0), n))


def _pack_ahash(pix: DataFrame, cols: list[str]) -> DataFrame:
    """(cols…, __pix) → (cols…, ahash): exact-integer mean threshold
    (pixel·n > Σ pixels), MSB-first packing into one long."""
    n = AHASH_BITS
    stats = pix.select(
        *cols,
        "__pix",
        F.aggregate(
            "__pix", F.lit(0).cast("long"), lambda a, x: a + x
        ).alias("__sum"),
    )
    return stats.select(
        *cols,
        F.aggregate(
            F.transform(
                "__pix",
                lambda p: F.when(
                    p * n > F.col("__sum"), F.lit(1).cast("long")
                ).otherwise(F.lit(0).cast("long")),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc * 2 + x,
        ).alias("ahash"),
    )


def media_ahash_near_dups(
    media: DataFrame,
    engine: str = "fake",
    bands: int = 7,
    max_hamming: int = 6,
    id_col: str = "media_id",
    content_col: str = "content",
    cache: bool = True,
) -> DataFrame:
    """→ (id_a, id_b, hamming): perceptual near-dup pairs with
    Hamming(aHash) ≤ max_hamming. Banded pigeonhole candidates
    (bands > max_hamming ⇒ a whole band agrees) → equi-join on
    (band, band_bits) → exact bit_count(XOR) verify BEFORE any
    dedup shuffle (the simhash lesson: verify is map-side
    arithmetic, filtering first shrinks the shuffle to true pairs) —
    SimHash's own path, `dedup._packed_near_dups`; bands ≤ max_hamming
    raise ValueError. NULL content hashes to 0 like empty content, so
    such rows pair at hamming 0 (the fake engine; the real engine
    yields NULL hashes for undecodable images, which never pair)."""
    sh = media_ahash(media, engine, id_col, content_col)
    if engine == "real":
        # undecodable images hash to NULL: drop them before banding, or
        # they all-pair in bucket −1 of every band (`_packed_bands`) —
        # a quadratic candidate stage. Today Catalyst also infers this
        # isnotnull from the null-intolerant hamming join condition,
        # but a coalesce-for-nullability verify (as in the SimHash
        # incremental form) removes that inference; the explicit
        # filter does not depend on it. Real engine only: its sketch is
        # a mapInPandas output, while over the fake engine's projection
        # (never NULL) Catalyst would push this filter below it and
        # compute the whole sketch twice.
        sh = sh.filter(F.col("ahash").isNotNull())
    return _packed_near_dups(
        sh, id_col, "ahash", AHASH_BITS, bands, max_hamming, cache
    )


def duckdb_media_ahash(media_sql: str, id_sql: str = "id") -> str:
    """Twin of media_ahash(engine='fake') over (id, t TEXT) rows —
    identical sample positions (integer //), exact integer mean
    threshold, identical MSB-first packing."""
    return f"""
        WITH m AS ({media_sql}),
        {_duckdb_ahash_ctes(f"(SELECT {id_sql} AS id, t FROM m)", "id", "t")}
        SELECT id, {_DUCKDB_AHASH} AS ahash FROM stats
    """


def _duckdb_ahash_ctes(src: str, cols: str, t: str) -> str:
    """pix / stats CTEs over `src` rows (carrying `cols`): the fake
    decode's pixels of text `t` and their sum — the `_fake_pixels`
    twin; `_DUCKDB_AHASH` then packs stats' rows."""
    n = AHASH_BITS
    return f"""pix AS (
            SELECT {cols},
                   CASE WHEN length({t}) > 0 THEN
                       list_transform(generate_series(0, {n - 1}),
                           i -> ascii(substr({t},
                               (1 + (i * (length({t}) - 1)) // {n - 1})::int,
                               1)))
                   ELSE list_transform(generate_series(0, {n - 1}), i -> 0)
                   END AS px
            FROM {src}
        ),
        stats AS (
            SELECT {cols}, px,
                   list_reduce(list_prepend(0::bigint,
                       list_transform(px, p -> p::bigint)),
                       (a, x) -> a + x) AS s
            FROM pix
        )"""


# `_pack_ahash` twin over stats' (px, s)
_DUCKDB_AHASH = f"""list_reduce(list_prepend(0::bigint,
                   list_transform(px,
                       p -> CASE WHEN p * {AHASH_BITS} > s THEN 1::bigint
                            ELSE 0::bigint END)),
                   (acc, x) -> acc * 2 + x)"""


def duckdb_media_ahash_near_dups(
    media_sql: str,
    bands: int = 7,
    max_hamming: int = 6,
) -> str:
    """Twin of media_ahash_near_dups over the same (id, t) rows."""
    bb = _duckdb_packed_bb(AHASH_BITS, bands, "ahash")
    return f"""
        WITH sh AS ({duckdb_media_ahash(media_sql)}),
        banded AS ({_duckdb_bands("sh", bands, bb)}),
        cand AS (
            SELECT DISTINCT a.id AS id_a, b2.id AS id_b,
                   a.ahash AS ha, b2.ahash AS hb
            FROM banded a JOIN banded b2
              ON a.b = b2.b AND a.bb = b2.bb AND a.id < b2.id
        )
        SELECT id_a, id_b, bit_count(xor(ha, hb)) AS hamming
        FROM cand
        WHERE bit_count(xor(ha, hb)) <= {max_hamming}
    """


def duckdb_fake_video_frame_hashes(
    media_sql: str, n_frames_sql: str = "4"
) -> str:
    """Twin of fake_video_frame_hashes over (id, t TEXT) rows;
    `n_frames_sql` is an expression over those columns (per-row frame
    counts). Same partition slicing (integer //), same fake-signal
    sample positions, same exact-integer mean threshold and packing."""
    return f"""
        WITH m AS ({media_sql}),
        fr AS (
            SELECT id, {n_frames_sql}::int AS n_frames, fi,
                   substr(t,
                          (1 + (fi * length(t)) // ({n_frames_sql}))::int,
                          (((fi + 1) * length(t)) // ({n_frames_sql})
                           - (fi * length(t)) // ({n_frames_sql}))::int
                   ) AS ft
            FROM m, unnest(generate_series(0, ({n_frames_sql})::int - 1)) u(fi)
        ),
        {_duckdb_ahash_ctes("fr", "id, n_frames, fi", "ft")}
        SELECT id AS media_id, fi AS frame_index, n_frames,
               {_DUCKDB_AHASH} AS ahash
        FROM stats
    """


def duckdb_video_near_dups(
    media_sql: str,
    n_frames_sql: str = "4",
    bands: int = 7,
    max_hamming: int = 6,
    min_match_frac: float = 0.5,
) -> str:
    """Twin of video_near_dups(engine='fake') over the same (id, t)
    rows: frame-aligned banded pigeonhole, bit_count verify, distinct
    matched positions per pair, shorter-clip fraction gate."""
    bb = _duckdb_packed_bb(AHASH_BITS, bands, "ahash")
    return f"""
        WITH vfh AS MATERIALIZED (
            {duckdb_fake_video_frame_hashes(media_sql, n_frames_sql)}
        ),
        vbanded AS MATERIALIZED ({_duckdb_bands("vfh", bands, bb)}),
        vmatched AS (
            SELECT DISTINCT a.media_id AS id_a, b2.media_id AS id_b,
                   a.frame_index, a.n_frames AS na, b2.n_frames AS nb
            FROM vbanded a JOIN vbanded b2
              ON a.frame_index = b2.frame_index AND a.b = b2.b
                 AND a.bb = b2.bb AND a.media_id < b2.media_id
            WHERE bit_count(xor(a.ahash, b2.ahash)) <= {max_hamming}
        ),
        vroll AS (
            SELECT id_a, id_b, count(*) AS matched_frames,
                   max(na) AS na, max(nb) AS nb
            FROM vmatched GROUP BY id_a, id_b
        )
        SELECT id_a, id_b, matched_frames::bigint AS matched_frames,
               matched_frames / least(na, nb) AS match_frac
        FROM vroll
        WHERE matched_frames / least(na, nb) >= {min_match_frac}
    """
