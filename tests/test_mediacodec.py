"""Real media codec path: BMP/WAV encode<->decode round trips, header
edge cases (row padding, top-down BMPs), feature extraction, and the
mode="real" Arrow seam in extract_media_features."""

import struct

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from nlp_lib_spark.operators.mediacodec import (
    audio_features,
    decode_avi,
    decode_bmp,
    decode_png,
    decode_wav,
    encode_avi,
    encode_bmp,
    encode_png,
    encode_wav,
    frame_features,
    image_features,
    md5_expand,
    real_features,
    synth_avi_payload,
    synth_payload,
    synth_png_payload,
    video_features,
)


@settings(max_examples=60, deadline=None)
@given(st.integers(1, 13), st.integers(1, 9), st.data())
def test_bmp_roundtrip_any_dims(w, h, data):
    # odd widths exercise the 4-byte row padding
    gray = data.draw(st.lists(st.integers(0, 255), min_size=w * h,
                              max_size=w * h))
    blob = encode_bmp(gray, w, h)
    assert blob[:2] == b"BM"
    assert len(blob) == 54 + ((w * 3 + 3) // 4 * 4) * h
    w2, h2, gray2 = decode_bmp(blob)
    assert (w2, h2, gray2) == (w, h, gray)


def test_bmp_topdown_negative_height():
    gray = list(range(12))  # 4x3
    blob = bytearray(encode_bmp(gray, 4, 3))
    # rewrite as top-down: negate height, reverse stored row order
    stride = (4 * 3 + 3) // 4 * 4
    rows = [bytes(blob[54 + i * stride:54 + (i + 1) * stride])
            for i in range(3)]
    body = b"".join(reversed(rows))
    struct.pack_into("<i", blob, 22, -3)
    topdown = bytes(blob[:54]) + body
    assert decode_bmp(topdown) == (4, 3, gray)


def test_bmp_rejects_non_bmp_and_unsupported_bpp():
    with pytest.raises(ValueError):
        decode_bmp(b"PNG garbage")
    blob = bytearray(encode_bmp([0, 0], 2, 1))
    struct.pack_into("<H", blob, 28, 8)  # claim 8bpp
    with pytest.raises(ValueError):
        decode_bmp(bytes(blob))


@settings(max_examples=40, deadline=None)
@given(st.lists(st.integers(-32768, 32767), min_size=1, max_size=64),
       st.sampled_from([8000, 16000, 44100]))
def test_wav_roundtrip(samples, rate):
    blob = encode_wav(samples, rate)
    assert blob[:4] == b"RIFF" and blob[8:12] == b"WAVE"
    assert len(blob) == 44 + 2 * len(samples)  # canonical PCM16 header
    rate2, samples2 = decode_wav(blob)
    assert (rate2, samples2) == (rate, samples)


def test_wav_rejects_garbage():
    with pytest.raises(ValueError):
        decode_wav(b"RIFFxxxxAVI LIST")


def test_real_features_dispatch_and_values():
    # image: known pixels -> exact stats + 4x4 nearest-neighbor resize
    gray = list(range(32))  # 8x4
    feats = real_features(encode_bmp(gray, 8, 4))
    assert feats[:5] == [8.0, 4.0, 0.0, 31.0, float(sum(gray))]
    assert feats[5:] == [float(i * 8 + 2 * j)
                         for i in range(4) for j in range(4)]
    # audio: rate, n, min, max, sum|s|, then the first 16 samples
    s = [-5, 7, 0]
    feats = real_features(encode_wav(s, 8000))
    assert feats[:5] == [8000.0, 3.0, -5.0, 7.0, 12.0]
    assert feats[5:] == [-5.0, 7.0] + [0.0] * 14
    with pytest.raises(ValueError):
        real_features(b"\x00\x01mystery")


@settings(max_examples=60, deadline=None)
@given(st.integers(1, 13), st.integers(1, 11), st.data())
def test_png_roundtrip_any_dims(w, h, data):
    # h >= 5 exercises all five filter types (scanline r uses filter r % 5)
    gray = data.draw(st.lists(st.integers(0, 255), min_size=w * h,
                              max_size=w * h))
    blob = encode_png(gray, w, h)
    assert blob[:8] == b"\x89PNG\r\n\x1a\n"
    assert blob.count(b"IDAT") == 2  # decoder must concatenate IDATs
    assert decode_png(blob) == (w, h, gray)


def test_png_rejects_garbage_and_unsupported():
    with pytest.raises(ValueError):
        decode_png(b"BM not a png")
    # rewrite IHDR to claim RGB (color type 2): must refuse, not misdecode
    blob = bytearray(encode_png([1, 2, 3, 4], 2, 2))
    blob[8 + 8 + 9] = 2  # sig + chunk len/tag + 9th IHDR byte = color type
    import zlib
    body = bytes(blob[16:16 + 13])
    struct.pack_into(">I", blob, 16 + 13, zlib.crc32(b"IHDR" + body))
    with pytest.raises(ValueError):
        decode_png(bytes(blob))


@settings(max_examples=30, deadline=None)
@given(st.integers(1, 5), st.integers(1, 9), st.integers(1, 6), st.data())
def test_avi_roundtrip(n_frames, w, h, data):
    frames = [data.draw(st.lists(st.integers(0, 255), min_size=w * h,
                                 max_size=w * h)) for _ in range(n_frames)]
    blob = encode_avi(frames, w, h)
    assert blob[:4] == b"RIFF" and blob[8:12] == b"AVI "
    assert decode_avi(blob) == (w, h, frames)


def test_avi_rejects_garbage():
    with pytest.raises(ValueError):
        decode_avi(b"RIFFxxxxWAVEdata")


def test_frame_features_sampling():
    frames = [[(f * 37 + p) % 256 for p in range(8 * 4)] for f in range(5)]
    blob = encode_avi(frames, 8, 4)
    rows = frame_features(blob, every_n=2)
    assert [k for k, _ in rows] == [0, 2, 4]
    for k, feats in rows:
        g = frames[k]
        assert feats[:5] == [8.0, 4.0, float(min(g)), float(max(g)),
                             float(sum(g))]
        assert feats[5:] == [float(g[i * 8 + 2 * j])
                             for i in range(4) for j in range(4)]
    vf = video_features(blob)
    allpx = [v for f in frames for v in f]
    assert vf == [8.0, 4.0, 5.0, float(min(allpx)), float(max(allpx)),
                  float(sum(allpx))]


def test_synth_png_avi_match_oracle_model():
    """The new gate payload builders must equal the oracles' closed form:
    PNG raster = md5_expand(text, 64); AVI frame k = md5_expand(text#fk, 32)."""
    w, h, gray = decode_png(synth_png_payload("hello"))
    assert (w, h) == (8, 8) and bytes(gray) == md5_expand("hello", 64)
    w, h, frames = decode_avi(synth_avi_payload("hello"))
    assert (w, h, len(frames)) == (8, 4, 4)
    for k, f in enumerate(frames):
        assert bytes(f) == md5_expand(f"hello#f{k}", 32)
    # real_features dispatches PNG to image stats and AVI to clip stats
    assert real_features(synth_png_payload("hello"))[:2] == [8.0, 8.0]
    assert real_features(synth_avi_payload("hello"))[:3] == [8.0, 4.0, 4.0]


def test_md5_expand_blocks():
    import hashlib
    b = md5_expand("abc", 40)
    assert b[:16] == hashlib.md5(b"abc").digest()
    assert b[16:32] == hashlib.md5(b"abc:1").digest()
    assert b[32:40] == hashlib.md5(b"abc:2").digest()[:8]


def test_synth_payload_matches_oracle_model():
    """The gate's payload builder must equal the oracle's closed form:
    image pixels / audio samples are the md5-expansion bytes."""
    kind, blob = synth_payload(2, "hello")
    assert kind == "image" and len(blob) == 150
    w, h, gray = decode_bmp(blob)
    assert (w, h) == (8, 4) and bytes(gray) == md5_expand("hello", 32)
    kind, blob = synth_payload(3, "hello")
    assert kind == "audio" and len(blob) == 76
    rate, samples = decode_wav(blob)
    b = md5_expand("hello", 32)
    assert rate == 8000
    assert samples == [b[2 * k] * 256 + b[2 * k + 1] - 32768
                       for k in range(16)]


def test_extract_media_features_real_spark(spark):
    import pandas as pd

    from nlp_lib_spark.operators.multimodal import extract_media_features
    rows = [synth_payload(i, f"doc {i}") for i in range(6)]
    pdf = pd.DataFrame({"media_id": range(6),
                        "kind": [k for k, _ in rows],
                        "payload": [p for _, p in rows]})
    df = spark.createDataFrame(pdf)
    out = {r["media_id"]: r
           for r in extract_media_features(df, mode="real").collect()}
    assert len(out) == 6
    for i in range(6):
        kind, blob = rows[i]
        expect = (image_features(blob) if kind == "image"
                  else audio_features(blob))
        assert out[i]["kind"] == kind
        assert out[i]["n_bytes"] == len(blob)
        assert [round(x, 4) for x in out[i]["features"]] == expect


# ------------------------------------------------------------ JPEG (round 4)

def _flat_raster(dcs):
    from nlp_lib_spark.operators.mediacodec import _flat_block_raster
    return _flat_block_raster(dcs)


@settings(max_examples=40, deadline=None)
@given(st.lists(st.integers(0, 255), min_size=4, max_size=4))
def test_jpeg_flat_block_roundtrip_exact(dcs):
    """Flat 8x8 blocks with DC quant step 8 decode bit-exactly — the
    property the media_features_jpeg gate's closed-form oracle relies on."""
    from nlp_lib_spark.operators.mediacodec import decode_jpeg, encode_jpeg
    raster = _flat_raster(dcs)
    w, h, out = decode_jpeg(encode_jpeg(raster, 16, 16))
    assert (w, h) == (16, 16)
    assert out == raster


@settings(max_examples=15, deadline=None)
@given(st.data())
def test_jpeg_general_roundtrip_near_lossless_at_q1(data):
    """Arbitrary images at quant step 1: the full AC path (run lengths,
    size categories, negative amplitudes) must reconstruct within the
    float-rounding budget (|diff| <= 1)."""
    from nlp_lib_spark.operators.mediacodec import decode_jpeg, encode_jpeg
    bw = data.draw(st.integers(1, 3))
    bh = data.draw(st.integers(1, 3))
    w, h = 8 * bw, 8 * bh
    img = data.draw(st.lists(st.integers(0, 255), min_size=w * h,
                             max_size=w * h))
    w2, h2, out = decode_jpeg(encode_jpeg(img, w, h, q_dc=1, q_ac=1))
    assert (w2, h2) == (w, h)
    assert max(abs(a - b) for a, b in zip(img, out)) <= 1


def test_jpeg_zrl_and_eob_paths():
    """A nearly-constant image forces >=16-zero AC runs (ZRL) and early
    EOBs; a checkerboard forces dense high-frequency ACs."""
    from nlp_lib_spark.operators.mediacodec import decode_jpeg, encode_jpeg
    img = [100] * (24 * 16)
    img[5], img[100], img[383] = 240, 3, 17
    _, _, out = decode_jpeg(encode_jpeg(img, 24, 16, q_dc=1, q_ac=1))
    assert max(abs(a - b) for a, b in zip(img, out)) <= 1
    checker = [(255 if (x + y) % 2 else 0) for y in range(16)
               for x in range(16)]
    _, _, out2 = decode_jpeg(encode_jpeg(checker, 16, 16, q_dc=1, q_ac=1))
    assert max(abs(a - b) for a, b in zip(checker, out2)) <= 1


def test_jpeg_rejects_garbage_and_unsupported():
    from nlp_lib_spark.operators.mediacodec import decode_jpeg, encode_jpeg
    with pytest.raises(ValueError):
        decode_jpeg(b"not a jpeg")
    good = encode_jpeg(_flat_raster([1, 2, 3, 4]), 16, 16)
    # flip SOF0 -> SOF2 (progressive) — must raise, not mis-decode
    bad = good.replace(b"\xff\xc0", b"\xff\xc2", 1)
    with pytest.raises(ValueError):
        decode_jpeg(bad)
    with pytest.raises(ValueError):
        encode_jpeg([0] * 12, 4, 3)  # non-multiple-of-8 dims


def test_jpeg_byte_stuffing_roundtrip():
    """DC values chosen so the entropy stream contains 0xFF bytes (the
    encoder must stuff 0x00, the decoder must unstuff)."""
    from nlp_lib_spark.operators.mediacodec import decode_jpeg, encode_jpeg
    for dcs in ([255, 255, 255, 255], [0, 255, 0, 255], [128, 127, 129, 126]):
        raster = _flat_raster(dcs)
        blob = encode_jpeg(raster, 16, 16)
        assert decode_jpeg(blob)[2] == raster


def test_mjpeg_avi_roundtrip_and_sampling():
    from nlp_lib_spark.operators.mediacodec import (decode_avi,
                                                    encode_mjpeg_avi,
                                                    frame_features)
    frames = [_flat_raster([10 * k, 20, 30, 40]) for k in range(1, 5)]
    blob = encode_mjpeg_avi(frames, 16, 16)
    w, h, out = decode_avi(blob)
    assert (w, h) == (16, 16) and out == frames
    sampled = frame_features(blob, every_n=2)
    assert [k for k, _ in sampled] == [0, 2]
    assert sampled[0][1][:5] == [16.0, 16.0, 10.0, 40.0,
                                 float(64 * (10 + 20 + 30 + 40))]


def test_synth_jpeg_matches_oracle_model():
    """synth_jpeg_payload/synth_mjpeg_payload decode to exactly the
    md5-expansion model the DuckDB oracles recompute closed-form."""
    from nlp_lib_spark.operators.mediacodec import (decode_avi, decode_jpeg,
                                                    md5_expand,
                                                    synth_jpeg_payload,
                                                    synth_mjpeg_payload)
    text = "the cat sat on the mat"
    w, h, gray = decode_jpeg(synth_jpeg_payload(text))
    dcs = list(md5_expand(text, 4))
    assert (w, h) == (16, 16) and gray == _flat_raster(dcs)
    w, h, frames = decode_avi(synth_mjpeg_payload(text))
    assert (w, h) == (16, 16)
    for k, f in enumerate(frames):
        assert f == _flat_raster(list(md5_expand(f"{text}#j{k}", 4)))


# ------------------------------------------------ progressive JPEG (SOF2)

def test_jpeg_progressive_flat_block_exact_and_dispatch():
    """The progressive gate payload decodes bit-exactly to the flat-block
    raster (the property the shared media_features_jpeg oracle relies on),
    through both the dedicated decoder and the decode_jpeg dispatch."""
    from nlp_lib_spark.operators.mediacodec import (
        decode_jpeg, decode_jpeg_progressive, synth_jpeg_prog_payload)
    text = "progressive gate corpus"
    blob = synth_jpeg_prog_payload(text)
    exp = _flat_raster(list(md5_expand(text, 4)))
    assert decode_jpeg_progressive(blob) == (16, 16, exp)
    assert decode_jpeg(blob) == (16, 16, exp)  # SOF2 dispatch
    # structurally progressive: SOF2 marker + four SOS scans
    assert b"\xff\xc2" in blob and blob.count(b"\xff\xda") == 4
    assert b"\xff\xc0" not in blob


@settings(max_examples=40, deadline=None)
@given(st.data())
def test_jpeg_progressive_equals_baseline_decode(data):
    """Successive approximation transmits every coefficient bit across the
    first+refinement pass pairs, so progressive decode must EQUAL baseline
    decode of the same image at the same quantization — on arbitrary
    images (random / smooth / sparse-spike / near-flat), exercising ZRL,
    EOB runs spanning blocks, newly-nonzero insertion and correction-bit
    interleaving in the refinement scan."""
    from nlp_lib_spark.operators.mediacodec import (
        decode_jpeg, decode_jpeg_progressive, encode_jpeg,
        encode_jpeg_progressive)
    w = 8 * data.draw(st.integers(1, 4))
    h = 8 * data.draw(st.integers(1, 4))
    q_dc = data.draw(st.sampled_from([1, 2, 8, 16]))
    q_ac = data.draw(st.sampled_from([2, 16, 64]))
    kind = data.draw(st.integers(0, 3))
    if kind == 0:
        img = data.draw(st.lists(st.integers(0, 255), min_size=w * h,
                                 max_size=w * h))
    elif kind == 1:  # low-amplitude noise: magnitude-0/1 refine paths
        img = [128 + data.draw(st.integers(-6, 6)) for _ in range(w * h)]
    elif kind == 2:  # sparse spikes on flat: long zero runs + ZRL
        img = [128] * (w * h)
        for _ in range(4):
            img[data.draw(st.integers(0, w * h - 1))] = data.draw(
                st.sampled_from([0, 255]))
    else:  # checkerboard: maximal high-frequency energy
        img = [255 * ((x + y) & 1) for y in range(h) for x in range(w)]
    base = decode_jpeg(encode_jpeg(img, w, h, q_dc, q_ac))
    prog = decode_jpeg_progressive(
        encode_jpeg_progressive(img, w, h, q_dc, q_ac))
    assert prog == base


def test_jpeg_progressive_rejects_malformed():
    from nlp_lib_spark.operators.mediacodec import (
        decode_jpeg_progressive, encode_jpeg_progressive)
    with pytest.raises(ValueError):
        decode_jpeg_progressive(b"not a jpeg")
    good = encode_jpeg_progressive(_flat_raster([9, 8, 7, 6]), 16, 16)
    # baseline SOF0 handed to the progressive decoder must raise
    from nlp_lib_spark.operators.mediacodec import encode_jpeg
    with pytest.raises(ValueError):
        decode_jpeg_progressive(encode_jpeg(_flat_raster([1, 2, 3, 4]),
                                            16, 16))
    # truncating the final scan must raise, not return partial pixels
    with pytest.raises(ValueError):
        decode_jpeg_progressive(good[:len(good) // 2])
    with pytest.raises(ValueError):
        encode_jpeg_progressive([0] * 12, 4, 3)  # non-multiple-of-8 dims


def test_jpeg_progressive_real_features_seam():
    """real_features dispatches SOF2 payloads through the image path with
    the same feature layout as the baseline JPEG."""
    from nlp_lib_spark.operators.mediacodec import (
        real_features, synth_jpeg_payload, synth_jpeg_prog_payload)
    text = "seam check"
    assert (real_features(synth_jpeg_prog_payload(text))
            == real_features(synth_jpeg_payload(text)))


# --------------------------------------------------------------- GIF (LZW)

@settings(max_examples=60, deadline=None)
@given(st.integers(1, 13), st.integers(1, 11), st.booleans(), st.data())
def test_gif_roundtrip_any_dims(w, h, interlaced, data):
    # h >= 5 with interlaced=True exercises all four interlace passes
    from nlp_lib_spark.operators.mediacodec import decode_gif, encode_gif
    gray = data.draw(st.lists(st.integers(0, 255), min_size=w * h,
                              max_size=w * h))
    blob = encode_gif(gray, w, h, interlaced=interlaced)
    assert blob[:6] == b"GIF89a" and blob[-1] == 0x3B
    assert decode_gif(blob) == (w, h, gray)


def test_gif_lzw_width_growth_and_table_reset_roundtrip():
    """30k random indices force 9->10->11->12-bit code growth and a full
    4096-entry table reset; the low-entropy tail stresses KwKwK chains.
    Also proves the deferred-clear stream shape (spec-legal: the encoder
    freezes the full table instead of clearing) decodes identically."""
    import random

    from nlp_lib_spark.operators.mediacodec import (_gif_lzw_compress,
                                                    _gif_lzw_decompress)
    rng = random.Random(31337)
    seq = ([rng.randrange(256) for _ in range(30000)]
           + [5, 9] * 2000 + [5] * 1000)
    for defer in (False, True):
        blob = _gif_lzw_compress(seq, 8, defer_clear=defer)
        assert _gif_lzw_decompress(blob, 8) == seq
    for mcs in (2, 3, 4):  # small-palette widths start below 9 bits
        small = [rng.randrange(1 << mcs) for _ in range(8000)]
        assert _gif_lzw_decompress(
            _gif_lzw_compress(small, mcs), mcs) == small


def test_gif_rejects_garbage_and_truncation():
    from nlp_lib_spark.operators.mediacodec import decode_gif, encode_gif
    with pytest.raises(ValueError):
        decode_gif(b"NOTAGIF")
    with pytest.raises(ValueError):
        decode_gif(b"GIF88a" + b"\x00" * 20)
    blob = encode_gif(list(range(16)), 4, 4)
    with pytest.raises(ValueError):
        decode_gif(blob[:20] + b"\x3b")  # trailer before any image
    # corrupt LZW: an undefined code past the assigned range
    body = bytearray(blob)
    body[-4] ^= 0xFF
    with pytest.raises(ValueError):
        decode_gif(bytes(body))


def test_gif_synth_matches_oracle_model_and_dispatch():
    """synth_gif_payload (interlaced for odd-length text) decodes back to
    the md5_expand raster — the closed-form property the media_features_gif
    oracle recomputes in SQL — and dispatches through decode_image and
    real_features."""
    from nlp_lib_spark.operators.mediacodec import (GIF_DIM, decode_image,
                                                    synth_gif_payload)
    for text in ("hello", "four"):  # odd -> interlaced, even -> sequential
        payload = synth_gif_payload(text)
        exp = list(md5_expand(text, GIF_DIM * GIF_DIM))
        assert decode_image(payload) == (GIF_DIM, GIF_DIM, exp)
        feats = real_features(payload)
        assert feats[:5] == [8.0, 8.0, float(min(exp)), float(max(exp)),
                             float(sum(exp))]
        # 4x4 nearest-neighbor resize of the 8x8 raster
        assert feats[5:] == [float(exp[(t // 4) * 16 + (t % 4) * 2])
                             for t in range(16)]


def test_gif_conformance_against_system_giflib():
    """Cross-implementation conformance: encode_gif streams decode
    pixel-exactly under the SYSTEM giflib (the reference C decoder),
    including interlaced layout and >4096-entry streams that cross every
    code-width boundary and a table clear; and decode_gif exactly decodes
    giflib-ENCODED files (foreign LZW emission order)."""
    import random

    from tests.giflib_ref import (AVAILABLE, giflib_decode_gray,
                                  giflib_encode_gray)

    from nlp_lib_spark.operators.mediacodec import decode_gif, encode_gif
    if not AVAILABLE:
        pytest.skip("system giflib not present")
    rng = random.Random(99)
    big = [rng.randrange(256) for _ in range(150 * 200)]
    for name, px, w, h, il in [
        ("seq", big, 150, 200, False),
        ("int", big, 150, 200, True),
        ("runs", (([5] * 997 + [9] * 1003) * 6)[:100 * 120], 100, 120,
         False),
    ]:
        path = f"/tmp/test_gifref_{name}.gif"
        with open(path, "wb") as f:
            f.write(encode_gif(px, w, h, interlaced=il))
        assert giflib_decode_gray(path) == (w, h, px), name
    foreign = "/tmp/test_gifref_foreign.gif"
    giflib_encode_gray(foreign, big, 150, 200)
    with open(foreign, "rb") as f:
        assert decode_gif(f.read()) == (150, 200, big)


# ------------------------------------------------------- animated GIF

@settings(max_examples=40, deadline=None)
@given(st.integers(1, 10), st.integers(1, 9), st.integers(1, 5), st.data())
def test_gif_anim_roundtrip(w, h, n_frames, data):
    from nlp_lib_spark.operators.mediacodec import (decode_gif_anim,
                                                    encode_gif_anim)
    frames = [data.draw(st.lists(st.integers(0, 255), min_size=w * h,
                                 max_size=w * h)) for _ in range(n_frames)]
    blob = encode_gif_anim(frames, w, h)
    assert blob[:6] == b"GIF89a" and b"NETSCAPE2.0" in blob
    assert decode_gif_anim(blob) == (w, h, frames)


def test_gif_anim_rejects_partial_frames_and_garbage():
    import struct

    from nlp_lib_spark.operators.mediacodec import (decode_gif_anim,
                                                    encode_gif, encode_gif_anim)
    with pytest.raises(ValueError):
        decode_gif_anim(b"NOTAGIF")
    with pytest.raises(ValueError):
        encode_gif_anim([], 4, 4)
    # a partial frame (image smaller than the logical screen) must raise,
    # not decode wrong pixels: widen the screen of a 4x4 single-frame GIF
    blob = bytearray(encode_gif(list(range(16)), 4, 4))
    blob[6:8] = struct.pack("<H", 8)  # screen width 8, image still 4x4
    with pytest.raises(ValueError):
        decode_gif_anim(bytes(blob))


def test_gif_anim_synth_matches_oracle_model_and_frame_sample():
    """synth_gif_anim_payload demuxes back to the per-frame md5_expand
    rasters — the closed-form property the media_frames_gif oracle
    recomputes in SQL — and frame_features samples every 2nd frame with
    the image feature contract."""
    from nlp_lib_spark.operators.mediacodec import (GIF_ANIM_FRAMES,
                                                    GIF_DIM,
                                                    decode_gif_anim,
                                                    frame_features,
                                                    synth_gif_anim_payload)
    text = "animated gate corpus"
    payload = synth_gif_anim_payload(text)
    exp = [list(md5_expand(f"{text}#g{k}", GIF_DIM * GIF_DIM))
           for k in range(GIF_ANIM_FRAMES)]
    assert decode_gif_anim(payload) == (GIF_DIM, GIF_DIM, exp)
    ff = frame_features(payload, every_n=2)
    assert [k for k, _ in ff] == [0, 2]
    for k, feats in ff:
        g = exp[k]
        assert feats[:5] == [8.0, 8.0, float(min(g)), float(max(g)),
                             float(sum(g))]
        assert feats[5:] == [float(g[(i // 4) * 16 + (i % 4) * 2])
                             for i in range(16)]


def test_gif_anim_conformance_against_system_giflib():
    """Multi-frame cross-implementation conformance: encode_gif_anim
    streams (with app-extension chain + per-frame interlace) decode
    frame-exactly under the SYSTEM giflib, and giflib-ENCODED multi-image
    files decode exactly under decode_gif_anim."""
    import random

    from tests.giflib_ref import (AVAILABLE, giflib_decode_gray_frames,
                                  giflib_encode_gray_frames)

    from nlp_lib_spark.operators.mediacodec import (decode_gif_anim,
                                                    encode_gif_anim)
    if not AVAILABLE:
        pytest.skip("system giflib not present")
    rng = random.Random(41)
    frames = [[rng.randrange(256) for _ in range(60 * 44)]
              for _ in range(5)]
    path = "/tmp/test_gifanim_ours.gif"
    with open(path, "wb") as f:
        f.write(encode_gif_anim(frames, 60, 44))
    assert giflib_decode_gray_frames(path) == (60, 44, frames)
    foreign = "/tmp/test_gifanim_foreign.gif"
    giflib_encode_gray_frames(foreign, frames, 60, 44)
    with open(foreign, "rb") as f:
        assert decode_gif_anim(f.read()) == (60, 44, frames)


# ---------------------------------------------------------- BI_RLE8 BMP

@settings(max_examples=80, deadline=None)
@given(st.integers(1, 13), st.integers(1, 11), st.integers(0, 2), st.data())
def test_rle8_roundtrip_any_dims(w, h, kind, data):
    from nlp_lib_spark.operators.mediacodec import (decode_bmp,
                                                    encode_bmp_rle8)
    if kind == 0:    # random: absolute-mode heavy
        px = data.draw(st.lists(st.integers(0, 255), min_size=w * h,
                                max_size=w * h))
    elif kind == 1:  # runs-heavy: encoded-mode heavy
        px = data.draw(st.lists(st.sampled_from([7, 7, 7, 9]),
                                min_size=w * h, max_size=w * h))
    else:            # flat: single max-length runs per row
        px = [data.draw(st.integers(0, 255))] * (w * h)
    blob = encode_bmp_rle8(px, w, h)
    assert blob[:2] == b"BM"
    assert struct.unpack_from("<I", blob, 30)[0] == 1  # BI_RLE8
    assert decode_bmp(blob) == (w, h, px)


def test_rle8_delta_and_early_eob_fill_zero():
    """Hand-built escape vectors: pixels skipped by a (0,2) position
    delta or an early end-of-bitmap must decode as palette index 0 (the
    GDI convention), and absolute runs pad to word boundaries."""
    from nlp_lib_spark.operators.mediacodec import (decode_bmp,
                                                    encode_bmp_rle8)
    base = encode_bmp_rle8([0] * 16, 4, 4)
    off = struct.unpack_from("<I", base, 10)[0]
    # rows bottom-up: run(2,200), delta right1 up1, abs(3: 10,20,30)+pad,
    # EOL, then EOB two rows early
    stream = bytes((2, 200,           # bottom row: x=0..1 = 200
                    0, 2, 1, 1,       # skip to x=3, y=1
                    0, 0,             # EOL -> x=0, y=2
                    0, 3, 10, 20, 30, 0,   # abs mode + pad byte
                    0, 1))            # EOB (row y=3 untouched)
    blob = bytearray(base[:off]) + stream
    blob[2:6] = struct.pack("<I", len(blob))
    struct.pack_into("<I", blob, 34, len(stream))
    w, h, gray = decode_bmp(bytes(blob))
    assert (w, h) == (4, 4)
    grid = [gray[r * 4:(r + 1) * 4] for r in range(4)]   # row 0 = top
    assert grid[3] == [200, 200, 0, 0]    # bottom row: the run
    assert grid[2] == [0, 0, 0, 0]        # y=1: delta skipped it entirely
    assert grid[1] == [10, 20, 30, 0]     # y=2: absolute mode
    assert grid[0] == [0, 0, 0, 0]        # y=3: early EOB
    # spec transliteration cross-check of the same stream: the GDI
    # machine, written independently (x/y cursor over a zeroed surface)
    surface = [[0] * 4 for _ in range(4)]
    x = y = p = 0
    while True:
        b0, b1 = stream[p], stream[p + 1]
        p += 2
        if b0:
            for _ in range(b0):
                surface[y][x] = b1
                x += 1
        elif b1 == 0:
            x, y = 0, y + 1
        elif b1 == 1:
            break
        elif b1 == 2:
            x += stream[p]
            y += stream[p + 1]
            p += 2
        else:
            for k in range(b1):
                surface[y][x] = stream[p + k]
                x += 1
            p += b1 + (b1 % 2)
    assert [grid[3 - yy] for yy in range(4)] == surface


def test_rle8_uncompressed_8bpp_and_rejects():
    from nlp_lib_spark.operators.mediacodec import (decode_bmp,
                                                    encode_bmp_rle8)
    # rewrite a 5x3 RLE8 file as BI_RGB 8bpp (stride-padded raw indices)
    px = list(range(15))
    blob = bytearray(encode_bmp_rle8(px, 5, 3))
    off = struct.unpack_from("<I", blob, 10)[0]
    stride = (5 + 3) // 4 * 4
    raw = bytearray()
    for r in (2, 1, 0):  # bottom-up
        row = bytes(px[r * 5:(r + 1) * 5])
        raw += row + b"\x00" * (stride - len(row))
    struct.pack_into("<I", blob, 30, 0)  # BI_RGB
    struct.pack_into("<I", blob, 34, len(raw))
    out = bytes(blob[:off]) + bytes(raw)
    assert decode_bmp(out) == (5, 3, px)
    # top-down RLE8 is invalid per the spec
    bad = bytearray(encode_bmp_rle8(px, 5, 3))
    struct.pack_into("<i", bad, 22, -3)
    with pytest.raises(ValueError):
        decode_bmp(bytes(bad))
    # truncated stream (EOB stripped mid-run)
    with pytest.raises(ValueError):
        decode_bmp(bytes(encode_bmp_rle8(px, 5, 3))[:-3])


def test_rle8_synth_matches_oracle_model_and_dispatch():
    from nlp_lib_spark.operators.mediacodec import (GIF_DIM, decode_image,
                                                    synth_rle8_payload)
    for text in ("hello", "x"):
        payload = synth_rle8_payload(text)
        exp = list(md5_expand(text, GIF_DIM * GIF_DIM))
        assert decode_image(payload) == (GIF_DIM, GIF_DIM, exp)
        feats = real_features(payload)
        assert feats[:5] == [8.0, 8.0, float(min(exp)), float(max(exp)),
                             float(sum(exp))]
        assert feats[5:] == [float(exp[(t // 4) * 16 + (t % 4) * 2])
                             for t in range(16)]


# --------------------------------------------- PCM WAV width/channel variants

@settings(max_examples=40, deadline=None)
@given(st.lists(st.integers(-32768, 32767), min_size=1, max_size=40),
       st.sampled_from([1, 2, 3]), st.sampled_from([1, 2]))
def test_wav_pcm_widths_and_stereo(samples, sampwidth, channels):
    """8-bit WAVs round-trip to the top-byte quantization, 16/24-bit
    exactly; stereo files (both channels = the mono signal) downmix back
    to it exactly under the floor mean."""
    from nlp_lib_spark.operators.mediacodec import decode_wav, encode_wav
    blob = encode_wav(samples, 8000, sampwidth=sampwidth,
                      channels=channels)
    rate, got = decode_wav(blob)
    if sampwidth == 1:
        exp = [((s >> 8) + 128 - 128) << 8 for s in samples]
    else:
        exp = samples
    assert (rate, got) == (8000, exp)


def test_wav_24bit_full_range_and_stereo_mix_vector():
    from nlp_lib_spark.operators.mediacodec import decode_wav, encode_wav
    big = [8_000_000, -8_000_000, 1, -1]
    _, got = decode_wav(encode_wav(big, 8000, sampwidth=3))
    assert got == big
    # hand-interleaved unequal channels: floor mean, negative included
    import io
    import struct
    import wave
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(struct.pack("<6h", 100, 51, -100, -51, 7, -8))
    _, got = decode_wav(buf.getvalue())
    assert got == [(100 + 51) // 2, (-100 - 51) // 2, (7 - 8) // 2]
    with pytest.raises(ValueError):
        encode_wav([0], 8000, sampwidth=4)
