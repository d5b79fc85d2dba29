"""Multimodal plumbing: schema, decode round-trip, feature batch shape,
binary-column pruning, and the real-codec stub contract."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from csv_to_jsonld_processor_spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    return get_spark("multimodal")


def test_decode_roundtrip_and_features(spark, tmp_path):
    from csv_to_jsonld_processor_spark.sources.multimodal import (
        extract_features,
        generate_media,
        synth_blob,
    )

    media = generate_media(spark, 200)
    path = str(tmp_path / "media")
    media.write.parquet(path)
    media = spark.read.parquet(path)

    feats = extract_features(media).collect()
    assert len(feats) == 200
    by_id = {r.media_id: r for r in feats}
    # decoded dims must equal generator metadata
    for r in media.select("media_id", "meta_width", "meta_height", "meta_channels", "kind").collect():
        f = by_id[r.media_id]
        assert (f.width, f.height, f.channels, f.kind) == (
            r.meta_width,
            r.meta_height,
            r.meta_channels,
            r.kind,
        )
        assert len(f.feature_v) == 8
        assert 0.0 <= f.mean_intensity <= 255.0

    # determinism
    blob1, *_ = synth_blob(7)
    blob2, *_ = synth_blob(7)
    assert blob1 == blob2


def test_metadata_projection_prunes_blob(spark, tmp_path):
    from csv_to_jsonld_processor_spark.sources.multimodal import (
        generate_media,
        media_metadata_only,
    )

    path = str(tmp_path / "media2")
    generate_media(spark, 50).write.parquet(path)
    df = media_metadata_only(spark.read.parquet(path))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "blob" not in plan.split("ReadSchema:")[-1]
    assert df.count() == 50


def test_real_codec_is_stubbed():
    from csv_to_jsonld_processor_spark.sources.multimodal import decode_blob, synth_blob

    blob, *_ = synth_blob(1)
    with pytest.raises(NotImplementedError):
        decode_blob(blob, codec="real")


def test_resize_roundtrip(spark):
    """Resized blobs stay valid media: decode round-trips, dims are the
    nearest-neighbor downsample, payload bytes match numpy recompute."""
    import numpy as np

    from csv_to_jsonld_processor_spark.sources.multimodal import (
        decode_blob,
        generate_media,
        resize_media,
        synth_blob,
    )

    media = generate_media(spark, 50)
    out = {r.media_id: r for r in resize_media(media, factor=2).collect()}
    assert len(out) == 50
    for mid in (0, 7, 23):
        blob, kind, w, h, c = synth_blob(mid)
        d = decode_blob(bytes(out[mid].blob))
        assert (d["width"], d["height"], d["channels"]) == ((w + 1) // 2, (h + 1) // 2, c)
        orig = np.frombuffer(decode_blob(blob)["payload"], dtype=np.uint8).reshape(h, w, c)
        want = orig[::2, ::2, :].tobytes()
        assert d["payload"] == want


def test_frame_sampling_videos_only(spark):
    """Every 4th frame of each video row; image/audio rows contribute
    nothing; means match a numpy recompute."""
    import numpy as np

    from csv_to_jsonld_processor_spark.sources.multimodal import (
        decode_blob,
        generate_media,
        sample_frames,
        synth_blob,
    )

    media = generate_media(spark, 60)
    frames = sample_frames(media, every_k=4).collect()
    kinds = {mid: synth_blob(mid)[1] for mid in range(60)}
    vids = {m for m, k in kinds.items() if k == "video"}
    assert {r.media_id for r in frames} == vids
    for r in frames[:20]:
        blob = synth_blob(r.media_id)[0]
        d = decode_blob(blob)
        arr = np.frombuffer(d["payload"], dtype=np.uint8).reshape(
            d["height"], d["width"] * d["channels"]
        )
        assert r.frame_idx % 4 == 0
        assert abs(r.frame_mean - float(arr[r.frame_idx].mean())) < 1e-9


def test_bmp_encode_decode_roundtrip():
    """Real-format codec: encode arbitrary RGB to 24-bit BMP bytes and
    decode back — exact payload identity, incl. odd widths that force
    row padding, plus a spot-check of the on-disk header fields."""
    import struct

    from csv_to_jsonld_processor_spark.sources.multimodal import decode_bmp, encode_bmp

    for w, h in [(1, 1), (3, 2), (5, 4), (8, 8)]:  # w=3,5 exercise padding
        rgb = bytes((i * 7 + w) % 256 for i in range(w * h * 3))
        blob = encode_bmp(w, h, rgb)
        assert blob[:2] == b"BM"
        hdr_w, hdr_h = struct.unpack_from("<ii", blob, 18)
        bpp = struct.unpack_from("<H", blob, 28)[0]
        assert (hdr_w, hdr_h, bpp) == (w, h, 24)
        d = decode_bmp(blob)
        assert (d["width"], d["height"], d["channels"], d["kind"]) == (w, h, 3, "image")
        assert d["payload"] == rgb


def test_bmp_decode_rejects_unsupported():
    import pytest as _pytest

    from csv_to_jsonld_processor_spark.sources.multimodal import decode_bmp

    with _pytest.raises(ValueError):
        decode_bmp(b"PNG?" + b"\x00" * 60)


def test_bmp_media_feature_stage(spark):
    """generate_bmp_media -> extract_features(codec='bmp') through the
    real mapInPandas stage: dims match the sha256 synth and every
    mean_intensity equals the numpy mean of the independently
    regenerated RGB payload."""
    import hashlib

    import numpy as np

    from csv_to_jsonld_processor_spark.sources.multimodal import (
        extract_features,
        generate_bmp_media,
    )

    feats = {
        r.media_id: r
        for r in extract_features(generate_bmp_media(spark, 50, seed=42), codec="bmp")
        .collect()
    }
    assert len(feats) == 50
    for mid in range(50):
        h = hashlib.sha256(f"bmp:42:{mid}".encode()).digest()
        w, ht = 8 + h[1] % 16, 8 + h[2] % 16
        n = w * ht * 3
        rgb = (hashlib.sha256(h).digest() * (n // 32 + 1))[:n]
        r = feats[mid]
        assert (r.width, r.height, r.channels) == (w, ht, 3)
        assert abs(r.mean_intensity - float(np.frombuffer(rgb, np.uint8).mean())) < 1e-9


def test_wav_encode_decode_roundtrip():
    """Real-format audio codec: PCM16 payload identity through the
    stdlib wave encode/decode, mono and stereo."""
    from csv_to_jsonld_processor_spark.sources.multimodal import decode_wav, encode_wav

    for ch in (1, 2):
        frames = 123
        pcm = bytes((i * 13 + ch) % 256 for i in range(frames * ch * 2))
        blob = encode_wav(16000, ch, pcm)
        assert blob[:4] == b"RIFF" and blob[8:12] == b"WAVE"
        d = decode_wav(blob)
        assert (d["kind"], d["width"], d["channels"]) == ("audio", frames, ch)
        assert d["payload"] == pcm


def test_png_encode_decode_roundtrip():
    """All five scanline filters reconstruct byte-exactly (the encoder
    cycles filter type per row), CRCs verify, and hostile inputs fail
    loudly rather than decoding garbage."""
    import hashlib

    from csv_to_jsonld_processor_spark.sources.multimodal import (
        PNG_SIG,
        decode_png,
        encode_png,
        synth_png,
    )

    # deterministic-but-structured payload: gradients + hash noise so
    # Sub/Up/Average/Paeth all produce non-trivial deltas
    w, h = 13, 11  # h >= 5 rows -> every filter type appears at least twice
    rgb = bytes(
        (x * 7 + y * 3 + hashlib.sha256(bytes([x, y, c])).digest()[0]) % 256
        for y in range(h)
        for x in range(w)
        for c in range(3)
    )
    blob = encode_png(w, h, rgb)
    assert blob[: len(PNG_SIG)] == PNG_SIG
    d = decode_png(blob)
    assert (d["width"], d["height"], d["channels"]) == (w, h, 3)
    assert d["payload"] == rgb

    # synth path round-trips too
    sblob, sw, sh = synth_png(7)
    sd = decode_png(sblob)
    assert (sd["width"], sd["height"]) == (sw, sh)

    # corrupt one IDAT byte -> CRC failure, not silent garbage
    bad = bytearray(blob)
    bad[len(blob) // 2] ^= 0xFF
    with pytest.raises(ValueError):
        decode_png(bytes(bad))
    with pytest.raises(ValueError):
        decode_png(b"not a png at all")


def test_png_media_feature_stage(spark):
    """The mapInPandas feature stage decodes real compressed PNG bytes;
    per-image mean equals the synth payload's numpy mean exactly."""
    import hashlib

    import numpy as np

    from csv_to_jsonld_processor_spark.sources.multimodal import (
        extract_features,
        generate_png_media,
    )

    feats = {
        r.media_id: r
        for r in extract_features(generate_png_media(spark, 40), codec="png").collect()
    }
    assert len(feats) == 40
    for mid in (0, 7, 39):
        hh = hashlib.sha256(f"png:42:{mid}".encode()).digest()
        w, ht = 8 + hh[1] % 16, 8 + hh[2] % 16
        n = w * ht * 3
        rgb = (hashlib.sha256(hh).digest() * (n // 32 + 1))[:n]
        r = feats[mid]
        assert (r.width, r.height) == (w, ht)
        assert r.mean_intensity == float(
            np.frombuffer(rgb, dtype=np.uint8).astype(np.float64).mean()
        )


def test_gif_lzw_roundtrip_exact_and_adversarial(spark):
    """GIF-LZW must round-trip byte-exact: the synthetic corpus (vs the
    generator's own rasters, independent of the codec) AND adversarial
    large rasters that force 12-bit codes and dictionary resets."""
    import hashlib

    from csv_to_jsonld_processor_spark.sources.multimodal import (
        decode_gif,
        encode_gif,
        synth_gif,
    )

    for mid in range(60):
        blob, w, h, nf = synth_gif(mid)
        g = decode_gif(blob)
        assert (g["width"], g["height"], g["n_frames"]) == (w, h, nf)
        seed_h = hashlib.sha256(f"gif:42:{mid}".encode()).digest()
        for fi in range(nf):
            n = w * h
            fh = hashlib.sha256(seed_h + bytes([fi])).digest()
            assert g["frames"][fi] == (fh * (n // 32 + 1))[:n]

    for data in [
        (hashlib.sha256(b"x").digest() * 2000)[:60000],
        bytes(range(256)) * 250,
        bytes((i * i) % 256 for i in range(50000)),
        b"\x00" * 30000,
    ]:
        w, h = 200, len(data) // 200
        data = data[: w * h]
        assert decode_gif(encode_gif(w, h, [data]))["frames"][0] == data

    # grayscale palette invariant: index i maps to (i, i, i)
    pal = decode_gif(synth_gif(0)[0])["palette"]
    assert all(pal[3 * i] == pal[3 * i + 1] == pal[3 * i + 2] == i
               for i in range(256))


def test_png_gif_cross_codec_pixel_identity(spark):
    """Two independent codecs, one truth: a grayscale raster encoded as
    RGB PNG and as indexed GIF must decode to identical pixel values
    (PNG channels replicate the gray index) — ties the DEFLATE+filter
    path and the LZW path to the same bytes."""
    import hashlib

    from csv_to_jsonld_processor_spark.sources.multimodal import (
        decode_gif,
        decode_png,
        encode_gif,
        encode_png,
    )

    for seed in (b"a", b"b", b"c"):
        w, h = 24, 16
        gray = (hashlib.sha256(seed).digest() * ((w * h) // 32 + 1))[: w * h]
        rgb = bytes(v for g in gray for v in (g, g, g))
        png = decode_png(encode_png(w, h, rgb))
        gif = decode_gif(encode_gif(w, h, [gray]))
        assert png["width"] == gif["width"] == w
        assert png["height"] == gif["height"] == h
        # PNG payload is RGB; every channel must equal the GIF index
        png_gray = bytes(png["payload"][i * 3] for i in range(w * h))
        assert png_gray == gif["frames"][0] == gray
        assert all(
            png["payload"][i * 3] == png["payload"][i * 3 + 1]
            == png["payload"][i * 3 + 2]
            for i in range(w * h)
        )
