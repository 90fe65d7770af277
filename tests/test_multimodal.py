"""Real-codec multimodal plumbing: BMP/PNG/WAV/AVI writers must be
byte-correct and the struct/zlib-based decoders must invert them
exactly."""

from __future__ import annotations

import pytest

from similarity_search_with_hadoop_mapreduce_spark.operators import multimodal as M


def test_bmp_roundtrip_exact():
    for w, h in [(1, 1), (3, 7), (64, 48), (17, 2)]:
        payload = M._encode_bmp(w, h)
        fmt, width, height, sr, ns, dur, frames = M._decode_payload(payload)
        assert (fmt, width, height, frames) == ("bmp", w, h, 1)
        assert (sr, ns, dur) == (None, None, None)
        row = (w * 3 + 3) // 4 * 4
        assert len(payload) == 54 + row * h  # declared size == real size
        # the file-size field in the header matches the actual bytes
        import struct

        assert struct.unpack_from("<I", payload, 2)[0] == len(payload)


def test_png_roundtrip_exact():
    """The PNG writer/reader pair is a real codec: spec signature, chunk
    CRCs, a valid zlib stream, and every row written with a different
    scanline filter (y % 5) so the decoder must invert all five PNG
    filter types. Pixels must come back exactly."""
    import struct

    for w, h, seed in [(1, 1, 0), (5, 7, 3), (64, 48, 123), (33, 10, 9)]:
        payload = M._encode_png(w, h, seed=seed)
        # header decode path
        fmt, width, height, sr, ns, dur, frames = M._decode_payload(payload)
        assert (fmt, width, height, frames) == ("png", w, h, 1)
        assert (sr, ns, dur) == (None, None, None)
        # closed-form size (one stored-deflate block at these dims)
        assert len(payload) == 68 + (w + 1) * h
        # full pixel decode inverts every filter type exactly
        pw, ph, rows = M._png_pixels(payload)
        assert (pw, ph) == (w, h)
        for y in range(h):
            for x in range(w):
                assert rows[y][x] == (3 * x + 7 * y + seed) % 256, (x, y)
        # the declared IDAT stream really is zlib (decompress accepts it)
        import zlib

        ln, ctype = struct.unpack_from(">I4s", payload, 33)
        assert ctype == b"IDAT"
        raw = zlib.decompress(payload[41 : 41 + ln])
        assert len(raw) == (w + 1) * h


def test_png_corruption_detected():
    """A flipped payload byte breaks either the chunk CRC or the zlib
    adler32 — the decoder must refuse, not return garbage pixels."""
    payload = bytearray(M._encode_png(9, 6, seed=4))
    payload[45] ^= 0xFF  # inside IDAT data
    with pytest.raises(Exception):
        M._png_pixels(bytes(payload))
    truncated = M._encode_png(9, 6, seed=4)[:30]
    with pytest.raises(ValueError):
        M._png_pixels(truncated)


def test_png_bmp_same_content_same_ahash(spark):
    """BMP and PNG carry the same gradient rule, so the perceptual hash
    must be codec-independent — the property that lets one SQL oracle
    pin both pixel-decode paths (and that a real near-dup pipeline
    relies on: a re-encode of the same image is hamming-0)."""
    from similarity_search_with_hadoop_mapreduce_spark.operators.multimodal import (
        image_ahash,
    )

    w, h, seed = 21, 13, 5
    df = spark.createDataFrame(
        [
            (1, bytearray(M._encode_bmp(w, h, seed=seed))),
            (2, bytearray(M._encode_png(w, h, seed=seed))),
        ],
        "doc_id long, payload binary",
    )
    rows = {r.doc_id: r for r in image_ahash(df).collect()}
    assert len(rows) == 2
    for c in ("width", "height", "b0", "b1", "b2", "b3"):
        assert rows[1][c] == rows[2][c], c


def test_wav_roundtrip_exact():
    for rate, n in [(8000, 50), (16000, 549), (44100, 123), (22050, 250)]:
        payload = M._encode_wav(rate, n)
        fmt, width, height, sr, ns, dur, frames = M._decode_payload(payload)
        assert (fmt, sr, ns) == ("wav", rate, n)
        assert dur == n * 1000 // rate
        assert frames == n // 25 + 1
        assert (width, height) == (None, None)
        assert len(payload) == 44 + 2 * n


def test_wav_parser_walks_extra_chunks():
    # a LIST chunk before fmt/data must not break the RIFF walk; odd-sized
    # chunks pad to even per the spec
    import struct

    base = M._encode_wav(8000, 50)
    fmt_and_data = base[12:]
    extra = struct.pack("<4sI", b"LIST", 5) + b"INFOx" + b"\x00"  # padded
    hacked = (
        struct.pack("<4sI4s", b"RIFF", 4 + len(extra) + len(fmt_and_data), b"WAVE")
        + extra
        + fmt_and_data
    )
    fmt, _, _, sr, ns, dur, _ = M._decode_payload(hacked)
    assert (fmt, sr, ns) == ("wav", 8000, 50)


def test_unknown_magic_rejected():
    with pytest.raises(ValueError, match="magic"):
        M._decode_payload(b"GIF89a\x00\x00\x00\x00\x00\x00")
    # a PNG signature with no room for IHDR is truncated, not unknown
    with pytest.raises(ValueError, match="truncated"):
        M._decode_payload(b"\x89PNG\r\n\x1a\n0000")


def test_decode_real_is_explicit_boundary():
    with pytest.raises(NotImplementedError, match="ffmpeg"):
        M.decode_real(b"BM")


def test_decode_media_spark_plumbing(spark):
    docs = spark.createDataFrame(
        [(0, "a" * 70), (1, "b" * 30), (2, "c"), (3, "d" * 600)],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in M.decode_media(M.attach_media_payload(docs)).collect()}
    assert rows[0].format == "bmp" and rows[0].width == 70 % 64 + 1
    assert rows[2].format == "png" and rows[2].height == 2 % 48 + 1
    assert rows[1].format == "wav" and rows[1].sample_rate == M.WAV_RATES[1]
    assert rows[3].format == "wav" and rows[3].n_samples == 600 % 500 + 50
    # frame sampling fans out per sampled frame
    fs = M.frame_sample(M.decode_media(M.attach_media_payload(docs)))
    got = {(r.doc_id, r.frame_idx) for r in fs.collect()}
    n3 = rows[3].n_frames
    assert {(3, i) for i in range(0, n3, 8)} <= got


def test_image_ahash_decodes_real_pixels(spark):
    """The aHash comes off the actual BMP bytes: hand-recompute the 64
    sampled gradient pixels for one image and compare bands bit for
    bit; same-content images hash identically regardless of doc_id."""
    from similarity_search_with_hadoop_mapreduce_spark.operators.multimodal import (
        _encode_bmp,
        image_ahash,
    )

    w, h, seed = 19, 11, 7
    payload = _encode_bmp(w, h, seed=seed)
    df = spark.createDataFrame(
        [(1, bytearray(payload)), (2, bytearray(payload))],
        "doc_id long, payload binary",
    )
    rows = {r.doc_id: r for r in image_ahash(df).collect()}
    # identical bytes -> identical hash (content-addressed, not id-based)
    for c in ("b0", "b1", "b2", "b3"):
        assert rows[1][c] == rows[2][c]
    # pure-Python recomputation from the generation rule
    samples = []
    for by in range(8):
        ys = (2 * by + 1) * h // 16
        for bx in range(8):
            xs = (2 * bx + 1) * w // 16
            samples.append((3 * xs + 7 * ys + seed) % 256)
    total = sum(samples)
    bands = [0, 0, 0, 0]
    for b, v in enumerate(samples):
        if v * 64 >= total:
            bands[b // 16] |= 1 << (b % 16)
    assert [rows[1].b0, rows[1].b1, rows[1].b2, rows[1].b3] == bands
    assert rows[1].width == w and rows[1].height == h


def test_image_hash_pairs_pigeonhole_and_bounds(spark):
    """Any pair within hamming 3 is found (pigeonhole over 4 bands);
    pairs past the threshold are dropped even when a band collides;
    max_hamming > 3 is rejected (the 4-band guarantee would be void)."""
    import pytest as _pytest

    from similarity_search_with_hadoop_mapreduce_spark.operators.multimodal import (
        image_hash_pairs,
    )

    base = (100, 8, 8, 0b1010101010101010, 1234, 40000, 7)
    flip3 = (  # 3 bits flipped, all inside band 1 -> bands 0/2/3 collide
        101, 8, 8, base[3], base[4] ^ 0b111, base[5], base[6]
    )
    far = (102, 8, 8, ~base[3] & 0xFFFF, ~base[4] & 0xFFFF,
           base[5], base[6])  # bands 2/3 collide but hamming 32
    hashes = spark.createDataFrame(
        [base, flip3, far],
        "doc_id long, width int, height int, b0 int, b1 int, b2 int, b3 int",
    )
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in image_hash_pairs(hashes, max_hamming=3).collect()
    }
    assert got == {(100, 101): 3}  # found despite no band-1 match
    with _pytest.raises(ValueError):
        image_hash_pairs(hashes, max_hamming=4)


def test_audio_energy_hash_decodes_real_samples(spark):
    """The energy fingerprint comes off the actual WAV bytes (RIFF walk,
    int16 unpack): hand-recompute the 64-frame energy profile for one
    clip and compare bands bit for bit; identical bytes hash identically
    regardless of doc_id."""
    from similarity_search_with_hadoop_mapreduce_spark.operators.multimodal import (
        _encode_wav,
        audio_energy_hash,
    )

    sr, n, seed = 8000, 130, 5
    payload = _encode_wav(sr, n, seed=seed)
    df = spark.createDataFrame(
        [(1, bytearray(payload)), (2, bytearray(payload))],
        "doc_id long, payload binary",
    )
    rows = {r.doc_id: r for r in audio_energy_hash(df).collect()}
    for c in ("b0", "b1", "b2", "b3"):
        assert rows[1][c] == rows[2][c]
    energy = [0] * 64
    for i in range(n):
        energy[i * 64 // n] += abs(((37 * i + seed) % 2001) - 1000)
    total = sum(energy)
    bands = [0, 0, 0, 0]
    for f, e in enumerate(energy):
        if e * 64 >= total:
            bands[f // 16] |= 1 << (f % 16)
    assert [rows[1].b0, rows[1].b1, rows[1].b2, rows[1].b3] == bands
    assert rows[1].n_samples == n


def test_video_frame_hashes_decode_real_container(spark):
    """Per-frame hashes come off the actual AVI bytes (avih dims, movi
    00db walk): hand-recompute frame 1's bands from the gradient rule;
    frame count and dims match the header; identical payloads hash
    identically."""
    from similarity_search_with_hadoop_mapreduce_spark.operators.multimodal import (
        _encode_avi,
        video_frame_hashes,
    )

    w, h, nf, seed = 9, 6, 3, 4
    payload = _encode_avi(w, h, nf, seed=seed)
    df = spark.createDataFrame(
        [(1, bytearray(payload)), (2, bytearray(payload))],
        "doc_id long, payload binary",
    )
    rows = video_frame_hashes(df).collect()
    by = {}
    for r in rows:
        by.setdefault(r.doc_id, {})[r.frame_idx] = r
    assert set(by[1]) == {0, 1, 2} and by[1] == by[1]
    for f in by[1]:
        for c in ("b0", "b1", "b2", "b3"):
            assert by[1][f][c] == by[2][f][c]
    # rule replay for frame 1
    samples = []
    for by_ in range(8):
        ys = (2 * by_ + 1) * h // 16
        for bx in range(8):
            xs = (2 * bx + 1) * w // 16
            samples.append((3 * xs + 7 * ys + 11 * 1 + seed) % 256)
    total = sum(samples)
    bands = [0, 0, 0, 0]
    for b, v in enumerate(samples):
        if v * 64 >= total:
            bands[b // 16] |= 1 << (b % 16)
    r1 = by[1][1]
    assert [r1.b0, r1.b1, r1.b2, r1.b3] == bands
    assert (r1.width, r1.height) == (w, h)


def test_video_dedup_pairs_frame_voting(spark):
    """The vote is per aligned frame: identical videos match on every
    frame; a video sharing only one of three frame positions with
    another fails the half-of-min threshold."""
    from similarity_search_with_hadoop_mapreduce_spark.operators.multimodal import (
        _encode_avi,
        video_dedup_pairs,
        video_frame_hashes,
    )

    same = _encode_avi(8, 8, 3, seed=1)
    # different seed -> every frame's gradient differs by a large offset
    other = _encode_avi(8, 8, 3, seed=900)
    df = spark.createDataFrame(
        [(1, bytearray(same)), (2, bytearray(same)), (3, bytearray(other))],
        "doc_id long, payload binary",
    )
    pairs = {
        (r.doc_a, r.doc_b): (r.matched_frames, r.min_frames)
        for r in video_dedup_pairs(video_frame_hashes(df)).collect()
    }
    assert pairs[(1, 2)] == (3, 3)  # exact duplicate: all frames match
    # the off-distribution video must not pair with the duplicates at
    # full strength; if it sneaks in via band collisions the vote still
    # reports fewer matched frames than the duplicate pair
    for k, (m, n) in pairs.items():
        if k != (1, 2):
            assert m <= n


def test_image_resize_two_codec_roundtrip(spark):
    """image_resize decodes BMP or PNG pixels, NN-resamples with the
    exact floor mapping, and re-encodes a real PNG the hash operator can
    decode again: identity resize preserves the aHash, BMP and PNG
    sources of the same content resize identically, non-image payloads
    are skipped, and the output byte size is closed-form."""
    w, h, seed = 20, 14, 6
    df = spark.createDataFrame(
        [
            (1, bytearray(M._encode_bmp(w, h, seed=seed))),
            (2, bytearray(M._encode_png(w, h, seed=seed))),
            (3, bytearray(M._encode_wav(8000, 60, seed=seed))),  # skipped
        ],
        "doc_id long, payload binary",
    )
    # identity resize: same dims -> same pixels -> same perceptual hash
    ident = M.image_resize(df, out_w=w, out_h=h)
    orig = {r.doc_id: r for r in M.image_ahash(df).collect()}
    after = {
        r.doc_id: r
        for r in M.image_ahash(ident.select("doc_id", "payload")).collect()
    }
    assert set(after) == {1, 2}  # the WAV row was skipped
    for d in (1, 2):
        for c in ("b0", "b1", "b2", "b3"):
            assert after[d][c] == orig[d][c], (d, c)
    # downsample: both codecs produce the identical resized payload
    rows = {r.doc_id: r for r in M.image_resize(df, 8, 6).collect()}
    assert bytes(rows[1].payload) == bytes(rows[2].payload)
    assert rows[1].n_bytes == 68 + 9 * 6 == len(bytes(rows[1].payload))
    # pixel-exact floor mapping, verified through a full re-decode
    _w, _h, px = M._png_pixels(bytes(rows[1].payload))
    for y2 in range(6):
        for x2 in range(8):
            sx, sy = x2 * w // 8, y2 * h // 6
            assert px[y2][x2] == (3 * sx + 7 * sy + seed) % 256
    import pytest

    with pytest.raises(ValueError, match="dims"):
        M.image_resize(df, 0, 6)


def test_audio_resample_codec_roundtrip(spark):
    """audio_resample decodes WAV samples, nearest-sample converts to the
    target rate, and re-encodes a real WAV the fingerprint operator can
    decode again: identity resample is byte-identical, the NN mapping is
    pinned against Python, and non-WAV payloads are skipped."""
    n, seed = 200, 4
    df = spark.createDataFrame(
        [
            (1, bytearray(M._encode_wav(16000, n, seed=seed))),   # identity
            (2, bytearray(M._encode_wav(44100, n, seed=seed))),   # down
            (3, bytearray(M._encode_wav(8000, n, seed=seed))),    # up
            (4, bytearray(M._encode_bmp(8, 6, seed=seed))),       # skipped
        ],
        "doc_id long, payload binary",
    )
    rows = {r.doc_id: r for r in M.audio_resample(df, out_rate=16000).collect()}
    assert set(rows) == {1, 2, 3}
    # identity: byte-for-byte the original file
    assert bytes(rows[1].payload) == bytes(M._encode_wav(16000, n, seed=seed))
    assert rows[1].n_samples == n
    # down/up sample: exact NN mapping, verified through a full re-decode
    for d, rate in ((2, 44100), (3, 8000)):
        out_n = n * 16000 // rate
        assert rows[d].n_samples == out_n
        assert rows[d].n_bytes == 44 + 2 * out_n == len(bytes(rows[d].payload))
        got_rate, got = M._decode_wav_samples(bytes(rows[d].payload))
        assert got_rate == 16000
        src = [((37 * i + seed) % 2001) - 1000 for i in range(n)]
        assert got == [src[i * n // out_n] for i in range(out_n)]
    import pytest

    with pytest.raises(ValueError, match="rate"):
        M.audio_resample(df, out_rate=0)


def test_video_subsample_container_roundtrip(spark):
    """video_subsample walks the real AVI container, keeps every Nth
    frame, and re-encodes a byte-correct AVI the frame hasher decodes
    again: every_n=1 is byte-identical, kept frames hash identically to
    their source indices, and non-AVI payloads are skipped."""
    docs = spark.createDataFrame(
        [(1, "x" * 30), (2, "y" * 100)], "doc_id long, text string"
    )
    vids = M.attach_video_payload(docs)
    # identity: byte-for-byte container round trip
    ident = {
        r.doc_id: bytes(r.payload)
        for r in M.video_subsample(vids, every_n=1).collect()
    }
    orig = {r.doc_id: bytes(r.payload) for r in vids.collect()}
    assert ident == orig
    # every-2nd-frame: hashes equal the originals at even indices
    sub = M.video_subsample(vids, every_n=2)
    sub_h = {
        (r.doc_id, r.frame_idx): (r.b0, r.b1, r.b2, r.b3)
        for r in M.video_frame_hashes(
            sub.select("doc_id", "payload")
        ).collect()
    }
    orig_h = {
        (r.doc_id, r.frame_idx): (r.b0, r.b1, r.b2, r.b3)
        for r in M.video_frame_hashes(vids).collect()
    }
    assert sub_h  # something was kept
    for (d, k), bands in sub_h.items():
        assert bands == orig_h[(d, 2 * k)], (d, k)
    # closed-form byte size + skip of non-AVI payloads
    meta = {r.doc_id: r for r in sub.collect()}
    for d, r in meta.items():
        stride = (r.width * 3 + 3) // 4 * 4
        assert r.n_bytes == 224 + r.n_frames * (8 + stride * r.height)
        assert r.n_bytes == len(bytes(r.payload))
    mixed = spark.createDataFrame(
        [(9, bytearray(M._encode_bmp(4, 4)))], "doc_id long, payload binary"
    )
    assert M.video_subsample(mixed).count() == 0
    import pytest

    with pytest.raises(ValueError, match="every_n"):
        M.video_subsample(vids, every_n=0)


# ---------------------------------------------------------------------------
# Property tests: the codecs must round-trip ARBITRARY content, not just
# the gradient fixtures — a filter-inverse bug that happens to cancel on
# smooth gradients (e.g. Average vs Paeth confusion on low-contrast rows)
# shows up under random pixels/samples.
# ---------------------------------------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=40, deadline=None)
@given(
    w=st.integers(1, 40),
    h=st.integers(1, 30),
    data=st.data(),
)
def test_png_roundtrips_random_pixels(w, h, data):
    rows = [
        bytes(
            data.draw(
                st.lists(
                    st.integers(0, 255), min_size=w, max_size=w
                )
            )
        )
        for _ in range(h)
    ]
    buf = M._encode_png_rows(rows)
    assert len(buf) == 68 + (w + 1) * h
    pw, ph, got = M._png_pixels(buf)
    assert (pw, ph) == (w, h) and got == rows


@settings(max_examples=40, deadline=None)
@given(
    rate=st.sampled_from([8000, 16000, 22050, 44100]),
    samples=st.lists(st.integers(-32768, 32767), min_size=1, max_size=400),
)
def test_wav_roundtrips_random_samples(rate, samples):
    buf = M._encode_wav_samples(rate, samples)
    got_rate, got = M._decode_wav_samples(buf)
    assert got_rate == rate and got == samples


@settings(max_examples=25, deadline=None)
@given(
    w=st.integers(1, 12),
    h=st.integers(1, 10),
    n_frames=st.integers(1, 5),
    data=st.data(),
)
def test_avi_roundtrips_random_frames(w, h, n_frames, data):
    stride = (w * 3 + 3) // 4 * 4
    frames = [
        bytes(
            data.draw(
                st.lists(
                    st.integers(0, 255),
                    min_size=stride * h,
                    max_size=stride * h,
                )
            )
        )
        for _ in range(n_frames)
    ]
    buf = M._encode_avi_frames(w, h, frames)
    assert len(buf) == 224 + n_frames * (8 + stride * h)
    gw, gh, got, us = M._decode_avi_frames(buf)
    assert (gw, gh) == (w, h) and got == frames
    assert us == 40000  # writer default round-trips through the avih


@settings(max_examples=40, deadline=None)
@given(
    n=st.integers(1, 300),
    out_n=st.integers(1, 300),
)
def test_nn_resample_mapping_properties(n, out_n):
    """The nearest-sample mapping is total (every output index maps to a
    valid source), monotone, and surjective onto a prefix-preserving
    selection (first sample always kept)."""
    idx = [i * n // out_n for i in range(out_n)]
    assert all(0 <= j < n for j in idx)
    assert idx == sorted(idx)
    assert idx[0] == 0


def test_subsample_preserves_clip_duration(spark):
    """Keeping every Nth frame is a frame-RATE reduction, not a clip
    shortening: the re-encoded AVI's per-frame interval is the source
    interval scaled by every_n, so n_frames/2 frames at 2x the interval
    span the same wall-clock duration (ADVICE r7)."""
    buf = M._encode_avi(4, 4, n_frames=6, us_per_frame=33333)
    vids = spark.createDataFrame(
        [(1, bytearray(buf))], "doc_id long, payload binary"
    )
    sub = bytes(M.video_subsample(vids, every_n=3).collect()[0].payload)
    w, h, frames, us = M._decode_avi_frames(sub)
    assert us == 33333 * 3 and len(frames) == 2
    # identity subsample keeps the source timing exactly
    ident = bytes(M.video_subsample(vids, every_n=1).collect()[0].payload)
    assert ident == buf


def test_malformed_payloads_skip_not_crash(spark):
    """A payload that passes the magic-byte check but is truncated or
    corrupt is SKIPPED, matching the non-matching-magic skip semantics —
    one bad row must not fail the whole mapInPandas job (ADVICE r7)."""
    png = M._encode_png(8, 6, seed=3)
    wav = M._encode_wav(8000, 100, seed=1)
    avi = M._encode_avi(4, 4, n_frames=3)
    bmp = M._encode_bmp(8, 6, seed=2)
    rows = [
        (1, bytearray(png)),
        (2, bytearray(png[:20])),          # truncated PNG
        (3, bytearray(wav[:16])),          # truncated WAV
        (4, bytearray(avi[: len(avi) - 30])),  # truncated AVI tail
        (5, bytearray(png[:29] + bytes([png[29] ^ 0xFF]) + png[30:])),  # bad CRC
        (6, bytearray(bmp[:40])),          # truncated BMP header->skip
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    assert [r.doc_id for r in M.image_resize(df).collect()] == [1]
    assert [r.doc_id for r in M.image_ahash(df).collect()] == [1]
    assert M.audio_resample(df).count() == 0  # only corrupt WAV present
    wdf = spark.createDataFrame(
        [(7, bytearray(wav)), (8, bytearray(wav[:16]))],
        "doc_id long, payload binary",
    )
    assert [r.doc_id for r in M.audio_resample(wdf).collect()] == [7]
    # truncated AVI: whole frames still hash; the cut tail frame skips
    vs = M.video_subsample(df.where("doc_id = 4"), every_n=1)
    assert vs.count() <= 1  # decoded-what-fits or skipped, never raised
    hashes = M.video_frame_hashes(df.where("doc_id = 4"))
    assert hashes.count() == 2  # 3 frames, last one truncated away


def test_encode_avi_frames_rejects_wrong_length_body(spark):
    """_encode_avi_frames stamps chunk sizes as stride*height — a body
    of any other length would silently corrupt the container, so it
    must raise instead (ADVICE r7)."""
    import pytest

    with pytest.raises(ValueError, match="frame body"):
        M._encode_avi_frames(4, 4, [b"\x00" * 10])


# ---------------------------------------------------------------------------
# Baseline JPEG codec (r8): the lossy member of the codec set. Flat
# blocks must round-trip through the EXACT closed-form DC rule the SQL
# oracle replays; arbitrary content must decode within quantization
# error; the container must be spec-shaped and reject corruption.
# ---------------------------------------------------------------------------


def test_jpeg_flat_blocks_exact_closed_form():
    from similarity_search_with_hadoop_mapreduce_spark.operators import jpeg as J

    for w, h, seed in [(1, 1, 0), (24, 16, 5), (64, 48, 123), (17, 9, 250)]:
        rows = [
            bytes((3 * (x // 8) + 7 * (y // 8) + seed) % 256 for x in range(w))
            for y in range(h)
        ]
        buf = J.encode_jpeg_gray(w, h, rows)
        assert buf[:3] == b"\xff\xd8\xff" and buf[-2:] == b"\xff\xd9"
        gw, gh, got = J.decode_jpeg_gray(buf)
        assert (gw, gh) == (w, h)
        for y in range(h):
            for x in range(w):
                assert got[y][x] == J.flat_roundtrip_value(rows[y][x]), (x, y)


def test_jpeg_general_content_bounded_error():
    """The codec is general, not flat-only: smooth content decodes
    within a few grey levels; pure noise within the loss the Annex K
    table allows. hypothesis drives arbitrary block content."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from similarity_search_with_hadoop_mapreduce_spark.operators import jpeg as J

    w, h = 64, 48
    img = [[(x + y) % 256 for x in range(w)] for y in range(h)]
    buf = J.encode_jpeg_gray(w, h, [bytes(r) for r in img])
    _, _, got = J.decode_jpeg_gray(buf)
    err = max(
        abs(got[y][x] - img[y][x]) for y in range(h) for x in range(w)
    )
    assert err <= 4, err  # smooth gradient: near-lossless

    @settings(max_examples=25, deadline=None)
    @given(
        data=st.lists(st.integers(0, 255), min_size=64, max_size=64),
    )
    def one_block(data):
        rows = [bytes(data[y * 8 : y * 8 + 8]) for y in range(8)]
        b = J.encode_jpeg_gray(8, 8, rows)
        _, _, dec = J.decode_jpeg_gray(b)
        a = np.array(data).reshape(8, 8)
        d = np.array([list(r) for r in dec])
        # quantization loss bound: sum of quant steps / 8 is the worst
        # per-pixel IDCT error; random noise stays well inside 255
        assert np.abs(a - d).max() <= 200
        # energy is roughly preserved (codec is not returning garbage)
        assert abs(float(a.mean()) - float(d.mean())) <= 17  # DC quantum 16

    one_block()


def test_jpeg_malformed_rejected():
    import pytest

    from similarity_search_with_hadoop_mapreduce_spark.operators import jpeg as J

    rows = [bytes(range(16))] * 4
    buf = J.encode_jpeg_gray(16, 4, rows)
    for bad in (
        buf[:10],                         # truncated in headers
        buf[: len(buf) // 2],             # truncated mid-scan
        b"\xff\xd8\xff\xe0XX",            # no segments
        buf.replace(b"\xff\xc0", b"\xff\xc2", 1),  # progressive SOF
    ):
        with pytest.raises(ValueError):
            J.decode_jpeg_gray(bad)
    with pytest.raises(ValueError):
        J.encode_jpeg_gray(0, 4, [])


def test_jpeg_ahash_branch_and_mixed_corpus(spark):
    """image_ahash decodes the real JPEG payloads (values equal the
    closed-form flat rule recomputation), skips truncated JPEGs, and
    coexists with BMP/PNG in one corpus."""
    from similarity_search_with_hadoop_mapreduce_spark.operators import jpeg as J

    docs = spark.createDataFrame(
        [(2, "x" * 30), (4, "y" * 100)], "doc_id long, text string"
    )
    jp = M.attach_jpeg_payload(docs)
    rows = {r.doc_id: r for r in M.image_ahash(jp).collect()}
    assert set(rows) == {2, 4}
    for doc_id, n_text in [(2, 30), (4, 100)]:
        w, h = n_text % 64 + 1, doc_id % 48 + 1
        samples = []
        for by in range(8):
            ys = (2 * by + 1) * h // 16
            for bx in range(8):
                xs = (2 * bx + 1) * w // 16
                v = (3 * (xs // 8) + 7 * (ys // 8) + doc_id) % 256
                samples.append(J.flat_roundtrip_value(v))
        total = sum(samples)
        bands = [0, 0, 0, 0]
        for b, v in enumerate(samples):
            if v * 64 >= total:
                bands[b // 16] |= 1 << (b % 16)
        got = rows[doc_id]
        assert [got.b0, got.b1, got.b2, got.b3] == bands, doc_id
        assert (got.width, got.height) == (w, h)
    # mixed corpus: one of each codec + one truncated JPEG (skipped)
    jbuf = bytes(jp.collect()[0].payload)
    mixed = spark.createDataFrame(
        [
            (1, bytearray(M._encode_bmp(9, 7, seed=1))),
            (2, bytearray(M._encode_png(9, 7, seed=1))),
            (3, bytearray(jbuf)),
            (4, bytearray(jbuf[:40])),
        ],
        "doc_id long, payload binary",
    )
    assert {r.doc_id for r in M.image_ahash(mixed).collect()} == {1, 2, 3}


def test_band_pair_star_cap_bounds_and_preserves_clusters(spark):
    """max_bucket on the banded pair families (r8): a mass-duplicate
    bucket of g identical images emits g-1 rep-anchored star pairs
    instead of g(g-1)/2; connected components through the rep equal the
    uncapped clusters; cap=None is unchanged; under-cap buckets keep
    the full pair set."""
    g = 12
    payload = M._encode_bmp(16, 12, seed=3)
    other = M._encode_bmp(40, 30, seed=200)
    rows = [(i, bytearray(payload)) for i in range(g)]
    rows += [(100, bytearray(other)), (101, bytearray(other))]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    hashes = M.image_ahash(df)
    full = M.image_hash_pairs(hashes, max_hamming=3)
    capped = M.image_hash_pairs(hashes, max_hamming=3, max_bucket=4)
    fp = {(r.doc_a, r.doc_b) for r in full.collect()}
    cp = {(r.doc_a, r.doc_b) for r in capped.collect()}
    assert cp <= fp
    # the g-clone group: full = g(g-1)/2 pairs, capped = the g-1 star
    big_full = {p for p in fp if p[0] < g and p[1] < g}
    big_cap = {p for p in cp if p[0] < g and p[1] < g}
    assert len(big_full) == g * (g - 1) // 2
    assert big_cap == {(0, i) for i in range(1, g)}
    # the small (under-cap) group keeps its exact pair
    assert (100, 101) in cp
    # connectivity: union-find over capped pairs reproduces the clusters
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in cp:
        parent[find(a)] = find(b)
    assert len({find(i) for i in range(g)}) == 1
    # None = unchanged
    assert {
        (r.doc_a, r.doc_b)
        for r in M.image_hash_pairs(hashes, max_bucket=None).collect()
    } == fp
    import pytest

    with pytest.raises(ValueError, match="max_bucket"):
        M.image_hash_pairs(hashes, max_bucket=1)


def test_video_dedup_star_cap(spark):
    """video_dedup_pairs' max_bucket: mass-duplicate videos vote only on
    rep-anchored pairs — the rep still matches every clone (full vote),
    non-rep clone pairs drop, under-cap pairs unchanged."""
    g = 8
    buf = M._encode_avi(6, 6, n_frames=4, seed=9)
    other = M._encode_avi(8, 5, n_frames=3, seed=77)
    rows = [(i, bytearray(buf)) for i in range(g)]
    rows += [(100, bytearray(other)), (101, bytearray(other))]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    fh = M.video_frame_hashes(df)
    full = {(r.doc_a, r.doc_b) for r in M.video_dedup_pairs(fh).collect()}
    capped_rows = M.video_dedup_pairs(fh, max_bucket=3).collect()
    capped = {(r.doc_a, r.doc_b) for r in capped_rows}
    assert capped <= full
    assert {p for p in capped if p[0] < g} == {(0, i) for i in range(1, g)}
    assert (100, 101) in capped
    # rep-anchored votes are COMPLETE: every clone pair matches all 4
    # frames
    for r in capped_rows:
        if r.doc_a == 0 and r.doc_b < g:
            assert r.matched_frames == 4 and r.min_frames == 4


def test_band_pair_star_cap_census_and_default(spark):
    """r9: image/video pair joins default to max_bucket=1000 and expose
    the same overflow census as the text families via stats."""
    import inspect

    from similarity_search_with_hadoop_mapreduce_spark.operators.dedup import (
        overflow_census,
    )

    for fn in (M.image_hash_pairs, M.video_dedup_pairs):
        assert inspect.signature(fn).parameters["max_bucket"].default == 1000

    g = 12
    payload = M._encode_bmp(16, 12, seed=3)
    rows = [(i, bytearray(payload)) for i in range(g)]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    hashes = M.image_ahash(df)
    stats = {}
    capped = M.image_hash_pairs(hashes, max_hamming=3, max_bucket=4,
                                stats=stats)
    assert {(r.doc_a, r.doc_b) for r in capped.collect()} == {
        (0, i) for i in range(1, g)
    }
    census = overflow_census(stats)
    # g identical hashes -> all 4 bands' buckets overflow
    assert census["overflow_buckets"] == 4
    assert census["overflow_docs"] == 4 * g

    buf = M._encode_avi(6, 6, n_frames=4, seed=9)
    vrows = [(i, bytearray(buf)) for i in range(8)]
    vdf = spark.createDataFrame(vrows, "doc_id long, payload binary")
    fh = M.video_frame_hashes(vdf)
    vstats = {}
    vp = M.video_dedup_pairs(fh, max_bucket=3, stats=vstats)
    assert {(r.doc_a, r.doc_b) for r in vp.collect()} == {
        (0, i) for i in range(1, 8)
    }
    vcensus = overflow_census(vstats)
    # 8 identical videos x 4 frames x 4 bands of over-cap buckets
    assert vcensus["overflow_buckets"] == 16
    assert vcensus["overflow_docs"] == 16 * 8


def test_jpeg_restart_interval_and_fill_bytes_roundtrip():
    """r9 (ADVICE): DRI/restart streams decode identically to the plain
    stream (byte-aligned RST sync, modulo-8 cycle, DC predictor reset),
    and spec-legal 0xFF fill bytes before markers (B.1.1.2) are
    tolerated by the marker walk."""
    import random

    from similarity_search_with_hadoop_mapreduce_spark.operators import jpeg as J

    rnd = random.Random(11)
    for w, h in [(1, 1), (9, 17), (24, 24), (40, 33)]:
        rows = [bytes(rnd.randrange(256) for _ in range(w)) for _ in range(h)]
        plain = J.encode_jpeg_gray(w, h, rows)
        base = J.decode_jpeg_gray(plain)
        for ri in (1, 2, 7, 1000):
            buf = J.encode_jpeg_gray(w, h, rows, restart_interval=ri)
            if ri < ((w + 7) // 8) * ((h + 7) // 8):
                # restarts sit BETWEEN interval groups, so they appear
                # only when more than one group exists
                assert b"\xff\xdd" in buf and b"\xff\xd0" in buf
            assert J.decode_jpeg_gray(buf) == base
        # inject fill bytes before every table/frame/scan marker
        out = bytearray()
        i = 0
        while i < len(plain) - 1:
            if plain[i] == 0xFF and plain[i + 1] in (0xDB, 0xC0, 0xC4, 0xDA):
                out += b"\xff\xff"  # fill bytes; marker's own FF follows
            out.append(plain[i])
            i += 1
        out.append(plain[-1])
        assert J.decode_jpeg_gray(bytes(out)) == base
    import pytest

    with pytest.raises(ValueError, match="restart_interval"):
        J.encode_jpeg_gray(8, 8, [bytes(8)] * 8, restart_interval=0)
    # out-of-sequence restart marker is rejected
    buf = bytearray(J.encode_jpeg_gray(24, 24, [bytes(range(24))] * 24,
                                       restart_interval=1))
    k = buf.find(b"\xff\xd0")
    assert k != -1
    buf[k + 1] = 0xD5  # wrong modulo-8 index
    with pytest.raises(ValueError, match="restart"):
        J.decode_jpeg_gray(bytes(buf))
