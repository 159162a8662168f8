"""Multimodal plumbing: batch shapes and the loud decode stub."""

from __future__ import annotations

import pytest

from fledge_south_csvplayback_spark.operators import multimodal as M
from tests.conftest import TEST_SF_DIR


def test_decode_stub_fails_loudly_for_real_media():
    with pytest.raises(NotImplementedError):
        M._decode_stub("image/png", b"\x89PNG")


# --- real PPM decode -----------------------------------------------------
def _ppm(w, h, pixels, maxval=255, header_extra=""):
    head = f"P6{header_extra}\n{w} {h}\n{maxval}\n".encode()
    return head + bytes(pixels)


def test_ppm_parser_roundtrip_and_comments():
    px = [(i * 7) % 256 for i in range(2 * 2 * 3)]
    w, h, maxval, buf = M._decode_ppm(_ppm(2, 2, px))
    assert (w, h, maxval) == (2, 2, 255)
    assert list(buf) == px
    # netpbm comments anywhere in the header
    payload = b"P6 # comment\n# another line\n 2\t2 # dims\n255\n" + bytes(px)
    assert M._decode_ppm(payload) == (2, 2, 255, bytes(px))


def test_ppm_parser_rejects_malformed():
    px = [0] * 12
    with pytest.raises(ValueError, match="magic"):
        M._decode_ppm(b"P5\n2 2\n255\n" + bytes(px))
    with pytest.raises(ValueError, match="buffer"):
        M._decode_ppm(_ppm(2, 2, px[:-1]))  # one byte short
    with pytest.raises(ValueError, match="maxval"):
        M._decode_ppm(_ppm(2, 2, px, maxval=65535))
    with pytest.raises(ValueError, match="truncated"):
        M._decode_ppm(b"P6\n2 2")


def test_image_stats_hand_computed(spark, tmp_path):
    """One 9x8 image decoded by hand through the same pixel formula:
    sums and dHash match the python-side recomputation bit for bit."""
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        [(7, "x", "en", "s", 1)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.parquet(f"{sf_dir}/documents.parquet")
    got = M.multimodal_image_stats(spark, sf_dir).collect()[0]
    px = [(7 * 131 + i * 17) % 256 for i in range(9 * 8 * 3)]
    assert (got.width, got.height, got.maxval) == (9, 8, 255)
    assert got.sum_r == sum(px[0::3])
    assert got.sum_g == sum(px[1::3])
    assert got.sum_b == sum(px[2::3])
    gray = [(px[3 * k] + px[3 * k + 1] + px[3 * k + 2]) // 3 for k in range(72)]
    want = ""
    for r in range(8):
        byte = 0
        for c in range(8):
            if gray[r * 9 + c] < gray[r * 9 + c + 1]:
                byte |= 1 << (7 - c)
        want += f"{byte:02x}"
    assert got.dhash == want


def test_image_dhash_brightness_invariant():
    """dHash keys on gradient SIGNS: a uniform brightness shift leaves
    every adjacent comparison unchanged, so the hash collides — the
    property that makes it a near-dup signature."""
    base = [(i * 13 + (i * i) % 37) % 200 for i in range(9 * 8 * 3)]
    shifted = [v + 55 for v in base]  # stays <= 255

    def dhash(px):
        gray = [
            (px[3 * k] + px[3 * k + 1] + px[3 * k + 2]) // 3 for k in range(72)
        ]
        out = ""
        for r in range(8):
            byte = 0
            for c in range(8):
                if gray[r * 9 + c] < gray[r * 9 + c + 1]:
                    byte |= 1 << (7 - c)
            out += f"{byte:02x}"
        return out

    assert dhash(base) == dhash(shifted)
    # sanity: a genuinely different image differs
    other = [(i * 91 + 3) % 256 for i in range(9 * 8 * 3)]
    assert dhash(base) != dhash(other)


def test_image_neardup_oracle_parity(spark):
    """Blocked dHash band join == the DuckDB oracle (same 28 tables,
    same per-band XOR popcount) at sf0.001."""
    from tests.oracle_harness import compare

    df = M.image_neardup_pairs(spark, TEST_SF_DIR)
    ok, msg = compare(df, M.IMAGE_NEARDUP_SQL, TEST_SF_DIR)
    assert ok, msg


def test_image_neardup_planted_and_validation(spark, tmp_path):
    """doc_id and doc_id+256 render the identical image (the pixel
    formula is 256-periodic in doc_id), so the pair comes back at
    Hamming 0; the exact-detection bound is enforced."""
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        [(d, "x", "en", "s", 1) for d in (5, 261, 1000)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.parquet(f"{sf_dir}/documents.parquet")
    rows = {
        (r.doc_a, r.doc_b): r.hamming
        for r in M.image_neardup_pairs(spark, sf_dir).collect()
    }
    assert rows[(5, 261)] == 0
    with pytest.raises(ValueError, match="exact-detection"):
        M.image_neardup_pairs(spark, sf_dir, max_hamming=7)
    with pytest.raises(ValueError, match="1 <= m"):
        M.image_neardup_pairs(spark, sf_dir, m=0)


def _ref_image_stats(w, h, buf):
    """Pure-Python reference for image_stats' per-image math (channel
    sums + row-packed dHash with ceil((w-1)/4) hex digits per row)."""
    gray = [(buf[3 * k] + buf[3 * k + 1] + buf[3 * k + 2]) // 3 for k in range(w * h)]
    digits = -(-(w - 1) // 4)
    hh = []
    for r in range(h):
        byte = 0
        for c in range(w - 1):
            if gray[r * w + c] < gray[r * w + c + 1]:
                byte |= 1 << (w - 2 - c)
        hh.append(f"{byte:0{digits}x}")
    return (
        sum(buf[0::3]), sum(buf[1::3]), sum(buf[2::3]), "".join(hh),
    )


def test_image_stats_mixed_geometry_scalar_and_vector_paths(spark):
    """One batch mixing w=9 (vectorized numpy path) and w=5 / w=13
    (scalar fallback) images: every row matches the pure-Python
    reference byte for byte, pinning both dispatch paths and the
    per-(w,h) group split."""
    geoms = {1: (9, 8), 2: (5, 4), 3: (13, 2), 4: (9, 8), 5: (2, 2)}
    rows, want = [], {}
    for d, (w, h) in geoms.items():
        px = bytes((d * 37 + i * 11) % 256 for i in range(w * h * 3))
        rows.append((d, bytearray(_ppm(w, h, px))))
        want[d] = (w, h) + _ref_image_stats(w, h, px)
    media = spark.createDataFrame(rows, "doc_id long, payload binary").coalesce(1)
    got = {r.doc_id: r for r in M.image_stats(media).collect()}
    assert set(got) == set(want)
    for d, (w, h, sr, sg, sb, dh) in want.items():
        r = got[d]
        assert (r.width, r.height, r.maxval) == (w, h, 255), d
        assert (r.sum_r, r.sum_g, r.sum_b, r.dhash) == (sr, sg, sb, dh), d


def test_image_neardup_precomputed_stats(spark, tmp_path):
    """The ``stats=`` injection point: a precomputed (doc_id, dhash)
    frame drives the join without re-decoding, and a frame missing the
    hash column is rejected."""
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        [(d, "x", "en", "s", 1) for d in (5, 261, 1000)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.parquet(f"{sf_dir}/documents.parquet")
    pre = M.image_stats(M.image_table(spark, sf_dir)).select("doc_id", "dhash")
    rows = {
        (r.doc_a, r.doc_b): r.hamming
        for r in M.image_neardup_pairs(spark, sf_dir, stats=pre).collect()
    }
    assert rows[(5, 261)] == 0
    with pytest.raises(ValueError, match="lacks column"):
        M.image_neardup_pairs(
            spark, sf_dir, stats=pre.select("doc_id")
        )


# --- real AVI video decode ------------------------------------------------
def _avi_payload(doc_id, w=M.VID_W, h=M.VID_H, nf=M.VID_FRAMES):
    """Pure-Python replica of ``video_table``'s payload build: logical
    top-down RGB formula laid out as bottom-up BGR rows padded to the
    4-byte stride."""
    import struct

    stride = ((w * 3 + 3) // 4) * 4
    out = bytearray(M._avi_header_bytes(w, h, nf))
    for f in range(nf):
        out += b"00db" + struct.pack("<I", stride * h)
        for j in range(stride * h):
            sr, o = divmod(j, stride)
            if o >= w * 3:
                out.append(0)
            else:
                r = h - 1 - sr
                c, bch = divmod(o, 3)
                i = (r * w + c) * 3 + (2 - bch)
                out.append((doc_id * 131 + f * 37 + i * 17) % 256)
    return bytes(out)


def _normalize_frame(fr, w, h, stride, bottom_up):
    """Undo padding/flip/swap by hand -> logical top-down RGB bytes."""
    logical = []
    for r in range(h):
        sr = h - 1 - r if bottom_up else r
        row = fr[sr * stride : sr * stride + w * 3]
        for c in range(w):
            b, g, rr = row[3 * c : 3 * c + 3]
            logical += [rr, g, b]
    return logical


def test_avi_parser_roundtrip_and_malformed():
    import struct

    pay = _avi_payload(3)
    w, h, bottom_up, stride, frames = M._decode_avi(pay)
    assert (w, h, bottom_up, stride) == (
        M.VID_W, M.VID_H, True, M.VID_STRIDE,
    )
    assert len(frames) == M.VID_FRAMES
    for f, fr in enumerate(frames):
        expect = [
            (3 * 131 + f * 37 + i * 17) % 256 for i in range(w * h * 3)
        ]
        assert _normalize_frame(fr, w, h, stride, bottom_up) == expect
    # malformed inputs fail loudly
    with pytest.raises(ValueError):
        M._decode_avi(b"RIFX" + pay[4:])
    with pytest.raises(ValueError):
        M._decode_avi(pay[:-10])  # truncated final frame chunk
    # avih dwTotalFrames (5th DWORD of the avih body at offset 32)
    assert struct.unpack_from("<I", pay, 48)[0] == M.VID_FRAMES
    bad = bytearray(pay)
    struct.pack_into("<I", bad, 48, 9)
    with pytest.raises(ValueError, match="declares 9 frames"):
        M._decode_avi(bytes(bad))
    # strf biBitCount (offset 14 into the strf body at offset 172)
    assert struct.unpack_from("<H", pay, 186)[0] == 24
    bad = bytearray(pay)
    struct.pack_into("<H", bad, 186, 8)
    with pytest.raises(ValueError, match="24bpp"):
        M._decode_avi(bytes(bad))


def test_avi_padding_bytes_ignored():
    """Junk in the stride padding must not reach the logical plane."""
    pay = bytearray(_avi_payload(7))
    hdr = len(M._avi_header_bytes(M.VID_W, M.VID_H, M.VID_FRAMES))
    fb = M.VID_STRIDE * M.VID_H
    for f in range(M.VID_FRAMES):
        base = hdr + f * (8 + fb) + 8
        for sr in range(M.VID_H):
            for o in range(M.VID_W * 3, M.VID_STRIDE):
                pay[base + sr * M.VID_STRIDE + o] = 0xFF
    w, h, bu, stride, frames = M._decode_avi(bytes(pay))
    _, _, _, _, clean = M._decode_avi(_avi_payload(7))
    for fr, cl in zip(frames, clean):
        assert _normalize_frame(fr, w, h, stride, bu) == _normalize_frame(
            cl, w, h, stride, bu
        )


def test_video_stats_zero_frame_avi(spark):
    """A zero-frame AVI is valid (avih declares 0, movi empty): alone
    it yields zero rows instead of an opaque lexsort ValueError, and
    in a mixed batch it must not suppress the other docs' frames."""
    empty = _avi_payload(3, nf=0)
    full = _avi_payload(5)
    media = spark.createDataFrame(
        [(3, bytearray(empty))], "doc_id long, payload binary"
    )
    assert M.video_stats(media).count() == 0
    mixed = spark.createDataFrame(
        [(3, bytearray(empty)), (5, bytearray(full))],
        "doc_id long, payload binary",
    ).repartition(1)
    rows = M.video_stats(mixed).collect()
    assert sorted({r.doc_id for r in rows}) == [5]
    assert len(rows) == M.VID_FRAMES


def test_video_stats_oracle_parity(spark):
    """End-to-end AVI encode -> parse -> per-frame stats matches the
    closed-form DuckDB recomputation of the LOGICAL pixel formula —
    any stride/flip/BGR bug in build or decode is a value mismatch."""
    from tests.conftest import ORACLE_SF_DIR
    from tests.oracle_harness import compare

    for sf_dir in (TEST_SF_DIR, ORACLE_SF_DIR):
        df = M.multimodal_video_stats(spark, sf_dir)
        ok, msg = compare(df, M.MULTIMODAL_VIDEO_STATS_SQL, sf_dir)
        assert ok, msg


def test_video_frame0_matches_image_stats(spark):
    """Frame 0's logical plane IS the PPM image's, but the two ops
    round-trip through different containers and storage layouts
    (netpbm top-down RGB vs DIB bottom-up BGR padded) — equality
    cross-checks both decoders against each other."""
    v = (
        M.multimodal_video_stats(spark, TEST_SF_DIR)
        .filter("frame_idx = 0")
        .select("doc_id", "sum_r", "sum_g", "sum_b", "dhash")
        .alias("v")
    )
    i = (
        M.multimodal_image_stats(spark, TEST_SF_DIR)
        .select("doc_id", "sum_r", "sum_g", "sum_b", "dhash")
        .alias("i")
    )
    j = v.join(i, "doc_id")
    n_docs = spark.read.parquet(f"{TEST_SF_DIR}/documents.parquet").count()
    assert j.count() == n_docs
    assert (
        j.filter(
            "v.sum_r != i.sum_r OR v.sum_g != i.sum_g "
            "OR v.sum_b != i.sum_b OR v.dhash != i.dhash"
        ).count()
        == 0
    )


# --- round-9 review hardening ----------------------------------------------
def test_ppm_comment_glued_to_token():
    """A '#' immediately after a header token is spec-legal (comments
    live in header whitespace); the comment's newline IS the single
    whitespace before the raster."""
    raster = bytes((i * 3) % 256 for i in range(9 * 8 * 3))
    pay = b"P6\n9# width comment\n8\n255# maxval comment\n" + raster
    w, h, maxval, buf = M._decode_ppm(pay)
    assert (w, h, maxval) == (9, 8, 255)
    assert buf == raster
    with pytest.raises(ValueError, match="non-numeric"):
        M._decode_ppm(b"P6\nab 8\n255\n" + raster)


def test_undersized_header_chunks_rejected():
    """Declared chunk sizes below the fixed header layouts fail as
    ValueError instead of leaking struct.error or reading neighbors."""
    import struct

    pay = bytearray(_avi_payload(1))
    # shrink the declared avih size (offset 28 is its size field)
    assert pay[24:28] == b"avih"
    struct.pack_into("<I", pay, 28, 40)
    with pytest.raises(ValueError, match="need >= 56"):
        M._decode_avi(bytes(pay))


def test_video_scalar_dhash_matches_image_convention(spark):
    """Non-standard widths take the scalar fallback, which packs each
    row RIGHT-aligned like image_stats' scalar path (packbits would
    left-align the trailing byte and break cross-joining)."""
    w, h, nf = 5, 3, 2
    pay = _avi_payload(3, w=w, h=h, nf=nf)
    media = spark.createDataFrame(
        [(3, bytearray(pay))], "doc_id long, payload binary"
    )
    rows = {r.frame_idx: r for r in M.video_stats(media).collect()}
    assert len(rows) == nf
    nhex = -(-(w - 1) // 4)
    for f in range(nf):
        logical = [(3 * 131 + f * 37 + i * 17) % 256 for i in range(w * h * 3)]
        gray = [
            (logical[3 * k] + logical[3 * k + 1] + logical[3 * k + 2]) // 3
            for k in range(w * h)
        ]
        expect = []
        for r in range(h):
            byte = 0
            for c in range(w - 1):
                if gray[r * w + c] < gray[r * w + c + 1]:
                    byte |= 1 << (w - 2 - c)
            expect.append(f"{byte:0{nhex}x}")
        assert rows[f].dhash == "".join(expect)


def test_band_join_rejects_wrong_length_hashes(spark):
    """A fingerprint that is not 2*n_bands hex chars raises instead of
    silently NULLing the Hamming sum and dropping every pair."""
    bad = spark.createDataFrame(
        [(1, "aabb"), (2, "aabb")], "doc_id long, dhash string"
    )
    with pytest.raises(Exception, match="hex chars"):
        M.image_neardup_pairs(spark, TEST_SF_DIR, stats=bad).collect()


# --- image resize (box downsample) ----------------------------------------
def test_image_resize_pipeline_oracle_parity(spark):
    """decode -> box-resize to the dHash geometry -> re-decode ->
    stats+hash matches the closed-form DuckDB recomputation of the box
    means over the 18x16 formula plane."""
    from tests.conftest import ORACLE_SF_DIR
    from tests.oracle_harness import compare

    for sf in (TEST_SF_DIR, ORACLE_SF_DIR):
        df = M.multimodal_image_resize_stats(spark, sf)
        ok, msg = compare(df, M.MULTIMODAL_IMAGE_RESIZE_SQL, sf)
        assert ok, msg


def test_image_resize_emits_valid_ppm_and_box_means(spark):
    """The emitted payload is a parseable PPM of the target geometry
    and each output pixel is the exact floor-mean of its 2x2 block."""
    media = M.image_table_large(spark, TEST_SF_DIR).limit(3)
    rows = M.image_resize(media, M.IMG_W, M.IMG_H).collect()
    for r in rows:
        w, h, maxval, buf = M._decode_ppm(bytes(r.payload))
        assert (w, h, maxval) == (M.IMG_W, M.IMG_H, 255)
        d = r.doc_id
        src = [
            (d * 131 + i * 17) % 256
            for i in range(M.IMG2_W * M.IMG2_H * 3)
        ]
        for k in range(w * h):
            rr, cc = divmod(k, w)
            for ch in range(3):
                vals = [
                    src[((2 * rr + dr) * M.IMG2_W + 2 * cc + dc) * 3 + ch]
                    for dr in (0, 1)
                    for dc in (0, 1)
                ]
                assert buf[3 * k + ch] == sum(vals) // 4
    with pytest.raises(Exception, match="divisible"):
        M.image_resize(
            M.image_table(spark, TEST_SF_DIR).limit(1), 4, 3
        ).collect()
    with pytest.raises(ValueError, match="bad target"):
        M.image_resize(media, 0, 8)


def test_image_resize_propagates_maxval(spark):
    """A maxval-127 source must emit a maxval-127 PPM — relabeling as
    255 would silently halve normalized brightness downstream."""
    pay = _ppm(M.IMG2_W, M.IMG2_H, [100] * (M.IMG2_W * M.IMG2_H * 3),
               maxval=127)
    media = spark.createDataFrame(
        [(1, bytearray(pay))], "doc_id long, payload binary"
    )
    out = M.image_resize(media, M.IMG_W, M.IMG_H).collect()[0]
    w, h, maxval, buf = M._decode_ppm(bytes(out.payload))
    assert (w, h, maxval) == (M.IMG_W, M.IMG_H, 127)
    assert set(buf) == {100}  # box mean of a constant plane
    stats = M.image_stats(
        spark.createDataFrame(
            [(1, bytearray(bytes(out.payload)))],
            "doc_id long, payload binary",
        )
    ).collect()[0]
    assert stats.maxval == 127


# --- incremental near-dup ingest over the persisted band index ------------
def _md5hex16(i, salt=""):
    import hashlib

    return hashlib.md5(f"{salt}{i}".encode()).hexdigest()[:16]


def _flip_bits(hex16, bits):
    v = int(hex16, 16)
    for b in bits:
        v ^= 1 << b
    return f"{v:016x}"
