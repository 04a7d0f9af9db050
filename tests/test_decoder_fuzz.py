"""Quarantine-contract fuzz: every parser/decoder added in r9-r10 must
map ARBITRARY bytes — random garbage, truncations, and single-byte
mutations of valid payloads — to either a clean result or an exception
in multimodal.DECODE_ERRORS. Anything else (an unexpected exception
class) would kill a Spark task instead of becoming a quarantine row,
the exact failure mode of ADVICE r9's medium finding.

Seeded (no flaky randomness); a few hundred payloads per parser keeps
the whole module under ~30 s without Spark.
"""

from __future__ import annotations

import numpy as np
import pytest

from youtube_api_data_etl_automation_spark.operators import (
    flac,
    gif,
    jpeg,
    mediameta,
    multimodal,
    vp8l,
)

OK_ERRORS = multimodal.DECODE_ERRORS


def _mutations(rng, payload: bytes, n: int):
    """n single-byte mutations + n truncations of a valid payload."""
    out = []
    b = bytearray(payload)
    for _ in range(n):
        m = bytearray(b)
        m[rng.integers(0, len(m))] ^= int(rng.integers(1, 256))
        out.append(bytes(m))
    for _ in range(n):
        out.append(payload[: int(rng.integers(0, len(payload)))])
    return out


def _assert_contract(fn, payloads, label):
    escaped = []
    for i, p in enumerate(payloads):
        try:
            fn(p)
        except OK_ERRORS:
            pass
        except Exception as e:  # noqa: BLE001 - the point of the test
            escaped.append((i, type(e).__name__, str(e)[:80]))
    assert not escaped, f"{label}: non-quarantine exceptions: {escaped[:5]}"


def _garbage(rng, n, max_len=600):
    out = [b"", b"\x00"]
    for _ in range(n):
        ln = int(rng.integers(1, max_len))
        out.append(rng.integers(0, 256, ln, dtype=np.uint8).tobytes())
    return out


@pytest.fixture(scope="module")
def rng():
    return np.random.default_rng(1234)


def test_fuzz_vp8l(rng):
    import sys
    sys.path.insert(0, "tests")
    from test_vp8l import _encode_vp8l, _rgba

    valid = _encode_vp8l(_rgba(4, 5, seed=3), subtract_green=True,
                         cache_bits=4)
    payloads = _garbage(rng, 120) + _mutations(rng, valid, 120)
    # seed garbage with plausible magic so parsing goes deeper
    payloads += [b"RIFF" + g[:40].ljust(8, b"\0")[:4] + b"WEBPVP8L"
                 + g for g in _garbage(rng, 120, 200)]
    _assert_contract(vp8l.decode_webp_lossless, payloads, "vp8l")
    _assert_contract(
        lambda p: vp8l.decode_vp8l(bytes([0x2F]) + p),
        _garbage(rng, 150, 200), "vp8l-chunk",
    )


def test_fuzz_flac(rng):
    import sys
    sys.path.insert(0, "tests")
    from test_flac import _flac, _wave

    valid = _flac([_wave(30, 900)], sub_kw={"kind": "fixed", "order": 2})
    payloads = _garbage(rng, 100) + _mutations(rng, valid, 150)
    payloads += [b"fLaC" + g for g in _garbage(rng, 120, 300)]
    _assert_contract(flac.decode_flac, payloads, "flac")


def test_fuzz_image_and_audio_decoders(rng):
    import sys
    sys.path.insert(0, "tests")
    from test_gif import PAL4, _gif
    from test_jpeg import _encode_jpeg, _encode_progressive, _rng_image
    from test_operators import _png, _wav

    base, *_ = _encode_jpeg(_rng_image(16, 16, seed=9, grey=True))
    prog, *_ = _encode_progressive(_rng_image(8, 8, seed=10, grey=True))
    for valid in (base, prog):
        _assert_contract(jpeg.decode_baseline_jpeg,
                         _mutations(rng, valid, 150), "jpeg")
    _assert_contract(jpeg.decode_baseline_jpeg,
                     [b"\xff\xd8" + g for g in _garbage(rng, 150, 300)],
                     "jpeg-garbage")
    g_img = _gif([[0, 1, 2, 3]] * 3, PAL4)
    _assert_contract(gif.decode_gif, _mutations(rng, g_img, 150), "gif")
    png = _png([[(1, 2, 3)] * 4] * 3)
    # IHDR height 2,231,369,731: sized a 24.9 GiB sample buffer before
    # the pixel budget refused it
    huge = png[:20] + (2_231_369_731).to_bytes(4, "big") + png[24:]
    _assert_contract(multimodal._decode_rgb,
                     _mutations(rng, png, 150) + [huge], "png")
    wav = _wav(8000, [(100, -100)] * 16)
    _assert_contract(multimodal._decode_pcm, _mutations(rng, wav, 150),
                     "wav")
    _assert_contract(multimodal._decode_rgb, _garbage(rng, 120),
                     "decode_rgb-garbage")
    _assert_contract(multimodal._decode_pcm, _garbage(rng, 120),
                     "decode_pcm-garbage")


def test_fuzz_metadata_parsers(rng):
    import sys
    sys.path.insert(0, "tests")
    from test_mediameta import (
        _flac_with_comments,
        _id3,
        _id3_frame,
        _jpeg_with_app1,
        _mkv,
        _mkv_track,
        _mp4,
        _tiff,
        _trak,
    )

    mp4 = _mp4(tracks=(_trak(b"vide", b"avc1", w=16, h=16),))
    mkv = _mkv(duration=1000.0, tracks=(_mkv_track(1, b"V_VP9", w=8,
                                                   h=8),))
    def video_one(p):  # the video_meta op's dispatch, payload-level
        if p[:4] == b"\x1a\x45\xdf\xa3":
            return mediameta._parse_mkv(p)
        return mediameta._parse_mp4(p)

    for valid in (mp4, mkv):
        _assert_contract(video_one, _mutations(rng, valid, 150),
                         "video_meta")
    _assert_contract(mediameta._parse_mp4,
                     [mp4[:8] + g for g in _garbage(rng, 100, 200)],
                     "mp4-garbage")
    _assert_contract(mediameta._parse_mkv,
                     [b"\x1a\x45\xdf\xa3" + g
                      for g in _garbage(rng, 100, 200)], "mkv-garbage")
    _assert_contract(mediameta._probe_image, _garbage(rng, 150),
                     "probe-garbage")
    from test_mediameta import _apng

    _assert_contract(mediameta._parse_apng_meta,
                     _mutations(rng, _apng(), 120), "apng")
    _assert_contract(mediameta._parse_apng_meta,
                     [b"\x89PNG\r\n\x1a\n" + g
                      for g in _garbage(rng, 80, 200)], "apng-garbage")
    from test_mediameta import _avi, _ogg_page

    avi = _avi()
    _assert_contract(mediameta._parse_avi, _mutations(rng, avi, 120),
                     "avi")
    ogg = _ogg_page(b"\x01vorbis" + b"\x00" * 4 + bytes([2])
                    + b"\x44\xac\x00\x00" + b"\x00" * 16) \
        + _ogg_page(b"\x00" * 32, granule=44100, seq=1)
    _assert_contract(mediameta._parse_ogg, _mutations(rng, ogg, 120),
                     "ogg")
    _assert_contract(mediameta._parse_ogg,
                     [b"OggS" + g for g in _garbage(rng, 100, 200)],
                     "ogg-garbage")

    id3 = _id3(_id3_frame(b"TIT2", "Fuzz Me", encoding=3))
    mp3 = b"\xff\xfb\x90\x00" + b"\x00" * 200
    flac_tags = _flac_with_comments(["TITLE=x", "ARTIST=y"])
    for valid in (id3 + mp3, flac_tags):
        _assert_contract(mediameta._parse_audio_meta,
                         _mutations(rng, valid, 120), "audio_meta")
        _assert_contract(mediameta._parse_audio_tags,
                         _mutations(rng, valid, 120), "audio_tags")
    exif = _jpeg_with_app1(_tiff(
        [(0x0112, 3, 1, 6), (0x010F, 2, 6, b"Nikon\x00")],
        exif_entries=[(0xA002, 4, 1, 640)],
    ))
    _assert_contract(mediameta._parse_exif, _mutations(rng, exif, 150),
                     "exif")
    _assert_contract(mediameta._parse_exif,
                     _garbage(rng, 80) + [b"\xff\xd8" + g for g in
                                          _garbage(rng, 80, 200)],
                     "exif-garbage")


def test_fuzz_bmp_pnm(rng):
    import sys
    sys.path.insert(0, "tests")
    import numpy as np

    from test_bmp_pnm import _bmp32, _bmp_pal, _bmp_rle8, _pal

    pal = _pal(16, seed=66)
    idx = (np.arange(6 * 9).reshape(6, 9) % 16).astype(np.uint8)
    payloads = []
    for base in (_bmp_pal(idx, pal, bpp=4), _bmp_rle8(idx, pal),
                 _bmp32(np.arange(3 * 4 * 3).reshape(3, 4, 3) % 256)):
        payloads += _mutations(rng, base, 120)
    payloads += _mutations(rng, b"P5\n9 5\n255\n" + bytes(45), 60)
    payloads += _mutations(rng, b"P4\n10 3\n" + bytes(6), 60)
    payloads += [b"BM" + g for g in _garbage(rng, 80, 200)]
    _assert_contract(multimodal._decode_rgb, payloads, "bmp_pnm")


def test_fuzz_tiff(rng):
    import sys
    sys.path.insert(0, "tests")
    from test_tiff import _img, _tiff_image

    from youtube_api_data_etl_automation_spark.operators import tiff

    valid = _tiff_image(_img(4, 6, seed=77))
    pb = _tiff_image(_img(4, 6, seed=78, grey=True), packbits=True)
    lzw = _tiff_image(_img(5, 7, seed=79), lzw=True, predictor=2)
    payloads = _mutations(rng, valid, 150) + _mutations(rng, pb, 150) \
        + _mutations(rng, lzw, 150)
    payloads += [b"II*\x00" + g for g in _garbage(rng, 120, 300)]
    payloads += [b"MM\x00*" + g for g in _garbage(rng, 120, 300)]
    _assert_contract(tiff.decode_tiff, payloads, "tiff")


def test_fuzz_extract_keyframe(rng):
    import sys
    sys.path.insert(0, "tests")
    from test_mediameta import _avi, _mjpeg_avi

    valid, _ = _mjpeg_avi(rec_group=True)
    xvid = _avi()
    payloads = _mutations(rng, valid, 200) + _mutations(rng, xvid, 100)
    payloads += [b"RIFF" + g for g in _garbage(rng, 100, 200)]
    payloads += [b"GIF89a" + g for g in _garbage(rng, 60, 120)]
    payloads += _garbage(rng, 60, 300)
    _assert_contract(mediameta.extract_keyframe, payloads, "keyframe")

    def full(p):
        c, codec, blob = mediameta.extract_keyframe(p)
        from youtube_api_data_etl_automation_spark.operators.multimodal \
            import _decode_rgb
        _decode_rgb(blob)

    _assert_contract(full, payloads, "keyframe+decode")


def test_fuzz_layer1(rng):
    import sys
    sys.path.insert(0, "tests")
    from test_mpegaudio import _ALLOC_MIX, _frame_l1, _sine_groups

    from youtube_api_data_etl_automation_spark.operators import mpegaudio

    g = _sine_groups(12, 2, _ALLOC_MIX, seed=55)
    valid, _ = _frame_l1(g, alloc_bands=_ALLOC_MIX, protected=True)
    plain, _ = _frame_l1(g, alloc_bands=_ALLOC_MIX)
    payloads = _mutations(rng, valid, 200) + _mutations(rng, plain, 200)
    payloads += [b"\xff\xff" + g2 for g2 in _garbage(rng, 100, 400)]
    payloads += _garbage(rng, 60, 400)
    _assert_contract(mpegaudio.decode_layer1, payloads, "layer1")


def test_fuzz_archives(rng):
    import sys
    sys.path.insert(0, "tests")
    import gzip as _gz

    from test_archives import _tar, _warc, _zip

    from youtube_api_data_etl_automation_spark.operators import archives

    warc_plain, _ = _warc()
    warc_gz, _ = _warc(per_record_gzip=True)
    zipp = _zip()
    tarp = _tar()
    gz = _gz.compress(b"data " * 50, mtime=0)

    def meta_one(p):
        # the archive_meta dispatch, payload-level (no Spark)
        if p[:4] in (b"PK\x03\x04", b"PK\x05\x06"):
            return archives._parse_zip_meta(p)
        if len(p) > 262 and p[257:262] == b"ustar":
            return archives._parse_tar_meta(p)
        if p[:5] == b"WARC/":
            return archives._parse_warc_meta(p, 1 << 20)
        if p[:2] == b"\x1f\x8b":
            return archives._parse_gzip_header(p)
        raise NotImplementedError("unknown")

    payloads = []
    for base in (warc_plain, warc_gz, zipp, tarp, gz):
        payloads += _mutations(rng, base, 120)
    payloads += _garbage(rng, 80, 400)
    payloads += [b"PK\x05\x06" + g for g in _garbage(rng, 60, 100)]
    _assert_contract(meta_one, payloads, "archive_meta")

    def warc_one(p):
        data = archives._gunzip_all(p, 1 << 20) \
            if p[:2] == b"\x1f\x8b" else p
        archives._split_warc(data)

    _assert_contract(
        warc_one,
        _mutations(rng, warc_plain, 150) + _mutations(rng, warc_gz, 150),
        "warc_records",
    )


def test_fuzz_pdf(rng):
    import sys
    sys.path.insert(0, "tests")
    from test_pdf import mkpdf, one_page, stream_obj

    from youtube_api_data_etl_automation_spark.operators import pdf as P

    import zlib

    base = one_page(b"BT /F1 12 Tf (fuzz corpus text) Tj "
                    b"[(a) -300 (b)] TJ ET")
    flate = mkpdf([
        (1, b"<< /Type /Catalog /Pages 2 0 R >>"),
        (2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>"),
        (3, b"<< /Type /Page /Parent 2 0 R /Resources << >> "
            b"/Contents 4 0 R >>"),
        (4, stream_obj(b"/Filter /FlateDecode ",
                       zlib.compress(b"BT (z) Tj ET"))),
    ])
    payloads = []
    for b in (base, flate):
        payloads += _mutations(rng, b, 150)
    payloads += [b"%PDF-" + g for g in _garbage(rng, 80, 300)]
    payloads += _garbage(rng, 40, 200)
    _assert_contract(
        lambda p: P.extract_pdf_text(p, inflate_budget=1 << 16,
                                     text_budget=1 << 16),
        payloads, "extract_pdf_text")
    _assert_contract(P.probe_pdf, payloads, "probe_pdf")


def test_fuzz_imagehash_and_strip(rng):
    import sys
    sys.path.insert(0, "tests")
    from test_mediameta import _gps_dms, _jpeg_with_app1, _tiff
    from test_operators import _png

    from youtube_api_data_etl_automation_spark.operators import imagehash

    png = _png([[(x * 3, y * 5, 7) for x in range(10)] for y in range(8)])
    gps = _jpeg_with_app1(_tiff(
        [(0x0112, 3, 1, 1)],
        gps_entries=[(1, 2, 2, b"N\x00"), (2, 5, 3, _gps_dms(1, 2, 3))]))
    payloads = _mutations(rng, png, 150) + _mutations(rng, gps, 150) \
        + _garbage(rng, 60, 300)

    def hash_one(p):
        _, rgb = multimodal._decode_rgb(p)
        imagehash.dhash64(rgb)
        imagehash.ahash64(rgb)

    _assert_contract(hash_one, payloads, "image_hashes")
    _assert_contract(mediameta._strip_exif_bytes, payloads, "strip_exif")


def test_fuzz_docx_and_members(rng):
    import sys
    sys.path.insert(0, "tests")
    from test_archives import _docx, _tar, _zip

    from youtube_api_data_etl_automation_spark.operators import archives

    docx = _docx(b"<w:p><w:r><w:t>fuzz doc</w:t></w:r></w:p>")
    payloads = _mutations(rng, docx, 150) + _mutations(rng, _zip(), 100) \
        + _mutations(rng, _tar(), 100) + _garbage(rng, 60, 400)
    _assert_contract(
        lambda p: archives._docx_extract_text(p, 1 << 20),
        payloads, "docx_text")
    _assert_contract(
        lambda p: archives._iter_archive_members(p, 1 << 20),
        payloads, "archive_members")


def test_fuzz_layer2(rng):
    import sys
    sys.path.insert(0, "tests")
    from test_mpegaudio import _L2_ALLOC_A, _frame_l2, _l2_sine

    from youtube_api_data_etl_automation_spark.operators import mpegaudio

    table = mpegaudio._l2_table(192, 2, 48000)
    g = _l2_sine(36, 2, _L2_ALLOC_A, table, seed=56)
    valid, _ = _frame_l2(g, rate=48000, bitrate=384,
                         alloc_idx=_L2_ALLOC_A, protected=True)
    plain, _ = _frame_l2(g, rate=48000, bitrate=384,
                         alloc_idx=_L2_ALLOC_A)
    payloads = _mutations(rng, valid, 200) + _mutations(rng, plain, 200)
    payloads += [b"\xff\xfd" + g2 for g2 in _garbage(rng, 100, 400)]
    payloads += _garbage(rng, 60, 400)
    _assert_contract(mpegaudio.decode_layer2, payloads, "layer2")
    _assert_contract(mpegaudio.decode_subbands, payloads, "subbands")


def test_fuzz_ccitt(rng):
    """r13: CCITT G4/MH TIFFs and the raw bitstream decoders map
    arbitrary bytes to DECODE_ERRORS, never a crash or hang."""
    import sys
    sys.path.insert(0, "tests")
    import random as _random

    from test_ccitt import _encode_g4, _encode_mh, _rand_img, \
        _tiff_ccitt

    from youtube_api_data_etl_automation_spark.operators import ccitt, tiff

    prng = _random.Random(4242)
    img = _rand_img(prng, 10, 33)
    g4_tiff = _tiff_ccitt(img, compression=4)
    mh_tiff = _tiff_ccitt(img, compression=2, rows_per_strip=3)
    payloads = _mutations(rng, g4_tiff, 200) + _mutations(rng, mh_tiff, 150)
    payloads += [b"II*\x00" + g for g in _garbage(rng, 100, 200)]
    _assert_contract(tiff.decode_tiff, payloads, "ccitt-tiff")

    raw_g4 = _encode_g4(img)
    raw_mh = _encode_mh(img)
    raws = _mutations(rng, raw_g4, 200) + _mutations(rng, raw_mh, 150) \
        + _garbage(rng, 150, 200)
    _assert_contract(lambda p: ccitt.decode_g4(p, 33, 10), raws,
                     "ccitt-g4-raw")
    _assert_contract(lambda p: ccitt.decode_mh(p, 33, 10), raws,
                     "ccitt-mh-raw")
    # rows=None: EOFB/garbage streams must terminate via max_rows
    _assert_contract(lambda p: ccitt.decode_g4(p, 17, None,
                                               max_rows=64),
                     _garbage(rng, 80, 400), "ccitt-g4-norows")
    # G3 mixed 1D/2D (r13 late)
    from test_ccitt import _encode_g3

    raw_g3 = _encode_g3(img, k=2)
    g3s = _mutations(rng, raw_g3, 150) + _garbage(rng, 100, 200)
    _assert_contract(lambda p: ccitt.decode_g3(p, 33, 10), g3s,
                     "ccitt-g3-raw")
    _assert_contract(lambda p: ccitt.decode_g3(p, 17, None,
                                               max_rows=64),
                     _garbage(rng, 80, 400), "ccitt-g3-norows")


def test_fuzz_r14_document_extractors(rng):
    """r14 extractors (jbig2 embedded+file, rtf, office/odf/epub zip
    walks, eml/mbox): arbitrary bytes map to DECODE_ERRORS or a clean
    result — never an unexpected exception class."""
    from youtube_api_data_etl_automation_spark.operators import (
        archives,
        jbig2,
        latex,
        mail,
        markdown,
        notebooks,
        rtf,
    )

    import sys
    sys.path.insert(0, "tests")
    from test_jbig2 import _page_info, _region, _seg, _rand_img
    import random as _rnd

    img = _rand_img(_rnd.Random(3), 5, 9)
    valid_jb = (_seg(0, 48, 1, _page_info(9, 5))
                + _seg(1, 39, 1, _region(img)))
    valid_rtf = (rb"{\rtf1{\uc1 body \u233? text \'e9}\par done}")
    from test_office import _odf, _pptx, _xlsx, _epub
    from test_mail import _mime_alt

    corpora = [
        (lambda b: jbig2.decode_jbig2(b), valid_jb),
        (lambda b: jbig2.decode_jbig2_file(b),
         b"\x97JB2\r\n\x1a\n\x03" + valid_jb),
        (lambda b: rtf._extract_rtf(b, 1 << 20), valid_rtf),
        (lambda b: archives._pptx_extract_text(b, 1 << 20),
         _pptx([b"<a:p><a:r><a:t>s</a:t></a:r></a:p>"])),
        (lambda b: archives._xlsx_extract_text(b, 1 << 20),
         _xlsx([b"<row><c><v>1</v></c></row>"])),
        (lambda b: archives._odf_extract_text(b, 1 << 20),
         _odf(b"<text:p>x</text:p>")),
        (lambda b: archives._epub_extract_text(b, 1 << 20),
         _epub([b"<p>x</p>"])),
        (lambda b: mail._extract_eml(b, 1 << 20), _mime_alt()),
        (lambda b: mail.split_mbox(b),
         b"From a@x Mon\nSubject: s\n\nbody\n"),
        # late r14: latex + ipynb extractors join the same gate
        (lambda b: latex._extract_latex(b, 1 << 20),
         b"\\documentclass{a}\n\\begin{document}\nx $m$ \\'e "
         b"\\begin{verbatim}v\\end{verbatim}\n\\end{document}\n"),
        (lambda b: notebooks._extract_ipynb(b, 1 << 20, True),
         b'{"nbformat": 4, "cells": [{"cell_type": "code", '
         b'"source": "x", "outputs": [{"output_type": "stream", '
         b'"text": "y"}]}]}'),
        (lambda b: markdown._extract_markdown(b, 1 << 20),
         b"# T\n\n[a](b) `c` **d**\n```\ncode\n```\n"),
        (lambda b: archives._bunzip_all(b, 1 << 20),
         __import__("bz2").compress(b"fuzz body " * 20)),
        (lambda b: archives._unxz_all(b, 1 << 20),
         __import__("lzma").compress(
             b"fuzz body " * 20,
             format=__import__("lzma").FORMAT_XZ)),
    ]
    for fn, valid in corpora:
        fn(valid)  # the valid payload must parse clean
        cases = _mutations(rng, valid, 40)
        cases += [bytes(rng.integers(0, 256, size=int(n)).astype("u1"))
                  for n in rng.integers(1, 400, size=40)]
        cases += [b""]
        for payload in cases:
            try:
                fn(payload)
            except OK_ERRORS:
                pass
