"""SHA-1 pins of every fixture encoder's and builder's output.

Each entry runs one public encoder (plus the private JBIG2 refinement
codings no public encoder reaches) on fixed, seeded inputs and compares
the SHA-1 of the bytes with a recorded value.  A change that moves or
folds encoder code must leave every digest as it is; a digest that moves
means the encoder now writes different streams, and every fixture built
from it changes with it.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from pdf_ocr_engine_spark.encoders import bilevel, pdf, raster
from pdf_ocr_engine_spark.sources.fixtures import layout_words

_WORDS = layout_words("pin every encoder to its bytes 0 1 42".split(), 4)
_W, _H = 140, 70
_PAGES = [{"width": _W, "height": _H, "words": _WORDS},
          {"width": _W, "height": _H, "words": _WORDS[:3]}]
_SPANS = [{"width": 612.0, "height": 792.0, "spans": _WORDS}]


def _gray() -> np.ndarray:
    """(70, 140) uint8 page of 5x7 glyphs: 0 ink on 255 paper."""
    return np.frombuffer(raster.render_words_gray(_W, _H, _WORDS),
                         np.uint8).reshape(_H, _W)


def _ink() -> np.ndarray:
    return _gray() < 128


def _noise(shape: tuple, seed: int) -> np.ndarray:
    return np.random.default_rng(seed).integers(0, 256, shape, np.uint8)


def _smooth(h: int, w: int) -> np.ndarray:
    """Gradient plus low-amplitude seeded noise: every DCT/wavelet band
    gets nonzero coefficients without pure noise's worst case."""
    base = np.add.outer(np.arange(h) * 5, np.arange(w) * 3) % 256
    return ((base + _noise((h, w), 3) % 24) % 256).astype(np.uint8)


def _rgb(h: int, w: int) -> np.ndarray:
    s = _smooth(h, w)
    return np.stack([s, 255 - s, (s // 2 + 64).astype(np.uint8)], axis=2)


_HALFTONE = [np.zeros((4, 4), np.uint8), np.eye(4, dtype=np.uint8),
             (np.indices((4, 4)).sum(0) % 2).astype(np.uint8),
             np.ones((4, 4), np.uint8)]


def _halftone(mmr: bool) -> bytes:
    grid = np.random.default_rng(4).integers(0, 4, (9, 13))
    return bilevel.encode_jbig2_halftone_embedded(grid, _HALFTONE, mmr=mmr)


def _jbig2_refagg_dict() -> bytes:
    """SDREFAGG symbol dictionary: every symbol refines an input one."""
    syms = [np.array([[1, 1], [1, 0]], np.uint8),
            np.array([[0, 1, 1], [1, 1, 0], [1, 0, 0]], np.uint8)]
    new = [np.array([[1, 1], [1, 1]], np.uint8),
           np.array([[0, 1, 1], [1, 1, 1], [1, 0, 0]], np.uint8)]
    return bilevel._encode_symbol_dict(new, refine_from=[0, 1],
                                     input_syms=syms)


def _jbig2_refined_text_region() -> bytes:
    """SBREFINE text region over four strips: plain and refined
    instances, IAIT T residuals."""
    syms = [np.array([[1, 0], [1, 1]], np.uint8),
            np.array([[1, 1, 1], [0, 1, 0]], np.uint8)]
    target = np.array([[1, 1, 1], [1, 1, 0], [0, 1, 0]], np.uint8)
    inst = [(1, 2, 0), (6, 3, 1, target), (12, 9, 1), (3, 11, 0, target)]
    return bilevel._encode_text_region(inst, syms, 20, 16, refcorner=0,
                                     sbstrips=4)


_CASES = {
    # CCITT (T.4 / T.6)
    "ccitt_g4": lambda: bilevel.encode_g4(_ink()),
    "ccitt_g4_planes": lambda: bilevel.encode_g4_planes([_ink(), ~_ink()]),
    "ccitt_g3_1d": lambda: bilevel.encode_g3(_ink(), k=0),
    "ccitt_g3_1d_no_eol": lambda: bilevel.encode_g3(_ink(), k=0,
                                                  with_eol=False),
    "ccitt_g3_mixed": lambda: bilevel.encode_g3(_ink(), k=4),
    # JBIG2 (T.88): generic, both dictionary codings, halftone, refinement
    "jbig2_generic": lambda: bilevel.encode_jbig2_embedded(_ink()),
    "jbig2_symbol": lambda: bilevel.encode_jbig2_symbol_embedded(_ink()),
    "jbig2_symbol_rc0_strips2": lambda: bilevel.encode_jbig2_symbol_embedded(
        _ink(), refcorner=0, sbstrips=2),
    "jbig2_symbol_rc2_strips8": lambda: bilevel.encode_jbig2_symbol_embedded(
        _ink(), refcorner=2, sbstrips=8),
    "jbig2_symbol_rc3": lambda: bilevel.encode_jbig2_symbol_embedded(
        _ink(), refcorner=3),
    "jbig2_symbol_blank": lambda: bilevel.encode_jbig2_symbol_embedded(
        np.zeros((5, 7), bool)),
    "jbig2_huffman": lambda: bilevel.encode_jbig2_symbol_huffman_embedded(
        _ink()),
    "jbig2_huffman_rc0": lambda: bilevel.encode_jbig2_symbol_huffman_embedded(
        _ink(), refcorner=0),
    "jbig2_huffman_rc2": lambda: bilevel.encode_jbig2_symbol_huffman_embedded(
        _ink(), refcorner=2),
    "jbig2_huffman_custom_dw": lambda:
        bilevel.encode_jbig2_symbol_huffman_embedded(_ink(),
                                                   custom_dw_table=True),
    "jbig2_huffman_one_symbol": lambda:
        bilevel.encode_jbig2_symbol_huffman_embedded(np.eye(3, dtype=bool)),
    "jbig2_huffman_blank": lambda:
        bilevel.encode_jbig2_symbol_huffman_embedded(np.zeros((5, 7), bool)),
    "jbig2_halftone": lambda: _halftone(mmr=False),
    "jbig2_halftone_mmr": lambda: _halftone(mmr=True),
    "jbig2_refagg_dict": _jbig2_refagg_dict,
    "jbig2_refined_text_region": _jbig2_refined_text_region,
    # JPEG (T.81): baseline gray, restarts, progressive, RGB both samplings
    "jpeg_gray_q90": lambda: raster.encode_jpeg_gray(_smooth(37, 45)),
    "jpeg_gray_q60_restart": lambda: raster.encode_jpeg_gray(
        _smooth(37, 45), quality=60, restart_interval=2),
    "jpeg_gray_q100_page": lambda: raster.encode_jpeg_gray(_gray(),
                                                         quality=100),
    "jpeg_progressive": lambda: raster.encode_jpeg_gray_progressive(
        _smooth(37, 45)),
    "jpeg_rgb_420": lambda: raster.encode_jpeg_rgb(_rgb(37, 45)),
    "jpeg_rgb_444": lambda: raster.encode_jpeg_rgb(_rgb(37, 45), quality=75,
                                                 subsample=False),
    # JPEG 2000 (T.800): JP2 gray and RGB, both wavelets, tiles, precincts
    "jp2_gray": lambda: raster.encode_jp2_gray(_smooth(37, 45), levels=2),
    "jp2_gray_bilevel_precincts": lambda: raster.encode_jp2_gray(
        _gray(), bpc=1, levels=1, precincts=[(5, 5), (5, 5)]),
    "jp2_gray_tiled_sop_eph": lambda: raster.encode_jp2_gray(
        _smooth(37, 45), levels=1, cblk=16, tile=16, sop=True, eph=True),
    "jp2_gray_irreversible": lambda: raster.encode_jp2_gray(
        _smooth(37, 45), levels=2, irreversible=True, step=0.5),
    "j2k_gray_4bit_derived": lambda: raster.encode_jp2_gray(
        _smooth(37, 45), bpc=4, wrap_jp2=False, irreversible=True,
        derived=True),
    "jp2_rgb": lambda: raster.encode_jp2_rgb(_rgb(21, 27), levels=2),
    "jp2_rgb_irreversible": lambda: raster.encode_jp2_rgb(
        _rgb(21, 27), irreversible=True, step=0.5, chroma_step=2.0),
    # PNG and GIF
    **{f"png_gray_filter{f}": (lambda f=f: raster.encode_png(_smooth(13, 17),
                                                          filter_type=f))
       for f in range(5)},
    "png_rgb_adam7": lambda: raster.encode_png(_rgb(13, 17), filter_type=4,
                                            interlace=True),
    "png_rgba": lambda: raster.encode_png(
        np.concatenate([_rgb(9, 11), _noise((9, 11, 1), 5)], axis=2),
        filter_type=3),
    "gif_gray": lambda: raster.encode_gif_gray(_gray()),
    "gif_gray_interlaced": lambda: raster.encode_gif_gray(_smooth(37, 45),
                                                       interlace=True),
    # noise needs more than 4,096 LZW codes, so the encoder emits CLEAR
    "gif_noise_table_reset": lambda: raster.encode_gif_gray(
        _noise((80, 96), 6)),
    # PDF builders
    "wbox2": lambda: pdf.encode_pdf(
        [{"page_no": 1, "width": 612.0, "height": 792.0, "has_text": True,
          "words": _WORDS}, {"page_no": 2, "words": []}], page_count=3),
    "fakerast": lambda: pdf.encode_page_raster(612.0, 792.0, _WORDS),
    "scanned_fakerast_pdf": lambda: pdf.build_scanned_pdf(_PAGES),
    **{f"pixel_scanned_{c}": (lambda c=c: pdf.build_pixel_scanned_pdf(_PAGES,
                                                                  codec=c))
       for c in ("flate", "jpeg", "jpegprog", "jpeglossy", "jpegcolor",
                 "ccitt", "g3", "g3mixed", "jbig2", "jbig2sym",
                 "jbig2huff", "jbig2huffct", "jpx", "jpxprec", "jpxcolor",
                 "gray1", "rgb", "noisy")},
    **{f"truetype_{v}": (lambda v=v: pdf.build_truetype_pdf(_SPANS, variant=v))
       for v in ("cid", "cidstream", "symbolic")},
    "sfnt_unicode": lambda: pdf.build_minimal_truetype(
        {"a": 1, "b": 2, "é": 3}),
    "sfnt_symbolic_post": lambda: pdf.build_minimal_truetype(
        {"a": 1, "b": 2}, symbolic=True, unicode_cmap=False,
        post_names=True, symbolic_codes={0x21: 1, 0x22: 2}),
    **{f"encrypted_{s}": (lambda s=s: pdf.encrypt_pdf(
        pdf.build_truetype_pdf(_SPANS), s))
       for s in ("rc4-40", "rc4-128", "aes-128", "rc4-128-cf")},
    "rasterfont_page": lambda: raster.render_words_gray(_W, _H, _WORDS),
}

DIGESTS = {
    'ccitt_g3_1d': '031ef3b1b478d28a7b9b9064e25f8ba7e951c1bc',
    'ccitt_g3_1d_no_eol': '7b1e89a88feaa5dc085ec795bfce2f80c552d4de',
    'ccitt_g3_mixed': '18d4f840f0606cffc09752d4dbdea29fdc8f0dba',
    'ccitt_g4': '6ad23a911b5ccc49189ee6a64a643debca4800ae',
    'ccitt_g4_planes': 'c1d6eaa52dc692afc42fff2f0296e746eac4b5ea',
    'encrypted_aes-128': 'fe652b0d31df0fbc28534e4952cde9285eae3b9f',
    'encrypted_rc4-128': '0c68b8a766774cb79ca5a7276a1da4d978554ff6',
    'encrypted_rc4-128-cf': 'e0bdb5390495e588efc5423a5e58e06e01d22d37',
    'encrypted_rc4-40': '8c09132d2febf6a3a3bbecb9846b345aac2a2173',
    'fakerast': 'e130c2e5bfbfdf8ed46a3d264777daf14ddca7d2',
    'gif_gray': '4a9c8d1d62dd1dfe5348720fd3dc346dcbf0612b',
    'gif_gray_interlaced': '5e6f4cf0a89bf6e9b6a1c8046cf0cf591e4c2645',
    'gif_noise_table_reset': 'fa3dff77b4f64f5b196296e87d6ca3d63a6849b2',
    'j2k_gray_4bit_derived': 'be737dabb27d496729050a3a9ce08d0930e4fa2a',
    'jbig2_generic': '4277526b54841f21b72470bd4e40a3395bf7c9fa',
    'jbig2_halftone': '7587f739b391b78f6a81d46e5eb5f78715770e18',
    'jbig2_halftone_mmr': '80f19185cfeed7ea3190167553c4562d46f234c7',
    'jbig2_huffman': '085dc93b4be9f9d03fcb5267fe93083054272a1d',
    'jbig2_huffman_blank': 'e546291ed8b57b3a473aedeeef01c12e76da50cc',
    'jbig2_huffman_custom_dw': 'e5e919065a6457ebb82c6b409ea5907a07bb8268',
    'jbig2_huffman_one_symbol': '7deb38e6fa8ff9e9969dfe089206dde8c3a49596',
    'jbig2_huffman_rc0': 'dec334f76799825fe06549732881deeb2954250c',
    'jbig2_huffman_rc2': 'd2786390565345d75fdc7c022a035e969800c13e',
    'jbig2_refagg_dict': '138496aed06f7cd9d382d1cc7f1d6436291491a0',
    'jbig2_refined_text_region': 'e54f20424e20d9bfb63550383a82469bff971f91',
    'jbig2_symbol': '3158a732d4a3d422f6fc3cce1521054e5f278ceb',
    'jbig2_symbol_blank': 'e546291ed8b57b3a473aedeeef01c12e76da50cc',
    'jbig2_symbol_rc0_strips2': '46d18c7c201b6c7622a27a689d79c7f98310e201',
    'jbig2_symbol_rc2_strips8': '788cc421604c2543180e77c5fdc902caa9511f05',
    'jbig2_symbol_rc3': 'e71ba72950ea96f16a839aee14aa2d4c1a59c965',
    'jp2_gray': '141933a0f749fc2a08564619a77d1d8e0b5d87f0',
    'jp2_gray_bilevel_precincts': 'a5c63e4129c14091c0ecf7f076c01842d4a02be3',
    'jp2_gray_irreversible': '70edc4894cef308ce7becd5210505dd53f50d2af',
    'jp2_gray_tiled_sop_eph': 'ed955ddc88013d972b259c9cbd8bbea57fcfb97c',
    'jp2_rgb': '0386401b8bac1002743cde33fdf94de5d6eac189',
    'jp2_rgb_irreversible': '8221f643d297278097105c0bbfd6187eb6cc81b8',
    'jpeg_gray_q100_page': '76e2393adbba0efcea62a6ab4039a02dca165c14',
    'jpeg_gray_q60_restart': '5d79ca2ff010b892a78f596ff9d7cb6899e82fab',
    'jpeg_gray_q90': 'd1fb3a7cafd1d6b67fd23a05c72914dda907134b',
    'jpeg_progressive': 'af09f38d835deeff52b24a3174f094490dfea516',
    'jpeg_rgb_420': '9a3c06d2a1afed7472583da5d04e42ae74af4fb1',
    'jpeg_rgb_444': '7176534a1d0e4d511d9d4acb867d2f106a3b63e7',
    'pixel_scanned_ccitt': '346fcd83b825ad0be94ad1dbac03401baa8a920d',
    'pixel_scanned_flate': '81f3b3e52fe77aa31adab97276b377de73f06a90',
    'pixel_scanned_g3': 'e8df88e49f08287bd735ddccda32e054ca525731',
    'pixel_scanned_g3mixed': '1f037236df924ae11c9e9423ca86aa6117ab1769',
    'pixel_scanned_gray1': 'd72db9c07bbbde531ea5a446d3e0a902d3fa4bf3',
    'pixel_scanned_jbig2': '5ecb4fd1d00c915ff78fb54f8b8674e57fe9a419',
    'pixel_scanned_jbig2huff': '9aebeba208b7382e328eb7ad5efbee81664b052f',
    'pixel_scanned_jbig2huffct': 'c2d0cc7f8edf6554a83a9bbb6f832c1aa9158bdf',
    'pixel_scanned_jbig2sym': '1dd0f60a00f88c7c26578bae6d487c6e51a5be7a',
    'pixel_scanned_jpeg': 'a4ebdbb805786ca93aa33b4fba632aeb7fc461a1',
    'pixel_scanned_jpegcolor': '86eb17b38766187f41bba4054d6cbd3a3b76ebb6',
    'pixel_scanned_jpeglossy': '229479addc213129db22308f41c7e820d98919eb',
    'pixel_scanned_jpegprog': 'abe1820fddeaf360adc1ae0842f87b41a84a6c3c',
    'pixel_scanned_jpx': '82fe86094da699e8f4b5b549bf5a1828b1275dca',
    'pixel_scanned_jpxcolor': 'e1733fb9a11fc33eaa843ffdc66cb72aa9d46034',
    'pixel_scanned_jpxprec': 'd22d22969aacb684282b30022d078754c0e6aaaf',
    'pixel_scanned_noisy': '92d75c8816ecc41c5bca16131750c6a9bfcef58d',
    'pixel_scanned_rgb': '78483da796cc0263fca171a1a1d8e545fb94dac6',
    'png_gray_filter0': 'c7752797ecc4b3a48a36ae15a6f76efd483daf47',
    'png_gray_filter1': '940d4fecd27fa62e4e40a2fadf0e0366af041ddc',
    'png_gray_filter2': '9b60b6fd5ea7cd414c0c5fe1e662511cba75202d',
    'png_gray_filter3': '4c100babeecdc3d82d3bbf93c2374bdd28445bce',
    'png_gray_filter4': '9072b94e4e8e4c1fbbe85a1b898a4d04ed620967',
    'png_rgb_adam7': 'adfb1ca4436202e8f12745dfd652068921094b0e',
    'png_rgba': '52b4dfdbab3acec39397827d8842ac2faa8f801c',
    'rasterfont_page': 'b575686d6ca99895697843d482b52d9dbb253f80',
    'scanned_fakerast_pdf': 'bf6a311121c9b8848328ad0297040d5e9b021295',
    'sfnt_symbolic_post': '08e9949956bcf5a6a8228886add640a333421034',
    'sfnt_unicode': '77f3ef5b622a965b9ae5621920d6cb852a14da14',
    'truetype_cid': '969211793a07acfff988065608d3b05cbe1404eb',
    'truetype_cidstream': '475758968a71b36c613e6a6842a41304abd31d06',
    'truetype_symbolic': 'dea1b64367d0b288a6502fe6bf5268bef9b2096f',
    'wbox2': '7a806e840948f54b8674cbc04a969f3bc1895459',
}


def test_every_case_is_pinned():
    assert sorted(DIGESTS) == sorted(_CASES)


@pytest.mark.parametrize("name", sorted(_CASES))
def test_encoder_digest(name):
    assert hashlib.sha1(_CASES[name]()).hexdigest() == DIGESTS[name]
