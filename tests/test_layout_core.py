"""M0 golden tests for the byte-identity layout kernel.

Cases 1-3 are lifted verbatim from the reference's own unit tests
(``/root/reference/src/lib/ocr/__tests__/builder.test.ts:19-69``) — these pin
our output to the reference's published semantics.  Cases 4-5 are the
FIXTURES.md additions (multi-column tab detection, cluster-tolerance edge).
"""

import math

from pdf_ocr_engine_spark.core.layout import (
    build_copy_friendly_word_sequence,
    is_valid_word,
    js_trim,
    page_text,
)


def w(text, x0, y0, x1, y1, conf=90.0):
    return (text, float(x0), float(y0), float(x1), float(y1), conf)


def seq(words):
    return [cw.text for cw in build_copy_friendly_word_sequence(words)]


class TestReferenceGoldens:
    def test_table_gaps(self):
        # builder.test.ts:20-40 — input deliberately unsorted
        words = [
            w("Qty", 180, 10, 220, 22),
            w("Item", 10, 10, 60, 22),
            w("Price", 320, 10, 370, 22),
            w("2", 190, 34, 205, 46),
            w("$3.00", 320, 34, 380, 46),
            w("Apple", 10, 34, 70, 46),
        ]
        assert seq(words) == ["Item", "\tQty", "\tPrice", "\nApple", "\t2", "\t$3.00"]
        assert page_text(words) == "Item\tQty\tPrice\nApple\t2\t$3.00"

    def test_sentence_gaps(self):
        # builder.test.ts:42-52
        words = [
            w("world", 62, 10, 104, 20),
            w("Hello", 10, 10, 56, 20),
            w("again", 108, 10, 150, 20),
        ]
        assert seq(words) == ["Hello", " world", " again"]
        assert page_text(words) == "Hello world again"

    def test_malformed_filter(self):
        # builder.test.ts:54-68 — F5: empty text, zero width, NaN coord
        words = [
            w("good", 10, 10, 40, 20),
            w("", 50, 10, 80, 20),
            w("bad-width", 100, 10, 100, 20),
            w("nan", math.nan, 0, 10, 10, 80.0),
        ]
        assert seq(words) == ["good"]


class TestIsValidWord:
    def test_rejects(self):
        assert not is_valid_word(None, 0, 0, 1, 1)
        assert not is_valid_word("  \t ", 0, 0, 1, 1)
        assert not is_valid_word("x", math.inf, 0, 1, 1)
        assert not is_valid_word("x", 0, 0, 1, math.nan)
        assert not is_valid_word("x", 5, 0, 5, 1)      # zero width
        assert not is_valid_word("x", 0, 5, 1, 5)      # zero height
        assert not is_valid_word("x", 5, 0, 4, 1)      # negative width
        assert is_valid_word("x", 0, 0, 1, 1)

    def test_js_trim_set(self):
        # JS trims U+FEFF; does NOT trim U+001C-001F (Python's strip does)
        assert js_trim("﻿ x  ") == "x"
        assert js_trim("\x1cx\x1c") == "\x1cx\x1c"
        assert not is_valid_word("﻿", 0, 0, 1, 1)
        assert is_valid_word("\x1c", 0, 0, 1, 1)


class TestLayoutEdgeCases:
    def test_multi_column_tabs(self):
        # FIXTURES.md multi_column: x-gap exceeding
        # max(1.25*avgWordWidth, 1.5*lineHeight) -> tab separator
        words = [
            w("left1", 10, 10, 60, 22),    # widths 50, heights 12
            w("right1", 300, 10, 350, 22),
            w("left2", 10, 34, 60, 46),
            w("right2", 300, 34, 350, 46),
        ]
        # avgWordWidth=50 -> threshold max(62.5, 18)=62.5; gap=240 >= 62.5 -> tab
        assert seq(words) == ["left1", "\tright1", "\nleft2", "\tright2"]

    def test_cluster_tolerance_boundary(self):
        # tolerance = max(2, 0.6*min(h)) ; h=12 -> 7.2
        # centers: first 16.0; second 23.0 (dist 7.0 <= 7.2 -> same line)
        same = [w("a", 10, 10, 20, 22), w("b", 40, 17, 50, 29)]
        assert "\n" not in page_text(same)
        # second center 24.0 (dist 8.0 > 7.2 -> new line)
        split = [w("a", 10, 10, 20, 22), w("b", 40, 18, 50, 30)]
        assert "\n" in page_text(split)

    def test_running_mean_gates_membership(self):
        # A5: order-dependent centroid drift — words join sequentially and the
        # running mean decides later membership.
        words = [
            w("w1", 10, 10, 30, 22),   # center 16
            w("w2", 40, 14, 60, 26),   # center 20, dist 4 <= 7.2 -> join, mean 18
            w("w3", 70, 19, 90, 31),   # center 25, dist |25-18|=7 <= 7.2 -> join
        ]
        assert page_text(words) == "w1 w2 w3"

    def test_no_separator_for_tiny_gap(self):
        # gap <= 0.15*lineHeight -> words concatenated with NO space
        words = [w("foo", 10, 10, 40, 20), w("bar", 41, 10, 70, 20)]
        # h=10, 0.15*10=1.5, gap=1 -> no prefix
        assert page_text(words) == "foobar"

    def test_tie_break_first_line_wins(self):
        # two lines at equal distance: scan order keeps the earlier line
        words = [
            w("top", 10, 0, 30, 10),     # center 5
            w("bot", 10, 20, 30, 30),    # center 25
            w("mid", 50, 10, 70, 20),    # center 15: dist 10 to both -> no join
        ]
        # tolerance = max(2, .6*10)=6 < 10 -> mid opens its own line
        assert page_text(words) == "top\nmid\nbot"

    def test_empty_input(self):
        assert page_text([]) == ""
        assert build_copy_friendly_word_sequence([]) == []

    def test_stable_sort_on_full_tie(self):
        # identical (centerY, x0): stable sort keeps input order
        words = [w("first", 10, 10, 40, 20), w("second", 10, 10, 45, 20)]
        out = seq(words)
        assert out[0] == "first"


class TestFastKernelEquivalence:
    """layout_fast must be byte-identical to the reference-port kernel."""

    def _both(self, words):
        import numpy as np

        from pdf_ocr_engine_spark.core.layout_fast import page_layout_fast

        slow = page_text(words)
        texts = [x[0] for x in words]
        coords = np.array([[x[1], x[2], x[3], x[4], 90.0] for x in words],
                          dtype="f8").reshape(len(words), 5)
        fast, n_words, spans = page_layout_fast(texts, coords)
        assert spans is None
        assert fast == slow
        assert n_words == len(build_copy_friendly_word_sequence(words))
        return fast

    def test_goldens_match(self):
        assert self._both([
            w("Qty", 180, 10, 220, 22), w("Item", 10, 10, 60, 22),
            w("Price", 320, 10, 370, 22), w("2", 190, 34, 205, 46),
            w("$3.00", 320, 34, 380, 46), w("Apple", 10, 34, 70, 46),
        ]) == "Item\tQty\tPrice\nApple\t2\t$3.00"

    def test_invalid_words_match(self):
        self._both([
            (None, 10.0, 10.0, 60.0, 22.0, 90.0),  # null text dropped, F5
            w("", 10, 10, 60, 22), w("good", 10, 10, 60, 22),
            w("zero", 10, 10, 10, 22), w("nan", math.nan, 10, 60, 22),
            w("﻿", 70, 10, 90, 22),
        ])

    def test_empty(self):
        import numpy as np

        from pdf_ocr_engine_spark.core.layout_fast import page_layout_fast
        assert page_layout_fast([], np.empty((0, 5))) == ("", 0, None)

    def test_fuzz_equivalence(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        coord = st.one_of(
            st.floats(min_value=0, max_value=500, allow_nan=False),
            st.sampled_from([math.nan, math.inf, -math.inf]),
            st.integers(min_value=0, max_value=40).map(float),  # force ties
        )
        word = st.tuples(
            st.text(alphabet="ab \t ", max_size=3),
            coord, coord, coord, coord)
        words = st.lists(word, max_size=60)

        @settings(max_examples=300, deadline=None)
        @given(words)
        def check(ws):
            self._both([w(*x) for x in ws])

        check()
