"""Golden + property tests for the span-matching kernel.

Goldens are the reference's own fixtures (/root/reference/tests/test.py:8-41)
asserted *stronger* than the reference suite: exact span lists per text, not
just counts (the reference's _test_correct loop is vacuous post-lowercasing;
see SURVEY.md §5).
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings, strategies as st

from quickner_spark.matcher import Matcher, annotate_text, find_spans
from tests.ac_oracle import AhoCorasick

TEXTS = [
    "rust is made by Mozilla",
    "Python was created by Guido van Rossum",
    "Java was created by James Gosling at Sun Microsystems",
    "Swift was created by Chris Lattner and Apple",
    "You can find more information about Rust at https://www.rust-lang.org/",
]

ENTITIES = [
    ("Rust", "PL"),
    ("Python", "PL"),
    ("Java", "PL"),
    ("Swift", "PL"),
    ("Mozilla", "ORG"),
    ("Apple", "ORG"),
    ("Sun Microsystems", "ORG"),
    ("Guido van Rossum", "PERSON"),
    ("James Gosling", "PERSON"),
    ("Chris Lattner", "PERSON"),
]

GOLDEN = {
    "rust is made by mozilla": [(0, 4, "PL"), (16, 23, "ORG")],
    "python was created by guido van rossum": [(0, 6, "PL"), (22, 38, "PERSON")],
    "java was created by james gosling at sun microsystems": [
        (0, 4, "PL"), (20, 33, "PERSON"), (37, 53, "ORG")],
    "swift was created by chris lattner and apple": [
        (0, 5, "PL"), (21, 34, "PERSON"), (39, 44, "ORG")],
}

LOWER_ENTS = sorted({(n.lower(), l) for n, l in ENTITIES})


def oracle_spans(text: str, ents, mode: str = "reference"):
    """The full Aho-Corasick raw match set through the matcher's M2/M3
    filters — the independent reference for the boundary-anchored scan."""
    m = Matcher(ents)
    return m._filter_matches(text, AhoCorasick(m.names).iter_matches(text),
                             clean=mode == "clean")


def spans_for(text: str, scan: str):
    """``scan``: 'bnd' = the production matcher, 'ac' = the test oracle."""
    if scan == "ac":
        return oracle_spans(text.lower(), LOWER_ENTS)
    return find_spans(text.lower(), LOWER_ENTS)


@pytest.mark.parametrize("scan", ["ac", "bnd"])
def test_golden_spans(scan):
    total = 0
    for text in TEXTS:
        got = spans_for(text, scan)
        key = text.lower()
        if key in GOLDEN:
            assert got == GOLDEN[key], text
        total += len(got)
    assert total == 12  # tests/test.py:58-59


@pytest.mark.parametrize("scan", ["ac", "bnd"])
def test_rust_matched_twice_in_url(scan):
    # "Rust" and "rust" inside https://www.rust-lang.org/ (punct boundaries)
    got = spans_for(TEXTS[4], scan)
    assert len(got) == 2
    assert all(lab == "PL" for _, _, lab in got)
    text = TEXTS[4].lower()
    assert [text[s:e] for s, e, _ in got] == ["rust", "rust"]


def test_unicode_character_offsets():
    # /root/reference/tests/test.py:167-174 — char-level offsets with 'ü'
    text = ("Indizes auf Zeichenebene anstelle von Indizes auf Byteebene, "
            "um Python-Slicing zu unterstützen")
    new_text, labels = annotate_text(text, [], [("Python", "PL")],
                                     case_sensitive=False)
    assert len(labels) == 1
    s, e, lab = labels[0]
    assert new_text == text  # PyDocument::annotate leaves stored text alone
    assert new_text[s:e] == "Python"  # test.py:172-174


def test_single_document_case_sensitivity_and_order():
    # /root/reference/tests/test.py:157-165
    text = "rust is made by Mozilla"
    ents = [("Rust", "PL"), ("Mozilla", "ORG")]
    text1, labels = annotate_text(text, [], ents, case_sensitive=True)
    assert len(labels) == 1  # only "Mozilla" matches case-sensitively
    assert labels[0][2] == "ORG"
    text2, labels = annotate_text(text1, labels, ents, case_sensitive=False)
    assert len(labels) == 2
    assert labels[0][2] == "ORG"  # order preserved: ORG first
    assert labels[1][2] == "PL"


def test_suffix_rule_d_quirk():
    # quickner.rs:180-183 — a match ending exactly at end-of-text is
    # accepted with NO preceding-boundary check ("xrust" end of text).
    got = find_spans("i love xrust", [("rust", "PL")])
    assert got == [(8, 12, "PL")]
    # clean mode rejects it — the documented divergence
    got_clean = find_spans("i love xrust", [("rust", "PL")], mode="clean")
    assert got_clean == []
    # mid-text non-boundary matches rejected in both modes
    assert find_spans("xrust here", [("rust", "PL")]) == []


def test_end_of_text_without_suffix_rule_needs_rule_d():
    # end-of-text next char reads sentinel 'N' -> rules a/b/c fail; rule d
    # catches it (byte arithmetic).
    assert find_spans("made by mozilla", [("mozilla", "ORG")]) == [(8, 15, "ORG")]


@pytest.mark.parametrize("text, want", [
    (" éab c", [(1, 3, "X")]),  # rule (e): char at start+byte_len is ws
    (" éab,c", [(1, 3, "X")]),  # rule (f): ... is punct
    (" éab.c", []),             # rule (f) excludes '.'
])
def test_multibyte_rules_e_f(text, want):
    # quickner.rs:184-222 — rules (e)/(f) read the char at start + the
    # pattern's BYTE length; 'éa' is 2 chars but 3 bytes, so that read
    # skips the real next char 'b'.
    ents = [("éa", "X")]
    assert find_spans(text, ents) == want
    assert oracle_spans(text, ents) == want
    # clean mode sees the real next char 'b' and rejects all three
    assert find_spans(text, ents, mode="clean") == []
    assert oracle_spans(text, ents, mode="clean") == []


def test_white_space_boundaries():
    # Rust char::is_whitespace (Unicode White_Space) delimits a word;
    # Python str.isspace's extra U+001C..U+001F do not.
    ents = [("rust", "PL")]
    for ws in ("\t", "\n", "\u0085", "\u00a0", "\u2009", "\u3000"):
        text = f"a{ws}rust{ws}b"
        assert find_spans(text, ents) == [(2, 6, "PL")], repr(ws)
        assert find_spans(text, ents, mode="clean") == [(2, 6, "PL")], repr(ws)
    assert find_spans("a\x1crust\x1cb", ents) == []


def test_overlapping_patterns_all_reported():
    ents = [("sun", "STAR"), ("sun microsystems", "ORG")]
    got = find_spans("at sun microsystems today", ents)
    assert got == [(3, 6, "STAR"), (3, 19, "ORG")]


def test_consecutive_dedup_same_triple():
    # duplicate (name,label) entries collapse after M3 dedup
    ents = [("rust", "PL"), ("rust", "PL")]
    assert find_spans("rust rules", ents) == [(0, 4, "PL")]


def test_same_name_different_labels_both_kept():
    ents = [("rust", "PL"), ("rust", "GAME")]
    got = find_spans("rust rules", ents)
    assert got == [(0, 4, "GAME"), (0, 4, "PL")] or got == [(0, 4, "PL"), (0, 4, "GAME")]
    assert len(got) == 2


# The production matcher against the Aho-Corasick oracle, in both modes.
@settings(max_examples=300, deadline=None)
@given(
    text=st.text(alphabet="ab .x-", min_size=0, max_size=40),
    pats=st.lists(
        st.text(alphabet="ab x", min_size=1, max_size=5).filter(str.strip),
        min_size=1, max_size=6),
)
def test_backends_agree(text, pats):
    ents = sorted({(p, "X") for p in pats})
    m = Matcher(ents)
    assert m.find_spans(text) == oracle_spans(text, ents)
    assert m.find_spans_clean(text) == oracle_spans(text, ents, "clean")


@settings(max_examples=200, deadline=None)
@given(
    text=st.text(min_size=0, max_size=60),
    pats=st.lists(st.text(min_size=1, max_size=4), min_size=1, max_size=5),
)
def test_backends_agree_unicode(text, pats):
    ents = sorted({(p, "X") for p in pats})
    m = Matcher(ents)
    assert m.find_spans(text) == oracle_spans(text, ents)
    assert m.find_spans_clean(text) == oracle_spans(text, ents, "clean")
