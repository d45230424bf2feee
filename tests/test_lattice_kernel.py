"""The Viterbi kernel against its pre-change loop, Token for Token, and
the tables it reads: the unknown-word table and dictionary candidates
(which tools/explain_path.py reads too), the two-character dictionary
index and the ASCII-surface sweep.  The analyzer's term memo against the
same loop followed by the unmemoized filter chain."""

from __future__ import annotations

import os
import random
import re
import sys

import pytest

from hive_udf_neologd_spark.tokenizer import connection
from hive_udf_neologd_spark.tokenizer.analyzer import JapaneseAnalyzer
from hive_udf_neologd_spark.tokenizer.chardef import char_class
from hive_udf_neologd_spark.tokenizer.dictionary import (
    DictEntry,
    Dictionary,
    UserDictionary,
    builtin_dictionary,
)
from hive_udf_neologd_spark.tokenizer.lattice import EXTENDED, NORMAL, SEARCH, Lattice
from hive_udf_neologd_spark.tokenizer.parity_harness import AXES

sys.path.insert(0, os.path.dirname(__file__))
sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools"))

import explain_path  # noqa: E402
from lattice_reference import ReferenceLattice, _search_penalty  # noqa: E402

MODES = (NORMAL, SEARCH, EXTENDED)

_EDGE_LINES = (
    # Compounds whose prefix is a penalized compound too (SEARCH emits
    # only the longest as a synonym).
    "二酸化炭素排出量を減らす。",
    "予防接種証明書を見せた。",
    # Same-class runs longer than the lattice's unknown table holds.
    "ア" * 40 + "を見た。",
    "あ" * 37 + "。",
    "1234567890" * 4 + "円",
    "漢" * 35,
    "abc" * 12 + " " * 34 + "。" * 33,
    "・" * 34 + "ピアノ・ギター",
)


def _sentences() -> list[str]:
    return sorted({row[-2] for axis in AXES.values() for row in axis.corpus})


def _documents(seed: int, n_docs: int) -> list[str]:
    """Long documents of 10-40 corpus sentences each, the shape of the
    benchmark's document workload."""
    sentences = _sentences()
    rng = random.Random(seed)
    return [
        "".join(rng.choice(sentences) for _ in range(rng.randint(10, 40)))
        for _ in range(n_docs)
    ]


def _run_end(text: str, i: int) -> int:
    end = i + 1
    while end < len(text) and char_class(text[end]) == char_class(text[i]):
        end += 1
    return end


def _user_rows() -> list[str]:
    return sorted({r for row in AXES["t29"].corpus for r in row[3]})


@pytest.fixture(scope="module")
def user_dict():
    return UserDictionary.from_rows(_user_rows())


@pytest.mark.parametrize("with_user", [False, True], ids=["builtin", "userdict"])
@pytest.mark.parametrize("mode", MODES)
def test_segment_matches_reference_loop(mode, with_user, user_dict):
    ud = user_dict if with_user else None
    d = builtin_dictionary()
    lat, ref = Lattice(d, ud, mode), ReferenceLattice(d, ud, mode)
    for text in [*_sentences(), *_EDGE_LINES, *_documents(seed=5, n_docs=120)]:
        got, want = lat.segment(text), ref.segment(text)
        if got != want:
            k = next(k for k, (g, w) in enumerate(zip(got, want)) if g != w)
            pytest.fail(f"{mode} token {k}: {got[k:k + 3]} != {want[k:k + 3]} in {text[:80]!r}")


@pytest.mark.parametrize("mode", MODES)
def test_segment_matches_reference_on_entries_without_prebuilt_tokens(mode, user_dict):
    """All-punct and segmented entries in the built-in dictionary keep
    their DictEntry payload and the emit loop's discard and segment
    paths (the packaged dictionary has neither)."""
    extra = [
        DictEntry("・・", "記号-一般", -1000),
        DictEntry("！？", "記号-一般", -1000),
        *user_dict.entries,
    ]
    d = Dictionary([e for es in builtin_dictionary()._by_surface.values() for e in es] + extra)
    lat, ref = Lattice(d, None, mode), ReferenceLattice(d, None, mode)
    assert any(isinstance(c[4], DictEntry) for e in extra for c in lat.dictionary_candidates(e.surface))
    lines = ["えっ！？本当・・ですか。", "・・・・ピアノ・・ギター！？", "日本経済新聞を読んだ。", *_sentences()[:200]]
    for text in lines:
        assert lat.segment(text) == ref.segment(text), (mode, text)


@pytest.mark.parametrize("with_user", [False, True], ids=["builtin", "userdict"])
def test_prefix_matches_equal_first_char_probing(with_user, user_dict):
    d = Dictionary(user_dict.entries) if with_user else builtin_dictionary()
    old = ReferenceLattice(d, None, NORMAL)._dict
    for text in _sentences():
        for i in range(len(text)):
            assert d.prefix_matches(text, i) == old.prefix_matches(text, i), (text, i)


def test_prefix_index_is_keyed_by_two_chars():
    d = builtin_dictionary()
    assert all(len(k) == 2 for k in d._lens_by_prefix)
    for s in d._by_surface:
        if len(s) > 1:
            assert len(s) in d._lens_by_prefix[s[:2]]


@pytest.mark.parametrize("mode", MODES)
def test_explain_path_reads_the_lattice_unknown_table(mode):
    lat = Lattice(builtin_dictionary(), None, mode)
    for text in _sentences():
        for i in range(len(text)):
            rl = _run_end(text, i) - i
            table = lat.unknown_candidates(text[i], rl)
            for ln in range(1, rl + 1):
                want = [(c, lc, rc) for n, c, lc, rc, _p in table if n == ln]
                got = explain_path.unknown_candidates(lat, text, i, text[i : i + ln])
                assert [g[:3] for g in got] == want, (text, i, ln)


def test_explain_path_unknown_candidates_cover_the_whole_ladder():
    """The right classes, punct candidates and EXTENDED unigrams the
    lattice relaxes, which a hand-copied ladder had lost."""
    d = builtin_dictionary()
    normal, extended = Lattice(d, None, NORMAL), Lattice(d, None, EXTENDED)
    unk = explain_path.unknown_candidates
    D = connection.DEFAULT
    # A digit run's grouped candidate carries the 名詞-数 right class.
    assert unk(normal, "123円", 0, "123") == [(4500, D, connection.NUM_UNK, "unk:名詞-数")]
    # ・ inside a katakana run: a zero-cost discardable node next to the rung.
    assert unk(normal, "ピアノ・ギター", 3, "・") == [
        (0, D, D, "punct"),
        (4400, D, D, "unk:名詞-一般"),
    ]
    # A span shorter than its run gets the prefix rung only.
    assert unk(normal, "なめらか", 0, "なめ") == [(5300, D, D, "unk:名詞-一般")]
    assert unk(extended, "漢字", 0, "漢") == [(3000, D, D, "unk:名詞-一般")]
    assert unk(extended, "漢字", 0, "漢字") == []


def test_unknown_table_matches_ladder_past_its_runs():
    lat = Lattice(builtin_dictionary(), None, NORMAL)
    short, long_ = lat.unknown_candidates("ア", 6), lat.unknown_candidates("ア", 50)
    assert short[0] == (6, 6000, connection.DEFAULT, connection.DEFAULT, "名詞-一般")
    assert long_[0] == (50, 28000, connection.DEFAULT, connection.DEFAULT, "名詞-一般")
    assert short[1:] == long_[1:] and len(long_) == 6


def test_ascii_matchable_surfaces_equal_regex_comprehension():
    surfaces = ["abc", "Spark SQL", "a1", "ａｂ", "x-y", "日本", "42", " ", "ab\n"]
    for d in (
        builtin_dictionary(),
        Dictionary([DictEntry(s, "名詞-一般", 1000) for s in surfaces]),
    ):
        old = tuple(s for s in d._by_surface if re.fullmatch(r"[A-Za-z0-9 ]+", s))
        assert d.ascii_matchable_surfaces() == old


def test_explain_path_dictionary_rows_equal_entries():
    """explain_path reads the dictionary candidates' payloads, which are
    prebuilt Tokens now: its rows must still be each entry's cost (with
    the search penalty), classes and POS, for every dictionary surface on
    the parity corpora's best paths."""
    d = builtin_dictionary()
    for mode in MODES:
        lat = Lattice(d, None, mode)
        for text in _sentences():
            for tok in lat.segment(text):
                entries = d._by_surface.get(tok.surface)
                if not entries:
                    continue
                want = [
                    (e.cost + _search_penalty(e, mode), e.lc, e.rc, f"dict:{e.pos}")
                    for e in entries
                ]
                got = explain_path.candidates(lat, text, text.index(tok.surface), tok.surface)
                assert [g for g in got if g[3].startswith("dict:")] == want, (mode, tok)


# Stop-word/tag configurations: defaults, disabled, and custom lists
# (mixed-case words, folded by the case-insensitive StopFilter).
_STOP_CONFIGS = {
    "default": (None, None),
    "empty": ([], []),
    "custom": (["SMAP", "Spark", "テレビ", "ある", None], ["名詞-数", "助詞-格助詞-一般", None]),
}


def _unmemoized_terms(analyzer, ref, line):
    return [
        (tok, term)
        for tok in ref.segment(line)
        if (term := analyzer._filter(tok)) is not None
    ]


@pytest.mark.parametrize("stops", list(_STOP_CONFIGS))
@pytest.mark.parametrize("with_user", [False, True], ids=["builtin", "userdict"])
@pytest.mark.parametrize("mode", MODES)
def test_term_memo_matches_unmemoized_filter(mode, with_user, stops, user_dict):
    stop_words, stop_tags = _STOP_CONFIGS[stops]
    a = JapaneseAnalyzer(mode, stop_words, stop_tags, _user_rows() if with_user else None)
    ref = ReferenceLattice(builtin_dictionary(), user_dict if with_user else None, mode)
    lines = [*_sentences(), *_EDGE_LINES, *_documents(seed=9, n_docs=30), "the fast key order"]
    for _ in range(2):  # the second pass reads every known term from the memo
        for line in lines:
            want = _unmemoized_terms(a, ref, line)
            assert a.tokenize(line) == [term for _tok, term in want], (mode, line[:80])
            assert a.analyze_rich(line) == [
                {
                    "term": term,
                    "surface": tok.surface,
                    "pos": tok.pos,
                    "base_form": tok.base_form,
                    "reading": tok.reading,
                    "unknown": tok.is_unknown,
                }
                for tok, term in want
            ], (mode, line[:80])
    assert a._terms and not any(tok.is_unknown for tok in a._terms)


@pytest.mark.parametrize("mode", MODES)
def test_unknown_words_do_not_grow_the_term_memo(mode):
    """Only known Tokens are memoized: lines full of fresh unknown words
    (CJK Extension A kanji, which no dictionary surface holds) leave the
    memo as it was."""
    a = JapaneseAnalyzer(mode)
    known_chars = set("".join(a._lattice._dict._by_surface))
    rng = random.Random(3)
    ext_a = [chr(cp) for cp in range(0x3400, 0x4DC0) if chr(cp) not in known_chars]
    frame = "東京で{}を見た。{}と{}の話"
    a.tokenize(frame.format("", "", ""))
    size = len(a._terms)
    assert size
    for _ in range(200):
        words = ["".join(rng.choices(ext_a, k=rng.randint(1, 6))) for _ in range(3)]
        toks = a.analyze_rich(frame.format(*words))
        assert any(t["unknown"] for t in toks)
        a.tokenize(frame.format(*words))
    assert len(a._terms) == size
