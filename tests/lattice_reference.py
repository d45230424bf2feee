"""The Viterbi kernel as it stood before candidate tuples, the unknown
table and the two-character dictionary index: the reference that
``test_lattice_kernel.py`` holds ``Lattice.segment`` to, Token for Token.

``_search_penalty``, ``prefix_matches`` and ``segment`` are copied
verbatim; only their dictionary is wrapped, so that it answers the
per-first-character length table (``_lens_by_first``) the old kernel
probed.
"""

from __future__ import annotations

from hive_udf_neologd_spark.tokenizer.dictionary import DictEntry, Dictionary
from hive_udf_neologd_spark.tokenizer.lattice import (
    _BOS,
    _CONN2D,
    _DEF,
    _DIGIT,
    _EOS_COSTS,
    _GROUPING,
    _INF,
    _KANJI,
    _MISC_PUNCT,
    _NUM_RC,
    _POS_UNK,
    _POS_UNK_NUM,
    _PUNCT,
    _SEARCH_KANJI_LENGTH,
    _SEARCH_KANJI_PENALTY,
    _SEARCH_OTHER_LENGTH,
    _SEARCH_OTHER_PENALTY,
    EXTENDED,
    SEARCH,
    Token,
    _char_class,
    _is_punct_token,
)

_POS_PUNCT = "記号-一般"


def _search_penalty(entry: DictEntry, mode: str) -> int:
    if mode not in (SEARCH, EXTENDED):
        return 0
    s = entry.surface
    n = len(s)
    if n > _SEARCH_KANJI_LENGTH and all(
        _char_class(c) == _KANJI for c in s
    ):
        # Flat Kuromoji penalty plus a length term so long compounds
        # (関西国際空港) decompose whenever component entries exist, while
        # 3-char words without parts (図書館) stay whole.
        return _SEARCH_KANJI_PENALTY + 1000 * (n - 3)
    if n > _SEARCH_OTHER_LENGTH:
        return _SEARCH_OTHER_PENALTY
    return 0


class _FirstCharIndex:
    """A Dictionary seen through the old per-first-character length sets."""

    def __init__(self, dictionary: Dictionary):
        self._by_surface = dictionary._by_surface
        lens_by_first: dict[str, set[int]] = {}
        for s in self._by_surface:
            lens_by_first.setdefault(s[0], set()).add(len(s))
        self._lens_by_first = {
            ch: tuple(sorted(lens, reverse=True)) for ch, lens in lens_by_first.items()
        }

    def prefix_matches(self, text: str, pos: int) -> list[DictEntry]:
        lens = self._lens_by_first.get(text[pos])
        if lens is None:
            return []
        out: list[DictEntry] = []
        by_surface = self._by_surface
        remaining = len(text) - pos
        for ln in lens:
            if ln > remaining:
                continue
            hit = by_surface.get(text[pos : pos + ln])
            if hit is not None:
                out.extend(hit)
        return out


class ReferenceLattice:
    """The old Lattice state: same dictionaries, same mode flags."""

    def __init__(self, dictionary: Dictionary, user_dict, mode: str):
        self._dict = _FirstCharIndex(dictionary)
        self._mode = mode
        self._user = (
            _FirstCharIndex(Dictionary(user_dict.entries))
            if user_dict and user_dict.entries
            else None
        )
        self._search = mode in (SEARCH, EXTENDED)

    def segment(self, text: str) -> list[Token]:
        n = len(text)
        if n == 0:
            return []
        mode = self._mode
        extended = mode == EXTENDED
        search = self._search
        user = self._user
        dic = self._dict

        # Per-line precomputation: char class of every position and the
        # exclusive end of the same-class run starting there (computed in
        # one backward pass — the round-5 code rescanned the run at every
        # position, O(run²)).
        cls = [_char_class(c) for c in text]
        run_end = [n] * n
        for i in range(n - 2, -1, -1):
            if cls[i + 1] == cls[i]:
                run_end[i] = run_end[i + 1]
            else:
                run_end[i] = i + 1

        # Node-lattice Viterbi.  Nodes live in parallel lists; ends[j]
        # maps right-class → node index of the cheapest node ending at j.
        node_start: list[int] = []
        node_len: list[int] = []
        node_entry: list[DictEntry | None] = []
        node_pos: list[str] = []
        node_punct: list[bool] = []
        node_total: list[float] = []
        node_back: list[int] = []
        node_rc: list[int] = []
        ends: list[dict[int, int] | None] = [None] * (n + 1)
        ends[0] = {_BOS: -1}  # -1 = BOS sentinel, total 0

        # Hoisted locals for the hot loop.
        dic_lens = dic._lens_by_first
        dic_surf = dic._by_surface
        ns_app = node_start.append
        nl_app = node_len.append
        ne_app = node_entry.append
        np_app = node_pos.append
        npu_app = node_punct.append
        nt_app = node_total.append
        nb_app = node_back.append
        nr_app = node_rc.append

        for i in range(n):
            incoming = ends[i]
            if incoming is None:
                continue
            # Per-position incoming snapshot.  The round-6 hard-constraint
            # matrix gives most prev classes a row, so the earlier
            # precompute-every-target-class approach did O(all rows) work
            # per position; a direct min over the incoming classes
            # (typically 1-3) per candidate, against a DENSE per-class
            # cost vector (_CONN2D, default 0), is cheaper and preserves
            # the strict-< first-achiever tie-break exactly (same
            # insertion-order iteration, same strict comparison).
            inc = [
                (idx, node_total[idx] if idx >= 0 else 0, _CONN2D[prc])
                for prc, idx in incoming.items()
            ]
            if len(inc) == 1:
                idx0, t00, row0 = inc[0]
                inc = None
            else:
                idx0 = t00 = row0 = None

            def relax(ln, wc, e, ptag, punct, lc, rc):
                if inc is None:
                    total = t00 + row0[lc] + wc
                    bi = idx0
                else:
                    best = _INF
                    bi = -2
                    for idx, t0, row in inc:
                        t = t0 + row[lc]
                        if t < best:
                            best = t
                            bi = idx
                    total = best + wc
                j = i + ln
                slot = ends[j]
                if slot is None:
                    slot = ends[j] = {}
                cur = slot.get(rc)
                if cur is None or total < node_total[cur]:
                    slot[rc] = len(node_total)
                    ns_app(i)
                    nl_app(ln)
                    ne_app(e)
                    np_app(ptag)
                    npu_app(punct)
                    nt_app(total)
                    nb_app(bi)
                    nr_app(rc)

            # --- candidates (relaxed in the round-5 order: user → dict
            # longest-first → unknown) ---------------------------------
            if user is not None:
                for e in user.prefix_matches(text, i):
                    relax(len(e.surface), e.cost, e, e.pos, False, e.lc, e.rc)
            lens = dic_lens.get(text[i])
            if lens is not None:
                remaining = n - i
                for ln in lens:
                    if ln > remaining:
                        continue
                    hit = dic_surf.get(text[i : i + ln])
                    if hit is not None:
                        if search:
                            for e in hit:
                                relax(ln, e.cost + _search_penalty(e, mode),
                                      e, e.pos, False, e.lc, e.rc)
                        else:
                            for e in hit:
                                relax(ln, e.cost, e, e.pos, False, e.lc, e.rc)

            ci = cls[i]
            if ci == _PUNCT:
                # Group a run of punctuation/whitespace into one
                # discardable node.
                relax(run_end[i] - i, 0, None, _POS_PUNCT, True, _DEF, _DEF)
            else:
                if text[i] in _MISC_PUNCT:
                    # Symbol.csv-analog candidate (see _MISC_PUNCT note):
                    # competes with, never replaces, the kana-class
                    # unknown candidates below.
                    relax(1, 0, None, _POS_PUNCT, True, _DEF, _DEF)
                if ci == _DIGIT:
                    unk_pos = _POS_UNK_NUM
                    urc = _NUM_RC  # 名詞-数 right class (counter reward)
                else:
                    unk_pos = _POS_UNK
                    urc = _DEF
                if extended:
                    # Extended mode: unknown words become unigrams
                    # (Kuromoji EXTENDED).
                    relax(1, 3000, None, unk_pos, False, _DEF, urc)
                elif ci == _KANJI:
                    # char.def: KANJI group=0 length=2 → candidates 1..2.
                    relax(1, 5200, None, unk_pos, False, _DEF, _DEF)
                    if run_end[i] - i >= 2:
                        relax(2, 6900, None, unk_pos, False, _DEF, _DEF)
                elif ci in _GROUPING:
                    rl = run_end[i] - i
                    # Full-run grouped candidate (cheapest per char) ...
                    relax(rl, 3000 + 500 * rl, None, unk_pos, False, _DEF, urc)
                    # ... plus short prefixes so embedded dictionary words
                    # can win.  Ladder extended to 5 in round 7 (audit
                    # 116): a missing 4-char word (なめらか) had no
                    # matching prefix, so the full run swallowed the
                    # ELEVEN characters なめらかになるまでよく — with the
                    # 4/5 rungs the unknown word ends where the particle
                    # begins (7100+50+… < 8500) even before a dictionary
                    # wave ships the word itself.
                    if rl > 1:
                        relax(1, 4400, None, unk_pos, False, _DEF, _DEF)
                        if rl > 2:
                            relax(2, 5300, None, unk_pos, False, _DEF, _DEF)
                            if rl > 3:
                                relax(3, 6200, None, unk_pos, False, _DEF, _DEF)
                                if rl > 4:
                                    relax(4, 7100, None, unk_pos, False, _DEF, _DEF)
                                    if rl > 5:
                                        relax(5, 8000, None, unk_pos, False, _DEF, _DEF)
                else:
                    relax(1, 6000, None, unk_pos, False, _DEF, _DEF)

        # Backtrack from the cheapest node ending at n (every position is
        # reachable: unknown nodes always exist).  Tie → first-inserted
        # (earliest start, earliest candidate), matching the strict-<
        # relaxation order of the per-position formulation.
        final = ends[n]
        best = _INF
        idx = -2
        for _rc, k in final.items():  # insertion order
            t = node_total[k] + _EOS_COSTS[_rc]
            if t < best:
                best = t
                idx = k
        path: list[tuple[int, int]] = []  # (start, node_idx)
        while idx >= 0:
            path.append((node_start[idx], idx))
            idx = node_back[idx]
        path.reverse()

        # SEARCH/EXTENDED compound-as-synonym emission (Lucene 5.5.5
        # Mode.SEARCH javadoc: decompounding "also including the full
        # compound token as a synonym"; outputCompounds is true for both
        # SEARCH and EXTENDED).  The reference drains every term from the
        # stream (KuromojiNEologdUDF.java:306-316), so its SEARCH output
        # contains compound AND parts.  Interpretation pinned here (the
        # reference's own tests never pin SEARCH output,
        # KuromojiNEologdUDFTest.java only checks the mode arg): wherever
        # the chosen path splits a span that a single *penalized* built-in
        # dictionary entry covers exactly (≥2 consecutive parts), emit
        # that entry's token first, then its parts — the compound sits at
        # the first part's position with positionLength = #parts in
        # Lucene's graph, and longer-token-first is its surface order.
        # User-dictionary compounds are excluded: Lucene always applies
        # the user segmentation without a synonym compound.
        compounds: dict[int, Token] = {}
        if search:
            end_to_idx = {
                start + node_len[nidx]: k for k, (start, nidx) in enumerate(path)
            }
            for k, (i, nidx) in enumerate(path):
                best_e = None
                ln = node_len[nidx]
                for e in dic.prefix_matches(text, i):
                    if len(e.surface) == ln:
                        continue  # the path kept the compound itself
                    if _search_penalty(e, mode) <= 0:
                        continue  # not a decompounding candidate
                    kk = end_to_idx.get(i + len(e.surface))
                    if kk is None or kk <= k:
                        continue  # does not align with ≥2 chosen parts
                    if best_e is None or len(e.surface) > len(best_e.surface):
                        best_e = e
                if best_e is not None:
                    surf = text[i : i + len(best_e.surface)]
                    compounds[k] = Token(
                        surf,
                        best_e.norm if best_e.norm is not None else surf,
                        best_e.pos,
                        best_e.base_form,
                        best_e.reading,
                        False,
                        False,
                    )

        tokens: list[Token] = []
        for k, (i, nidx) in enumerate(path):
            if k in compounds:
                tokens.append(compounds[k])
            if node_punct[nidx]:
                continue  # discardPunctuation=true
            surface = text[i : i + node_len[nidx]]
            if _is_punct_token(surface):
                # Lucene discardPunctuation applies to every emitted
                # token by CATEGORY, not by node class — an all-punct
                # surface the kana-class nodes produced (a grouped ・・・
                # run, a lone ゛) is discarded here (round 12, VERDICT
                # r11 #1).  One category lookup per token typical: the
                # first non-punct char short-circuits.
                continue
            e = node_entry[nidx]
            if e is not None and e.segments:
                # User-dictionary segmentation: emit each segment as a token.
                for seg, reading in e.segments:
                    if _is_punct_token(seg):
                        continue
                    tokens.append(
                        Token(seg, seg, e.pos, None, reading, False, False)
                    )
                continue
            if e is not None:
                term = e.norm if e.norm is not None else surface
                tokens.append(
                    Token(surface, term, e.pos, e.base_form, e.reading, False, False)
                )
            else:
                tokens.append(
                    Token(surface, surface, node_pos[nidx], None, None, False, True)
                )
        return tokens
