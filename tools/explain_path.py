"""Explain why an expected segmentation loses to the engine's choice.

Usage: python tools/explain_path.py SENTENCE TOKEN [TOKEN ...]

Scores the forced token path (choosing, per token, the dictionary entry /
unknown candidate and class pair that minimizes total cost via a small
DP over connection classes) and prints the per-edge breakdown next to
the engine's chosen path and its total — the authoring loop for
connection-matrix and cost-tier fixes (round 8 held-out tranche).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hive_udf_neologd_spark.tokenizer import chardef, connection
from hive_udf_neologd_spark.tokenizer.dictionary import builtin_dictionary
from hive_udf_neologd_spark.tokenizer.lattice import _CONN2D, _EOS_COSTS, Lattice

_CLASS_NAMES = {
    v: k
    for k, v in vars(connection).items()
    if isinstance(v, int) and k.isupper() and k not in ("N_CLASSES",
                                                        "CLASS_SCHEMA_VERSION")
}


def unknown_candidates(lat: Lattice, text: str, start: int, surface: str):
    """The lattice's unknown-word and punct candidates for this exact
    span, read from its unknown table at the span's same-class run."""
    cls0 = chardef.char_class(text[start])
    end = start + 1
    while end < len(text) and chardef.char_class(text[end]) == cls0:
        end += 1
    return [
        (cost, lc, rc, "punct" if pos is None else f"unk:{pos}")
        for ln, cost, lc, rc, pos in lat.unknown_candidates(text[start], end - start)
        if ln == len(surface)
    ]


def candidates(lat: Lattice, text: str, start: int, surface: str):
    """All (cost, lc, rc, label) candidates for this exact surface span."""
    out = [
        (cost, lc, rc, f"dict:{e.pos}")
        for _ln, cost, lc, rc, e in lat.dictionary_candidates(surface)
    ]
    return out + unknown_candidates(lat, text, start, surface)


def main() -> int:
    text, toks = sys.argv[1], sys.argv[2:]
    lat = Lattice(builtin_dictionary(), None, "normal")
    # DP over forced tokens: state = rc of previous token.
    states = {connection.BOS: (0.0, [])}
    pos = 0
    for t in toks:
        idx = text.index(t, pos)
        pos = idx + len(t)
        cands = candidates(lat, text, idx, t)
        if not cands:
            print(f"NO CANDIDATE for {t!r} — not in dictionary and not a "
                  f"homogeneous unknown run")
            return 1
        nxt = {}
        for prc, (tot, trail) in states.items():
            row = _CONN2D[prc]
            for cost, lc, rc, label in cands:
                conn = row[lc]
                cand = tot + conn + cost
                if rc not in nxt or cand < nxt[rc][0]:
                    nxt[rc] = (cand, trail + [
                        (t, label, cost, conn,
                         _CLASS_NAMES.get(prc, prc),
                         _CLASS_NAMES.get(lc, lc),
                         _CLASS_NAMES.get(rc, rc))])
        states = nxt
    best_rc, (best, trail) = min(
        states.items(), key=lambda kv: kv[1][0] + _EOS_COSTS[kv[0]])
    best += _EOS_COSTS[best_rc]
    print(f"forced path total = {best:.0f} (incl EOS {_EOS_COSTS[best_rc]})")
    for t, label, cost, conn, prc, lc, rc in trail:
        print(f"  {t!r:20s} {label:30s} wc={cost:6d} conn({prc}->{lc})="
              f"{conn:6d} rc={rc}")
    # Engine path for comparison.
    pred = [tk.surface for tk in lat.segment(text)]
    print(f"engine path: {'|'.join(pred)}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
