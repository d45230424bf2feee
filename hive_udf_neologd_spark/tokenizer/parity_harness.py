"""One scoring harness for the six external parity axes.

Each axis is a held-out corpus in its own data module, with expectations
hand-derived and committed before the engine was run on it:

======  ======================  ========================================
axis    corpus module           what one sentence is scored on
======  ======================  ========================================
t22     ``parity``              NORMAL-mode token spans (micro-F1)
t25     ``mode_parity``         raw SEARCH/EXTENDED emission sequence
t27     ``lemma_parity``        output terms of the default chain
t28     ``reading_parity``      (surface, reading) pairs
t29     ``userdict_parity``     (surface, reading) pairs under an inline
                                user dictionary and a mode
t30     ``pos_parity``          (surface, pos) pairs
======  ======================  ========================================

Every corpus row is ``(sid, register, ..., text, expectation)``.  An
:class:`Axis` says which engine scores a row (``engine_key`` → ``build``)
and how to project the row's expectation (``expected``) and the engine's
output (``predict``) to comparable lists.  :func:`score` turns one
sentence into its three counts; the in-process :func:`compute_expected`
and the Spark UDF of ``operators.textops.parity_query`` both call it, so
the two paths cannot drift.

Recapture protocol: a dictionary, matrix or filter change that
legitimately re-scores a corpus changes its RECORDED aggregates
(``T*_EXPECTED``).  Run

    python -m hive_udf_neologd_spark.tokenizer.parity_harness [t22 t25 ...]

and paste the printed dict into that axis's corpus module (only there).
The expectations themselves are the external contract and are never
recaptured from the engine.
"""

from __future__ import annotations

import sys
from collections.abc import Callable, Hashable, Iterator, Sequence
from dataclasses import dataclass
from functools import cache

from hive_udf_neologd_spark.tokenizer import (
    lemma_parity,
    mode_parity,
    parity,
    pos_parity,
    reading_parity,
    userdict_parity,
)

Counts = tuple[int, int, int]


@dataclass(frozen=True)
class Metric:
    """How one sentence's projections become counts, and how the counts
    aggregate to the axis metric (SQL for Spark and the DuckDB oracle,
    Python for the floors; both over ``n_sent`` and ``columns``)."""

    columns: tuple[str, str, str]
    count: Callable[[list, list], Counts]
    sql: str
    value: Callable[[int, int, int, int], float]


METRICS: dict[str, Metric] = {
    # Token-span micro-F1: spans are a set (a sentence's spans are unique).
    "f1": Metric(
        ("tp", "n_pred", "n_exp"),
        lambda exp, pred: (len(set(exp) & set(pred)), len(set(pred)), len(set(exp))),
        "CAST(2 * tp AS DOUBLE) / (n_pred + n_exp)",
        lambda _n, tp, n_pred, n_exp: 2.0 * tp / (n_pred + n_exp) if n_pred + n_exp else 1.0,
    ),
    # Exact sequence match per sentence.
    "acc": Metric(
        ("n_match", "n_tok_exp", "n_tok_pred"),
        lambda exp, pred: (int(exp == pred), len(exp), len(pred)),
        "CAST(n_match AS DOUBLE) / n_sent",
        lambda n, n_match, _exp, _pred: n_match / n if n else 1.0,
    ),
}


@dataclass(frozen=True)
class Axis:
    name: str
    corpus: tuple[tuple, ...]
    recorded: dict[str, tuple[int, int, int, int]]
    floor: float
    metric: str
    build: Callable[[Hashable, object], object]  # (key, dictionary) -> engine
    engine_key: Callable[[tuple], Hashable]
    expected: Callable[[tuple], list]
    predict: Callable[[tuple, object], list]


def surface_spans(text: str, surfaces: Sequence[str]) -> list[int]:
    """Cursor-scan surfaces to encoded character spans (``start * 1000 +
    end``; sentences are far under 1000 chars).  Surfaces must occur in
    order — a typo in an expected token raises here instead of hiding in
    the metric.  Engine output is scanned the same way: segmentation
    partitions its input in order, with punctuation discarded."""
    spans: list[int] = []
    cursor = 0
    for s in surfaces:
        idx = text.index(s, cursor)
        spans.append(idx * 1000 + idx + len(s))
        cursor = idx + len(s)
    return spans


def _lattice(mode: str, dictionary):
    """The raw lattice emission, below the analyzer's filter chain."""
    from hive_udf_neologd_spark.tokenizer.dictionary import builtin_dictionary
    from hive_udf_neologd_spark.tokenizer.lattice import Lattice

    return Lattice(dictionary or builtin_dictionary(), None, mode)


def _analyzer(key: tuple[str, tuple[str, ...]], dictionary):
    """The full default analyzer chain for (mode, inline user-dict rows)."""
    from hive_udf_neologd_spark.tokenizer.analyzer import JapaneseAnalyzer

    mode, ud_rows = key
    return JapaneseAnalyzer(
        mode=mode, user_dict_rows=list(ud_rows) or None, dictionary=dictionary
    )


def _rich_pairs(field: str) -> Callable[[tuple, object], list]:
    return lambda row, ana: [(t["surface"], t[field]) for t in ana.analyze_rich(row[-2])]


_DEFAULT_CHAIN = ("normal", ())

AXES: dict[str, Axis] = {
    a.name: a
    for a in (
        Axis(
            "t22", parity.PARITY_CORPUS, parity.T22_EXPECTED,
            parity.T22_F1_FLOOR, "f1", _lattice,
            engine_key=lambda row: "normal",
            expected=lambda row: surface_spans(row[-2], row[-1]),
            predict=lambda row, lat: surface_spans(
                row[-2], [t.surface for t in lat.segment(row[-2])]
            ),
        ),
        Axis(
            "t25", mode_parity.MODE_PARITY_CORPUS, mode_parity.T25_EXPECTED,
            mode_parity.T25_ACC_FLOOR, "acc", _lattice,
            engine_key=lambda row: row[2],
            expected=lambda row: list(row[-1]),
            predict=lambda row, lat: [t.surface for t in lat.segment(row[-2])],
        ),
        Axis(
            "t27", lemma_parity.LEMMA_PARITY_CORPUS, lemma_parity.T27_EXPECTED,
            lemma_parity.T27_ACC_FLOOR, "acc", _analyzer,
            engine_key=lambda row: _DEFAULT_CHAIN,
            expected=lambda row: list(row[-1]),
            predict=lambda row, ana: ana.tokenize(row[-2]),
        ),
        Axis(
            "t28", reading_parity.READING_PARITY_CORPUS,
            reading_parity.T28_EXPECTED, reading_parity.T28_ACC_FLOOR, "acc",
            _analyzer,
            engine_key=lambda row: _DEFAULT_CHAIN,
            expected=lambda row: list(row[-1]),
            predict=_rich_pairs("reading"),
        ),
        Axis(
            "t29", userdict_parity.UD_PARITY_CORPUS,
            userdict_parity.T29_EXPECTED, userdict_parity.T29_ACC_FLOOR, "acc",
            _analyzer,
            engine_key=lambda row: (row[2], row[3]),
            expected=lambda row: list(row[-1]),
            predict=_rich_pairs("reading"),
        ),
        Axis(
            "t30", pos_parity.POS_PARITY_CORPUS, pos_parity.T30_EXPECTED,
            pos_parity.T30_ACC_FLOOR, "acc", _analyzer,
            engine_key=lambda row: _DEFAULT_CHAIN,
            expected=lambda row: list(row[-1]),
            predict=_rich_pairs("pos"),
        ),
    )
}


@cache  # bounded: one engine per distinct config in the six fixed corpora
def _default_engine(build, key):
    return build(key, None)


def score(a: Axis, row: tuple, engine=None) -> Counts:
    """One sentence's counts in ``METRICS[a.metric].columns`` order.
    ``engine`` defaults to the packaged engine for the row's config."""
    if engine is None:
        engine = _default_engine(a.build, a.engine_key(row))
    return METRICS[a.metric].count(a.expected(row), a.predict(row, engine))


def _with_engines(a: Axis, dictionary) -> Iterator[tuple[tuple, object]]:
    """(row, engine) over the corpus.  ``dictionary`` scores on an
    alternate Dictionary instead of the packaged one (the 1M dress
    rehearsal); its engines are built per config and never cached."""
    built: dict = {}
    for row in a.corpus:
        key = a.engine_key(row)
        if key not in built:
            built[key] = (
                _default_engine(a.build, key)
                if dictionary is None
                else a.build(key, dictionary)
            )
        yield row, built[key]


def compute_expected(axis: str, dictionary=None) -> dict[str, tuple[int, int, int, int]]:
    """Per-register ``(n_sent, *columns)`` plus a ``__total__`` row from
    the live engine — the recapture source for the recorded aggregates and
    the consistency gate in tests/test_parity.py."""
    a = AXES[axis]
    agg: dict[str, list[int]] = {}
    for row, engine in _with_engines(a, dictionary):
        per_register = agg.setdefault(row[1], [0, 0, 0, 0])
        for i, c in enumerate((1, *score(a, row, engine))):
            per_register[i] += c
    agg["__total__"] = [sum(col) for col in zip(*agg.values())]
    return {k: tuple(v) for k, v in sorted(agg.items())}


def accuracy(axis: str, aggregates: dict | None = None) -> float:
    """The axis metric (micro-F1 for t22, exact-match accuracy for the
    rest) over the ``__total__`` row; live when ``aggregates`` is None."""
    agg = aggregates if aggregates is not None else compute_expected(axis)
    return METRICS[AXES[axis].metric].value(*agg["__total__"])


def mismatches(axis: str, dictionary=None) -> list[tuple[tuple, list]]:
    """(corpus row, engine projection) for every sentence that does not
    score a perfect metric on its own."""
    a = AXES[axis]
    value = METRICS[a.metric].value
    return [
        (row, a.predict(row, engine))
        for row, engine in _with_engines(a, dictionary)
        if value(1, *score(a, row, engine)) < 1.0
    ]


def values_sql(axis: str) -> str:
    """The DuckDB oracle: the recorded aggregates as a VALUES table with
    the same metric expression the Spark query computes."""
    a = AXES[axis]
    m = METRICS[a.metric]
    cols = ", ".join(("register", "n_sent", *m.columns))
    values = ",\n  ".join(
        f"('{register}', {', '.join(map(str, agg))})"
        for register, agg in sorted(a.recorded.items())
    )
    return f"""
SELECT {cols},
       {m.sql} AS {a.metric}
FROM (VALUES
  {values}
) AS v({cols})
ORDER BY register
"""


def _show(text: str, items: list) -> str:
    """Spans render as the text they cover, pairs as ``surface:field``."""
    out = []
    for x in items:
        if isinstance(x, int):
            start, end = divmod(x, 1000)
            out.append(text[start:end])
        elif isinstance(x, tuple):
            out.append(":".join(map(str, x)))
        else:
            out.append(x)
    return "|".join(out)


def report(axis: str) -> None:
    """Print the recapture dict, the metric and every mismatch."""
    a = AXES[axis]
    agg = compute_expected(axis)
    print(f"{a.name.upper()}_EXPECTED = {{")
    for register, counts in agg.items():
        print(f"    {register!r}: {counts},")
    print("}")
    bad = mismatches(axis)
    print(
        f"# {a.metric} = {accuracy(axis, agg):.6f} over {len(a.corpus)} "
        f"sentences, {len(bad)} mismatched (floor {a.floor})"
    )
    for row, pred in bad:
        text = row[-2]
        print(f"--- {a.name} #{row[0]} [{row[1]}] {text}")
        print(f"  want: {_show(text, a.expected(row))}")
        print(f"  got:  {_show(text, pred)}")


if __name__ == "__main__":
    for name in sys.argv[1:] or AXES:
        report(name)
