"""Parity report over the six external axes (t22 t25 t27 t28 t29 t30).

Usage: python tools/parity_report.py [AXIS ...]
Prints, per axis, the live aggregates (the recapture dict), the metric,
and every sentence whose engine output differs from its expectation —
the authoring loop for dictionary waves driven by measured failures —
then the reading-tier coverage of the corpus vocabulary.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hive_udf_neologd_spark.tokenizer.parity_harness import AXES, report  # noqa: E402


def main() -> int:
    for axis in sys.argv[1:] or AXES:
        report(axis)

    # Reading-tier coverage stats (VERDICT r10 #4): how much of the live
    # corpus vocabulary the authored tier covers, and the head of the
    # still-unauthored frequency list — the targeting input for the next
    # tranche, computed rather than guessed.
    from collections import Counter

    from hive_udf_neologd_spark.tokenizer.analyzer import JapaneseAnalyzer
    from hive_udf_neologd_spark.tokenizer.readings import LEMMA_READINGS

    analyzer = JapaneseAnalyzer()
    covered: Counter = Counter()
    uncovered: Counter = Counter()
    texts = [row[-2] for axis in ("t22", "t27", "t25") for row in AXES[axis].corpus]
    for t in texts:
        for tok in analyzer.analyze_rich(t):
            if tok["unknown"]:
                continue
            key = tok["base_form"] or tok["surface"]
            (covered if tok["reading"] is not None else uncovered)[key] += 1
    n_cov = sum(covered.values())
    n_unc = sum(uncovered.values())
    print(
        f"reading tier: {len(LEMMA_READINGS)} authored lemmas; corpus "
        f"token coverage {n_cov}/{n_cov + n_unc} "
        f"({n_cov / (n_cov + n_unc):.1%}), {len(uncovered)} distinct "
        f"lemmas still None"
    )
    print("  top unauthored (next-tranche candidates):")
    for lemma, freq in uncovered.most_common(25):
        print(f"    {freq:3d} {lemma}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
