"""Tokenizer layer (L0) without Spark.

* cold start in a fresh interpreter: package import, then engine build;
* ms per sentence in each mode and NORMAL chars/s over the sentence pool;
* exact counts from ``analyze_rich``: tokens per sentence and the share of
  unknown-word tokens (NEologd's coverage signal).  These are behaviour,
  not speed: they repeat exactly for every run and seed.
"""

from __future__ import annotations

import json
import statistics
import subprocess
import sys
import time

from spans import TRACER

_COLD = (
    "import json, time\n"
    "t0 = time.perf_counter()\n"
    "from hive_udf_neologd_spark.tokenizer.analyzer import JapaneseAnalyzer\n"
    "t1 = time.perf_counter()\n"
    "JapaneseAnalyzer()\n"
    "t2 = time.perf_counter()\n"
    "print(json.dumps([t1 - t0, t2 - t1]))\n"
)


def cold_start(env: dict, reps: int = 3) -> dict[str, float]:
    runs = []
    for _ in range(reps):
        with TRACER.span("tokenizer.cold_start"):
            out = subprocess.run(
                [sys.executable, "-c", _COLD], env=env, capture_output=True, text=True,
                check=True, timeout=120,
            )
        runs.append(json.loads(out.stdout.strip().splitlines()[-1]))
    return {
        "tokenizer.import_s": statistics.median(r[0] for r in runs),
        "tokenizer.engine_build_s": statistics.median(r[1] for r in runs),
    }


def kernel(sentences: list[str], passes: int = 3) -> dict[str, float]:
    from hive_udf_neologd_spark.tokenizer.analyzer import JapaneseAnalyzer

    out: dict[str, float] = {}
    chars = sum(map(len, sentences))
    for mode in ("normal", "search", "extended"):
        tok = JapaneseAnalyzer(mode=mode).tokenize
        for s in sentences:  # warm caches before timing
            tok(s)
        times = []
        for _ in range(passes):
            with TRACER.span(f"tokenizer.tokenize.{mode}"):
                t0 = time.perf_counter()
                for s in sentences:
                    tok(s)
                times.append(time.perf_counter() - t0)
        best = statistics.median(times)
        out[f"tokenizer.ms_per_sentence.{mode}"] = best * 1000.0 / len(sentences)
        if mode == "normal":
            out["tokenizer.chars_per_s.normal"] = chars / best
    rich = JapaneseAnalyzer().analyze_rich
    tokens = unknown = 0
    with TRACER.span("tokenizer.analyze_rich"):
        for s in sentences:
            for t in rich(s):
                tokens += 1
                unknown += bool(t["unknown"])
    out["tokenizer.tokens_per_sentence"] = tokens / len(sentences)
    out["tokenizer.unknown_token_frac"] = unknown / tokens
    return out
