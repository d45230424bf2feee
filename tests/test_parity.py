"""The six external parity axes (tokenizer/parity_harness.py): per-corpus
integrity, and — shared over the axis table — recorded-aggregate
consistency, the gated floors and the Spark catalog entries."""

from __future__ import annotations

import pytest

from hive_udf_neologd_spark.tokenizer import parity_harness as H
from hive_udf_neologd_spark.tokenizer.parity import PARITY_CORPUS

# Characters allowed BETWEEN expected tokens (discarded by the tokenizer):
# Japanese/ASCII punctuation and whitespace only.
_PUNCT = set("。、．，・「」『』（）()！？!?　 　…―ー-：:；;〜★％№･")  # round-12
# ho10_sym additions: 〜 (U+301C Pd), ★ (So), ％ (Po), № (So), ･ (U+FF65
# Po) — all in Lucene's discardPunctuation categories, legal BETWEEN
# expected tokens.


class TestCorpusIntegrity:
    def test_unique_sids(self):
        sids = [sid for sid, *_ in PARITY_CORPUS]
        assert len(sids) == len(set(sids))

    def test_spans_reconstruct_with_punct_only_gaps(self):
        """Every expected token occurs in order; skipped characters must be
        punctuation/whitespace — a typo in an expected segmentation fails
        HERE, not silently in the F1."""
        for sid, _register, text, surfaces in PARITY_CORPUS:
            spans = H.surface_spans(text, surfaces)  # raises if out of order
            cursor = 0
            for span in spans:
                start, end = divmod(span, 1000)
                gap = text[cursor:start]
                assert set(gap) <= _PUNCT, (
                    f"s{sid}: non-punct gap {gap!r} before offset {start}"
                )
                cursor = end
            assert set(text[cursor:]) <= _PUNCT, f"s{sid}: trailing residue"

    def test_tokens_concatenate_within_sentence(self):
        for sid, _register, text, surfaces in PARITY_CORPUS:
            for s in surfaces:
                assert s in text, f"s{sid}: token {s!r} not in sentence"

    def test_predicted_spans_partition_like_expected(self):
        """Engine spans obey the same no-overlap in-order invariant."""
        t22 = H.AXES["t22"]
        lattice = t22.build("normal", None)
        for row in PARITY_CORPUS:
            sid = row[0]
            spans = t22.predict(row, lattice)
            last_end = 0
            for span in spans:
                start, end = divmod(span, 1000)
                assert start >= last_end, f"s{sid}: overlapping pred span"
                assert end > start
                last_end = end


class TestAllModesOverCorpus:
    @pytest.mark.parametrize("mode", ["normal", "search", "extended"])
    def test_every_sentence_partitions_in_every_mode(self, mode):
        """The 250-sentence corpus is the richest pinned Japanese text in
        the repo — run it through ALL THREE modes: no crash, and the
        non-punct surfaces must partition the input in order (the
        TestLatticeFuzz invariant on real prose).  SEARCH/EXTENDED emit
        compound synonyms BEFORE their parts, so the partition check
        skips a token whose span equals the following tokens' combined
        span (the synonym)."""
        from hive_udf_neologd_spark.tokenizer.analyzer import JapaneseAnalyzer

        analyzer = JapaneseAnalyzer(mode=mode, stop_words=[], stop_tags=[])
        for sid, _register, text, _surfaces in PARITY_CORPUS:
            toks = analyzer._lattice.segment(text)
            cursor = 0
            i = 0
            while i < len(toks):
                s = toks[i].surface
                idx = text.find(s, cursor)
                assert idx >= 0, (mode, sid, s)
                # Synonym compound: the NEXT tokens must TILE this exact
                # span (NORMAL never emits synonyms, so no skip there).
                # The old prefix-only check false-positived on たかっ+た
                # (tranche-2 s551): た is a prefix of たかっ but not a
                # decompounding of it.
                if mode != "normal" and i + 1 < len(toks):
                    span_end = idx + len(s)
                    j, c2 = i + 1, idx
                    while j < len(toks) and c2 < span_end:
                        nidx = text.find(toks[j].surface, c2)
                        if nidx != c2:
                            break
                        c2 = nidx + len(toks[j].surface)
                        j += 1
                    if c2 == span_end and j > i + 1:
                        i += 1
                        continue  # parts will advance the cursor
                cursor = idx + len(s)
                i += 1
            residue = text[cursor:]
            assert all(not ("一" <= c <= "鿿" or "ぁ" <= c <= "ヺ")
                       for c in residue), (mode, sid, residue)


class _RecordedAxis:
    """Recorded-aggregate checks shared by every axis of the harness table;
    each subclass names its axis."""

    axis: str

    def test_recorded_matches_live_engine(self):
        """The recapture guard: the recorded aggregates (the oracle
        constants) must equal a live recomputation — a dictionary/matrix/
        filter change that re-scores the corpus fails here until the
        constants are re-recorded (and the floor re-checked)."""
        assert H.compute_expected(self.axis) == H.AXES[self.axis].recorded

    def test_accuracy_floor(self):
        a = H.AXES[self.axis]
        value = H.accuracy(self.axis, a.recorded)
        assert value >= a.floor, (
            f"external {self.axis} parity regressed: {a.metric} "
            f"{value:.6f} < floor {a.floor}"
        )

    def test_total_row_is_register_sum(self):
        recorded = H.AXES[self.axis].recorded
        sums = [0, 0, 0, 0]
        for reg, row in recorded.items():
            if reg == "__total__":
                continue
            for i in range(4):
                sums[i] += row[i]
        assert tuple(sums) == recorded["__total__"]


def _check_catalog_matches_recorded(spark, sf_dir, axis):
    """The Spark entry reproduces the recorded aggregates exactly (same
    check the driver's DuckDB oracle performs), metric column included."""
    from hive_udf_neologd_spark.operators.textops import parity_query

    a = H.AXES[axis]
    metric = H.METRICS[a.metric]
    cols = ("n_sent", *metric.columns)
    rows = parity_query(axis, spark, sf_dir).collect()
    assert {r["register"]: tuple(r[c] for c in cols) for r in rows} == a.recorded
    for r in rows:
        assert r[a.metric] == pytest.approx(metric.value(*(r[c] for c in cols)))


class TestRecordedAggregates(_RecordedAxis):
    axis = "t22"


class TestT22Catalog:
    def test_t22_matches_oracle_values(self, spark, sf_dir):
        _check_catalog_matches_recorded(spark, sf_dir, "t22")


# --- held-out SEARCH/EXTENDED mode-parity corpus (VERDICT r8 #1) -----------


class TestModeCorpusIntegrity:
    def test_shape(self):
        from hive_udf_neologd_spark.tokenizer.mode_parity import (
            MODE_PARITY_CORPUS,
        )

        sids = [sid for sid, *_ in MODE_PARITY_CORPUS]
        assert len(sids) == len(set(sids))
        assert len(sids) >= 100
        modes = {m for _s, _r, m, _t, _e in MODE_PARITY_CORPUS}
        assert modes == {"search", "extended"}
        registers = {r for _s, r, _m, _t, _e in MODE_PARITY_CORPUS}
        assert len(registers) >= 15

    def test_expectations_are_well_formed_emissions(self):
        """Every expected sequence admits a span assignment where maximal
        spans tile the non-punct text and nested groups (compound →
        parts) exactly tile their container — a typo fails HERE, loudly,
        not silently in the accuracy."""
        from hive_udf_neologd_spark.tokenizer.mode_parity import (
            MODE_PARITY_CORPUS,
            validate_emission,
        )

        for sid, _reg, _mode, text, surfaces in MODE_PARITY_CORPUS:
            validate_emission(text, surfaces)  # raises on malformation

    def test_no_dictionary_straddlers(self):
        """No committed dictionary entry (>=2 chars) crosses an expected
        maximal-token boundary — the authoring audit, kept as a gate so a
        future dictionary wave that introduces a crossing entry resurfaces
        the affected sentence for re-derivation instead of silently
        flipping its path."""
        from hive_udf_neologd_spark.tokenizer.dictionary import (
            builtin_dictionary,
        )
        from hive_udf_neologd_spark.tokenizer.mode_parity import (
            MODE_PARITY_CORPUS,
            validate_emission,
        )

        by = builtin_dictionary()._by_surface
        for sid, _reg, _mode, text, surfaces in MODE_PARITY_CORPUS:
            spans = validate_emission(text, surfaces)
            maximal = [
                s for s in spans
                if not any(o != s and o[0] <= s[0] and s[1] <= o[1] for o in spans)
            ]
            bounds = sorted({b for _a, b in maximal})
            for i in range(len(text)):
                for j in range(i + 2, len(text) + 1):
                    if text[i:j] in by:
                        assert not any(i < b < j for b in bounds), (
                            f"#{sid}: dict entry {text[i:j]!r} straddles an "
                            f"expected boundary in {text!r}"
                        )


class TestModeRecordedAggregates(_RecordedAxis):
    axis = "t25"


class TestT25Catalog:
    def test_t25_matches_oracle_values(self, spark, sf_dir):
        _check_catalog_matches_recorded(spark, sf_dir, "t25")


# --- held-out LEMMA-parity corpus (round 9, third axis) --------------------


class TestLemmaRecordedAggregates(_RecordedAxis):
    axis = "t27"

    def test_shape_and_hygiene(self):
        from hive_udf_neologd_spark.tokenizer.lemma_parity import (
            LEMMA_PARITY_CORPUS,
        )

        sids = [sid for sid, *_ in LEMMA_PARITY_CORPUS]
        assert len(sids) == len(set(sids))
        assert len(sids) >= 40
        # Terms are post-chain (lemmatized/folded/stemmed/lowered), so a
        # substring check would be wrong; the hygiene gate here is
        # non-emptiness and no stray whitespace.
        for _sid, _reg, text, terms in LEMMA_PARITY_CORPUS:
            assert text and terms
            for t in terms:
                assert t == t.strip() and t


class TestT27Catalog:
    def test_t27_matches_oracle_values(self, spark, sf_dir):
        _check_catalog_matches_recorded(spark, sf_dir, "t27")


# --- held-out READING-parity corpus (round 10, fourth axis) ----------------


class TestReadingRecordedAggregates(_RecordedAxis):
    axis = "t28"

    def test_shape_and_hygiene(self):
        from hive_udf_neologd_spark.tokenizer.reading_parity import (
            READING_PARITY_CORPUS,
        )

        sids = [sid for sid, *_ in READING_PARITY_CORPUS]
        assert len(sids) == len(set(sids))
        assert len(sids) >= 35
        for _sid, _reg, text, pairs in READING_PARITY_CORPUS:
            assert text and pairs
            for surface, reading in pairs:
                assert surface == surface.strip() and surface
                if reading is not None:
                    # Readings are katakana (+ー) only — the same check
                    # the generator enforces on the authored tier.
                    assert reading and all(
                        0x30A1 <= ord(c) <= 0x30FA or c == "ー"
                        for c in reading
                    ), (surface, reading)


class TestT28Catalog:
    def test_t28_matches_oracle_values(self, spark, sf_dir):
        _check_catalog_matches_recorded(spark, sf_dir, "t28")


# --- held-out USER-DICT parity corpus (round 10, fifth axis) ---------------


class TestUserdictRecordedAggregates(_RecordedAxis):
    axis = "t29"

    def test_shape_and_hygiene(self):
        from hive_udf_neologd_spark.tokenizer.userdict_parity import (
            UD_PARITY_CORPUS,
        )

        sids = [sid for sid, *_ in UD_PARITY_CORPUS]
        assert len(sids) == len(set(sids))
        assert len(sids) >= 26
        for _sid, _reg, mode, ud_rows, text, pairs in UD_PARITY_CORPUS:
            assert mode in ("normal", "search", "extended")
            assert text and pairs
            for row in ud_rows:
                # Valid 4-field user-dict rows whose segments concatenate
                # to the surface — the loader's own contract.
                parts = [p.strip() for p in row.split(",")]
                assert len(parts) >= 4
                assert "".join(parts[1].split()) == parts[0]


class TestT29Catalog:
    def test_t29_matches_oracle_values(self, spark, sf_dir):
        _check_catalog_matches_recorded(spark, sf_dir, "t29")


# --- held-out POS parity corpus (round 10, sixth axis) ---------------------


class TestPosRecordedAggregates(_RecordedAxis):
    axis = "t30"

    def test_shape_and_hygiene(self):
        from hive_udf_neologd_spark.tokenizer.pos_parity import (
            POS_PARITY_CORPUS,
        )

        sids = [sid for sid, *_ in POS_PARITY_CORPUS]
        assert len(sids) == len(set(sids))
        assert len(sids) >= 25
        for _sid, _reg, text, pairs in POS_PARITY_CORPUS:
            assert text and pairs
            for surface, pos in pairs:
                assert surface == surface.strip() and surface
                # POS strings are hyphen-joined IPADIC levels.
                assert pos and " " not in pos


class TestT30Catalog:
    def test_t30_matches_oracle_values(self, spark, sf_dir):
        _check_catalog_matches_recorded(spark, sf_dir, "t30")
