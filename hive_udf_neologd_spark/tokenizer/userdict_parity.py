"""Held-out USER-DICTIONARY parity corpus (round 10 — the fifth axis).

User-dict override semantics were pinned only by in-repo goldens (the
t08 userdict config + tests/test_tokenizer.py pins) — the co-adaptation
shape t25 retired for modes (VERDICT r9 next-round #5).  This corpus is
the de-saturation axis: NEW sentences with inline user dictionaries,
expectations hand-derived from the DOCUMENTED override semantics and
committed before measurement.

Derivation sources (and nothing else — the engine was NOT run on these
sentences before the expectations were committed):

* The documented user-dict contract (reference
  KuromojiNEologdUDFTest.java:261-302, 342-381; SURVEY.md §2.1 O6):
  rows are ``surface,seg tokens,readings,POS``; a matched user entry
  ALWAYS wins the lattice (WORD_COST −10000, dictionary.py), emits its
  segments as separate tokens in order, every segment carries the
  row's POS and its positional reading (or None when the readings
  field is empty), base_form None.
* The documented mode exclusion (lattice.py; pinned in-repo round 9):
  user segmentation applies verbatim in ALL modes — never a synonym
  compound, never decompounded in SEARCH/EXTENDED.
* The documented filter chain (analyzer.py): user tokens pass through
  the SAME chain — the row POS is matched against the stop-tag set
  (a user row tagged 助詞-格助詞-一般 or 記号-一般 is dropped), the
  term (== segment surface, base None) against the stop-word set
  (これ is dropped), width-fold/stem/lowercase apply to the TERM while
  the scored SURFACE and READING stay raw.
* Committed goldens for surrounding context: EXTENDED unknowns emit
  unigrams (ゾンビ → ゾ|ン|ビ, reading None); particles/auxiliaries
  drop by tag; し lemmatizes to する and drops by stop word.
* The authored reading tier (tokenizer/readings.py) for context-verb
  expectations (読ん → ヨン, 行っ → イッ …) — gated by t28.

Registers:

* ud_split — user entry splits a compound the dictionary keeps whole
  (the reference's 日本経済新聞 → 日本|経済|新聞 golden shape, on new
  sentences/compounds).
* ud_whole — user entry keeps a span whole that the engine would
  otherwise split or unigram.
* ud_reading_none — empty readings field → every segment reading None.
* ud_reading_override — a user row's reading beats the dictionary row's
  authored reading for the same surface.
* ud_stoptag — user POS matching a default stop tag → tokens dropped.
* ud_stopword_term — a user segment whose term is a default stop word
  is dropped by the stop-word filter.
* ud_chain — width-fold/stem/lowercase hit the TERM of user tokens
  while surface+reading stay raw (scored here: surfaces stay raw).
* ud_mode_search / ud_mode_extended — the mode exclusion, externally:
  user spans stay exactly as segmented in SEARCH/EXTENDED while
  non-user context keeps its mode behavior (EXTENDED OOV unigrams).
* ud_longest — two user rows, the longer span wins Viterbi (−10000 ×
  one node beats −10000 + any positive-cost remainder).
* ud_oov — user entries covering OOV spans (the primary use case).
* ud_neologd_override — a user row re-segments a NEologd-style
  built-in entry (きゃりーぱみゅぱみゅ), the reference test's shape.
* ud_control — the same sentences WITHOUT a user dict keep dictionary
  behavior (the contrast rows).

(sid, register, mode, user_dict_rows, text, expected_pairs) —
expected_pairs is the ordered (surface, reading) sequence of the
default-chain ``analyze_rich`` output under that config.
"""

from __future__ import annotations

UD_PARITY_CORPUS: tuple[
    tuple[int, str, str, tuple[str, ...], str,
          tuple[tuple[str, str | None], ...]], ...
] = (
    # --- ud_split ------------------------------------------------------
    (1, "ud_split", "normal",
     ("日本経済新聞,日本 経済 新聞,ニホン ケイザイ シンブン,カスタム名詞",),
     "日本経済新聞を読んだ。",
     (("日本", "ニホン"), ("経済", "ケイザイ"), ("新聞", "シンブン"),
      ("読ん", "ヨン"))),
    (2, "ud_split", "normal",
     ("関西国際空港,関西 国際 空港,カンサイ コクサイ クウコウ,カスタム名詞",),
     "関西国際空港へ行った。",
     (("関西", "カンサイ"), ("国際", "コクサイ"), ("空港", "クウコウ"),
      ("行っ", "イッ"))),
    (3, "ud_split", "normal",
     ("東京スカイツリー,東京 スカイツリー,トウキョウ スカイツリー,カスタム名詞",),
     "東京スカイツリーを見た。",
     (("東京", "トウキョウ"), ("スカイツリー", "スカイツリー"), ("見", "ミ"))),
    # --- ud_whole ------------------------------------------------------
    (4, "ud_whole", "normal",
     ("朝の散歩,朝の散歩,アサノサンポ,カスタム名詞",),
     "朝の散歩をした。",
     (("朝の散歩", "アサノサンポ"),)),
    (5, "ud_whole", "normal",
     ("ゾンビ映画,ゾンビ映画,ゾンビエイガ,カスタム名詞",),
     "ゾンビ映画を見た。",
     (("ゾンビ映画", "ゾンビエイガ"), ("見", "ミ"))),
    # --- ud_reading_none -----------------------------------------------
    (6, "ud_reading_none", "normal",
     ("日本経済新聞,日本 経済 新聞,,カスタム名詞",),
     "日本経済新聞を読んだ。",
     (("日本", None), ("経済", None), ("新聞", None), ("読ん", "ヨン"))),
    (7, "ud_reading_none", "normal",
     ("ゾンビ映画,ゾンビ映画,,カスタム名詞",),
     "ゾンビ映画を見た。",
     (("ゾンビ映画", None), ("見", "ミ"))),
    # --- ud_reading_override -------------------------------------------
    (8, "ud_reading_override", "normal",
     ("東京駅,東京駅,トーキョーエキ,カスタム名詞",),
     "東京駅で待った。",
     (("東京駅", "トーキョーエキ"), ("待っ", "マッ"))),
    # --- ud_stoptag ----------------------------------------------------
    (9, "ud_stoptag", "normal",
     ("フガフガ,フガフガ,フガフガ,助詞-格助詞-一般",),
     "フガフガを食べた。",
     (("食べ", "タベ"),)),
    (10, "ud_stoptag", "normal",
     ("ホゲホゲ,ホゲ ホゲ,ホゲ ホゲ,記号-一般",),
     "ホゲホゲを書いた。",
     (("書い", "カイ"),)),
    # --- ud_stopword_term ----------------------------------------------
    (11, "ud_stopword_term", "normal",
     ("これこれ,これ これ,コレ コレ,カスタム名詞",),
     "これこれを見た。",
     (("見", "ミ"),)),
    # --- ud_chain ------------------------------------------------------
    (12, "ud_chain", "normal",
     ("ＡＩスピーカー,ＡＩ スピーカー,エーアイ スピーカー,カスタム名詞",),
     "ＡＩスピーカーを買った。",
     (("ＡＩ", "エーアイ"), ("スピーカー", "スピーカー"), ("買っ", "カッ"))),
    (13, "ud_chain", "normal",
     ("スーパーコンピューター,スーパー コンピューター,スーパー コンピューター,カスタム名詞",),
     "スーパーコンピューターを使った。",
     (("スーパー", "スーパー"), ("コンピューター", "コンピューター"),
      ("使っ", "ツカッ"))),
    # --- ud_mode_search ------------------------------------------------
    (14, "ud_mode_search", "search",
     ("関西国際空港,関西国際空港,カンサイコクサイクウコウ,カスタム名詞",),
     "関西国際空港へ行った。",
     (("関西国際空港", "カンサイコクサイクウコウ"), ("行っ", "イッ"))),
    (15, "ud_mode_search", "search",
     ("日本経済新聞,日本 経済 新聞,ニホン ケイザイ シンブン,カスタム名詞",),
     "日本経済新聞を読んだ。",
     (("日本", "ニホン"), ("経済", "ケイザイ"), ("新聞", "シンブン"),
      ("読ん", "ヨン"))),
    (16, "ud_mode_search", "search",
     ("スマートスピーカー,スマート スピーカー,スマート スピーカー,カスタム名詞",),
     "スマートスピーカーで聴いた。",
     (("スマート", "スマート"), ("スピーカー", "スピーカー"),
      ("聴い", "キイ"))),
    # --- ud_mode_extended ----------------------------------------------
    (17, "ud_mode_extended", "extended",
     ("関西国際空港,関西国際空港,カンサイコクサイクウコウ,カスタム名詞",),
     "関西国際空港でゾンビを見た。",
     (("関西国際空港", "カンサイコクサイクウコウ"), ("ゾ", None),
      ("ン", None), ("ビ", None), ("見", "ミ"))),
    # --- ud_longest ----------------------------------------------------
    # Both rows carry −10000; Viterbi takes the single 6-char node: one
    # −10000 beats −10000 plus any positive-cost path for 日本.
    (18, "ud_longest", "normal",
     ("日本経済新聞,日本 経済 新聞,ニホン ケイザイ シンブン,カスタム名詞",
      "経済新聞,経済新聞,ケイザイシンブン,カスタム名詞"),
     "日本経済新聞を読んだ。",
     (("日本", "ニホン"), ("経済", "ケイザイ"), ("新聞", "シンブン"),
      ("読ん", "ヨン"))),
    # --- ud_oov --------------------------------------------------------
    (19, "ud_oov", "normal",
     ("ペガサス幻獣,ペガサス 幻獣,ペガサス ゲンジュウ,カスタム名詞",),
     "ペガサス幻獣が現れた。",
     (("ペガサス", "ペガサス"), ("幻獣", "ゲンジュウ"),
      ("現れ", "アラワレ"))),
    (20, "ud_oov", "normal",
     ("ドラゴン炎獣,ドラゴン 炎獣,ドラゴン エンジュウ,カスタム名詞",),
     "ドラゴン炎獣と戦った。",
     (("ドラゴン", "ドラゴン"), ("炎獣", "エンジュウ"),
      ("戦っ", "タタカッ"))),
    (21, "ud_oov", "normal",
     ("ブログ記事,ブログ 記事,ブログ キジ,カスタム名詞",),
     "ブログ記事を書いた。",
     (("ブログ", "ブログ"), ("記事", "キジ"), ("書い", "カイ"))),
    # --- ud_neologd_override -------------------------------------------
    (22, "ud_neologd_override", "normal",
     ("きゃりーぱみゅぱみゅ,きゃりー ぱみゅ ぱみゅ,キャリー パミュ パミュ,カスタム名詞",),
     "きゃりーぱみゅぱみゅがうたう。",
     (("きゃりー", "キャリー"), ("ぱみゅ", "パミュ"), ("ぱみゅ", "パミュ"),
      ("うたう", "ウタウ"))),
    # --- ud_rendaku_seg ------------------------------------------------
    (23, "ud_rendaku_seg", "normal",
     ("手紙屋,手紙 屋,テガミ ヤ,カスタム名詞",),
     "手紙屋へ行った。",
     (("手紙", "テガミ"), ("屋", "ヤ"), ("行っ", "イッ"))),
    # --- ud_control (no user dict — dictionary behavior holds) ---------
    (24, "ud_control", "normal", (),
     "日本経済新聞を読んだ。",
     (("日本経済新聞", None), ("読ん", "ヨン"))),
    (25, "ud_control", "normal", (),
     "関西国際空港へ行った。",
     (("関西国際空港", None), ("行っ", "イッ"))),
    (26, "ud_control", "normal", (),
     "東京駅で待った。",
     (("東京駅", "トウキョウエキ"), ("待っ", "マッ"))),
    # ------------------------------------------------------------------
    # Round-11 tranche 2 (sids 27-31, ud2_* registers) — held-out before
    # measurement; derivations from the documented user-dict semantics
    # only (user rows always win their span, carry the CSV's readings
    # verbatim, are never synonym-emitted, and are excluded from
    # EXTENDED unigramming) plus committed row facts.  Classes the first
    # 26 leave thin: a user row overriding a ROW ADDED THIS ROUND (the
    # wave-428 評議員 compound), a user reading override of an
    # authored-tier reading (電車 デンシャ → カスタムデンシャ), EXTENDED
    # over a surface that is otherwise a gray-zone UNKNOWN (節税 — the
    # user segmentation must suppress the unigram path), a SEARCH
    # emission mixing a dict-compound synonym (予防接種) with a user
    # compound (no synonym) in one sentence, and two user rows where one
    # is a prefix of the other (longest-first among user rows).
    (27, "ud2_new_row_override", "normal",
     ("評議員,評議 員,ヒョウギ イン,カスタム名詞",),
     "評議員が集まった。",
     (("評議", "ヒョウギ"), ("員", "イン"), ("集まっ", "アツマッ"))),
    (28, "ud2_reading_override", "normal",
     ("電車,電車,カスタムデンシャ,カスタム名詞",),
     "電車に乗った。",
     (("電車", "カスタムデンシャ"), ("乗っ", "ノッ"))),
    (29, "ud2_extended", "extended",
     ("節税,節 税,セツ ゼイ,カスタム名詞",),
     "節税を学んだ。",
     (("節", "セツ"), ("税", "ゼイ"), ("学ん", "マナン"))),
    (30, "ud2_search_mix", "search",
     ("日本経済新聞,日本 経済 新聞,ニホン ケイザイ シンブン,カスタム名詞",),
     "予防接種と日本経済新聞を調べた。",
     # 予防接種's reading was None at pin time (the row carried none);
     # reading tranche 7 then authored ヨボウセッシュ in the same round
     # — the pin moves WITH its derivation source (the s27-担当/s7-週末
     # protocol; the 5/5 first measurement against the old rows stands
     # recorded in BASELINE.md).  The register's actual contract — the
     # dict compound emits as a synonym while the user compound does
     # not — is unchanged.
     (("予防接種", "ヨボウセッシュ"), ("予防", "ヨボウ"),
      ("接種", None), ("日本", "ニホン"), ("経済", "ケイザイ"),
      ("新聞", "シンブン"), ("調べ", "シラベ"))),
    (31, "ud2_longest", "normal",
     ("評議員,評議 員,ヒョウギ イン,カスタム名詞",
      "評議,評議,ヒョウギ,カスタム名詞"),
     "評議員と評議を調べた。",
     (("評議", "ヒョウギ"), ("員", "イン"), ("評議", "ヒョウギ"),
      ("調べ", "シラベ"))),
)


# CI floor (tests/test_parity.py): exact-match accuracy over the held-out
# user-dict corpus — same contract as the T22/T25/T27/T28 floors.
T29_ACC_FLOOR = 1.0

# RECORDED aggregates — the t29 oracle constants; recapture with
# ``python -m hive_udf_neologd_spark.tokenizer.parity_harness t29`` after
# any dictionary/user-dict/filter change (tests/test_parity.py guards
# the constants against the live engine).  Recorded round 10 at 26
# sentences / 14 registers.  Honest pre-fix measurement: **26/26 clean
# (1.000000) on the first run** — the saturation signal (the documented
# override semantics the in-repo goldens pinned were already exactly
# faithful; the same shape as mode tranche 2's 27/27-clean extension).
T29_EXPECTED: dict[str, tuple[int, int, int, int]] = {
    "__total__": (31, 31, 90, 90),
    "ud2_extended": (1, 1, 3, 3),
    "ud2_longest": (1, 1, 4, 4),
    "ud2_new_row_override": (1, 1, 3, 3),
    "ud2_reading_override": (1, 1, 2, 2),
    "ud2_search_mix": (1, 1, 7, 7),
    "ud_chain": (2, 2, 6, 6),
    "ud_control": (3, 3, 6, 6),
    "ud_longest": (1, 1, 4, 4),
    "ud_mode_extended": (1, 1, 5, 5),
    "ud_mode_search": (3, 3, 9, 9),
    "ud_neologd_override": (1, 1, 4, 4),
    "ud_oov": (3, 3, 9, 9),
    "ud_reading_none": (2, 2, 6, 6),
    "ud_reading_override": (1, 1, 2, 2),
    "ud_rendaku_seg": (1, 1, 3, 3),
    "ud_split": (3, 3, 11, 11),
    "ud_stoptag": (2, 2, 2, 2),
    "ud_stopword_term": (1, 1, 1, 1),
    "ud_whole": (2, 2, 3, 3),
}

