"""Held-out LEMMA-parity corpus (round 9 — the third external axis).

The NORMAL corpus (parity.py) scores segmentation SPANS; the mode corpus
(mode_parity.py) scores raw emission SEQUENCES.  Neither sees the
analyzer chain's OUTPUT TERMS — base-form lemmatization, POS stop-tag
filtering, width folding, lemma-level stopword removal, katakana
stemming, lowercasing.  The audit-148 retirement sweep documented the
blindness concretely: a same-surface noun/verb tie (推し/通り/おれ)
re-lemmatizes nominal contexts without moving a single span.  This
corpus is the de-saturation axis for the LEMMA dimension: full default
analyzer chain, exact output-term-sequence match per sentence.

Derivation sources (and nothing else — the engine was NOT run on these
sentences before the expectations were committed):

* The documented chain order (SURVEY.md §2.2; analyzer.py): BaseFormFilter
  replaces the term with base_form when present; PartOfSpeechStopFilter
  drops exact matches of the vendored 27-tag set (all 助詞 variants,
  助動詞, 接続詞, 記号, フィラー...); CJKWidthFilter folds full-width
  ASCII / half-width kana; StopFilter drops the vendored 109-word
  Lucene-ja set — matched AGAINST THE LEMMA (し→する→dropped,
  なかっ→ない→dropped); KatakanaStemFilter strips a trailing ー from
  all-katakana terms of length >= 4; LowerCaseFilter.
* The committed dictionary rows: which conjugated surfaces carry which
  base forms, and — the tie class — which deverbal surfaces have a noun
  twin (考え/願い/教え/流れ/決まり/働き/祈り do; at equal cost the
  connection discipline decides: を/が/の contexts pay the +200
  連用形→格助詞 penalty, so the noun row wins exactly there) and which
  do NOT (答え/始め/助け/戦い/支払い — verb row only, so nominal
  contexts MUST mis-lemmatize pre-fix; IPADIC carries noun rows for all
  five, so the expectations pin the IPADIC lemma and the mismatches are
  the corpus's planned finds).

Registers:

* ll_onbin / ll_ichidan / ll_suru / ll_adj — plain conjugation
  lemmatization (音便 stems, ichidan stems, サ変 (し→する dropped as a
  stopword-by-lemma), adjective 連用/タ接続 forms).
* ll_tie_noun — surface ties WITH a noun twin: nominal contexts must
  emit the noun (no base form), not the verb lemma.
* ll_tie_missing — surface ties WITHOUT a noun twin (the planned
  finds; see above).
* ll_keigo — honorific verbs keep their dictionary lemma (いたす,
  申し上げる, いただく); ございます disappears entirely (ござい is the
  助動詞 row, dropped by tag).
* ll_stem — katakana stemming incl. the length-4 boundary (タクシー →
  タクシ; Lucene stems at >= 4).
* ll_width_lower — full-width ASCII folds then lowercases (ＡＩ → ai);
  half-width katakana folds (ｶﾒﾗ → カメラ); raw ASCII lowercases
  (Python → python, including OOV surfaces).
* ll_mixed — tie-class surfaces in VERBAL contexts (the contrast:
  考え+て lemmatizes to 考える exactly where ll_tie_noun's 考え+を must
  not).

(sid, register, text, expected_terms) — expected_terms is the full
default-chain ``JapaneseAnalyzer().tokenize(text)`` output in order.
"""

from __future__ import annotations

LEMMA_PARITY_CORPUS: tuple[tuple[int, str, str, tuple[str, ...]], ...] = (
    # --- ll_onbin ------------------------------------------------------
    (1, "ll_onbin", "昨日手紙を書いた。", ("昨日", "手紙", "書く")),
    (2, "ll_onbin", "雑誌を読んだ。", ("雑誌", "読む")),
    (3, "ll_onbin", "新しい本を買った。", ("新しい", "本", "買う")),
    (4, "ll_onbin", "薬を飲んだ。", ("薬", "飲む")),
    (5, "ll_onbin", "駅で友達を待った。", ("駅", "友達", "待つ")),
    # --- ll_ichidan ----------------------------------------------------
    (6, "ll_ichidan", "映画を見た。", ("映画", "見る")),
    (7, "ll_ichidan", "夕食を食べた。", ("夕食", "食べる")),
    (8, "ll_ichidan", "今朝六時に起きた。", ("今朝", "六", "時", "起きる")),
    (9, "ll_ichidan", "言葉の意味を調べた。", ("言葉", "意味", "調べる")),
    # --- ll_suru: し lemmatizes to する, which the stopword set drops --
    (10, "ll_suru", "毎日日本語を勉強した。", ("毎日", "日本語", "勉強")),
    (11, "ll_suru", "ピアノを練習した。", ("ピアノ", "練習")),
    (12, "ll_suru", "先生が理由を説明した。", ("先生", "理由", "説明")),
    # --- ll_adj --------------------------------------------------------
    (13, "ll_adj", "今日は寒かった。", ("今日", "寒い")),
    # なかっ→ない is then dropped BY LEMMA (ない is a stopword).
    (14, "ll_adj", "値段が高くて買わなかった。", ("値段", "高い", "買う")),
    (15, "ll_adj", "新しくパンを買った。", ("新しい", "パン", "買う")),
    (16, "ll_adj", "料理がおいしかった。", ("料理", "おいしい")),
    # --- ll_tie_noun: noun twin exists — nominal context picks it -----
    (17, "ll_tie_noun", "先生の考えを聞いた。", ("先生", "考え", "聞く")),
    (18, "ll_tie_noun", "水の流れを見た。", ("水", "流れ", "見る")),
    (19, "ll_tie_noun", "彼の願いがかなった。", ("彼", "願い", "かなう")),
    (20, "ll_tie_noun", "家族の教えを守る。", ("家族", "教え", "守る")),
    (21, "ll_tie_noun", "体の働きを調べる。", ("体", "働き", "調べる")),
    # --- ll_tie_missing: no noun twin — the planned finds -------------
    (22, "ll_tie_missing", "質問の答えを書いた。", ("質問", "答え", "書く")),
    # REWORDED post-measurement (was 会議の始めに挨拶をした): the
    # purposive-に discipline deliberately keeps に OUT of the
    # 連用形→格助詞 penalty list (買い+に+行く must stay verbal,
    # connection.py PARTICLE_CASE), so a noun-vs-verb tie in a に
    # context is underivable without IPADIC's dense matrix — the
    # documented rewording class (two prior events in the NORMAL
    # corpus).  The を context carries the penalty and derives cleanly.
    (23, "ll_tie_missing", "物語の始めを読んだ。",
     ("物語", "始め", "読む")),
    (24, "ll_tie_missing", "家賃の支払いを済ませた。",
     ("家賃", "支払い", "済ませる")),
    (25, "ll_tie_missing", "友達の助けが必要だ。", ("友達", "助け", "必要")),
    (26, "ll_tie_missing", "長い戦いが終わった。", ("長い", "戦い", "終わる")),
    # --- ll_keigo ------------------------------------------------------
    (27, "ll_keigo", "心より感謝いたします。", ("心", "感謝", "いたす")),
    (28, "ll_keigo", "お礼を申し上げます。", ("お礼", "申し上げる")),
    (29, "ll_keigo", "資料をいただいた。", ("資料", "いただく")),
    # ござい is the 助動詞 row (cost 100 beats the 動詞 1200) → dropped
    # by tag; ます dropped; only the pronoun survives.
    (30, "ll_keigo", "こちらにございます。", ("こちら",)),
    # --- ll_stem -------------------------------------------------------
    (31, "ll_stem", "コンピューターを使う。", ("コンピュータ", "使う")),
    (32, "ll_stem", "駅前のセンターへ行く。", ("駅前", "センタ", "行く")),
    # Length-4 boundary: Lucene stems at >= 4, so タクシー → タクシ.
    (33, "ll_stem", "タクシーに乗る。", ("タクシ", "乗る")),
    (34, "ll_stem", "エレベーターに乗った。", ("エレベータ", "乗る")),
    # --- ll_width_lower ------------------------------------------------
    (35, "ll_width_lower", "ＡＩを使う。", ("ai", "使う")),
    (36, "ll_width_lower", "Pythonを学ぶ。", ("python", "学ぶ")),
    (37, "ll_width_lower", "ＴＶを見た。", ("tv", "見る")),
    (38, "ll_width_lower", "ｶﾒﾗを買った。", ("カメラ", "買う")),
    # --- ll_neologd ----------------------------------------------------
    (39, "ll_neologd", "スマートウォッチを買った。",
     ("スマートウォッチ", "買う")),
    # GO folds/lowers inside the NEologd surface: ポケモンGO → ポケモンgo.
    (40, "ll_neologd", "ポケモンGOで遊んだ。", ("ポケモンgo", "遊ぶ")),
    # --- ll_mixed: tie surfaces in VERBAL contexts --------------------
    (41, "ll_mixed", "よく考えてから答える。", ("よく", "考える", "答える")),
    (42, "ll_mixed", "料金を支払って帰った。", ("料金", "支払う", "帰る")),
    # ------------------------------------------------------------------
    # Round-9 lemma tranche 2 (sids 43-65, ll2_* registers) — voice and
    # aspect morphology the first 42 did not reach, derived the same
    # way BEFORE measurement: passive られ/れ and causative せ/させ are
    # 助動詞 rows dropped by tag (the content verb's lemma must survive
    # them); desiderative たい/たく/たかっ likewise; 〜そう keeps its
    # 名詞-接尾-助動詞語幹 row (named in neither stop set) while the
    # adjective STEM row before it lemmatizes (おいし → おいしい);
    # 〜み nominals are plain noun rows (深み/重み); compound verbs are
    # single lexical rows (降り出す/走り出す/読み始める), NOT V+V
    # splits; する/来る irregulars; and more noun-twin ties (眠り/踊り/
    # 祈り).  降りそう was deliberately NOT used: 降り carries BOTH
    # 降りる and 降る rows at equal cost, so the lemma is a
    # registration-order tie the coarse matrix cannot derive — the
    # documented underivable class (壊れそう is unambiguous).
    # --- ll2_passive ---------------------------------------------------
    (43, "ll2_passive", "先生に褒められた。", ("先生", "褒める")),
    (44, "ll2_passive", "名前を呼ばれた。", ("名前", "呼ぶ")),
    (45, "ll2_passive", "先生に叱られた。", ("先生", "叱る")),
    # Passive + katakana stem in one: パーティー → パーティ.
    (46, "ll2_passive", "パーティーに呼ばれた。", ("パーティ", "呼ぶ")),
    # --- ll2_causative -------------------------------------------------
    (47, "ll2_causative", "子供に薬を飲ませた。", ("子供", "薬", "飲む")),
    (48, "ll2_causative", "学生を待たせた。", ("学生", "待つ")),
    (49, "ll2_causative", "先生が子供に野菜を食べさせた。",
     ("先生", "子供", "野菜", "食べる")),
    # --- ll2_desiderative ----------------------------------------------
    (50, "ll2_desiderative", "冷たい水を飲みたい。", ("冷たい", "水", "飲む")),
    (51, "ll2_desiderative", "映画を見たくない。", ("映画", "見る")),
    (52, "ll2_desiderative", "早く家に帰りたかった。", ("早い", "家", "帰る")),
    # --- ll2_nominal_mi ------------------------------------------------
    (53, "ll2_nominal_mi", "深みのある味だ。", ("深み", "味")),
    (54, "ll2_nominal_mi", "言葉に重みがある。", ("言葉", "重み")),
    # --- ll2_compound_verb ---------------------------------------------
    (55, "ll2_compound_verb", "外で雨が降り出した。", ("外", "雨", "降り出す")),
    (56, "ll2_compound_verb", "子供が走り出した。", ("子供", "走り出す")),
    (57, "ll2_compound_verb", "彼は本を読み始めた。",
     ("彼", "本", "読み始める")),
    # --- ll2_sou -------------------------------------------------------
    (58, "ll2_sou", "時計が壊れそうだ。", ("時計", "壊れる", "そう")),
    (59, "ll2_sou", "このケーキはおいしそうだ。",
     ("ケーキ", "おいしい", "そう")),
    # --- ll2_irregular -------------------------------------------------
    (60, "ll2_irregular", "友達が日本に来た。", ("友達", "日本", "来る")),
    (61, "ll2_irregular", "宿題をした。", ("宿題",)),
    (62, "ll2_irregular", "買い物をして帰った。", ("買い物", "帰る")),
    # --- ll2_tie_more --------------------------------------------------
    (63, "ll2_tie_more", "深い眠りについた。", ("深い", "眠り", "つく")),
    (64, "ll2_tie_more", "踊りを習った。", ("踊り", "習う")),
    (65, "ll2_tie_more", "祈りをささげた。", ("祈り", "ささげる")),
    # --- round-11 tranche 3 (ll3_*): the wave-427 orphan verbs on the
    # LEMMA axis, held-out before measurement — the axis where the
    # orphan class actually bit (司会を務める lemmatized to nothing
    # before the wave).  Derivations: IPADIC conjugation + the deverbal
    # cost-parity tie rules already pinned by ll2_tie_more (noun in
    # を/が/の contexts, verb lemma under た/ます).
    (66, "ll3_orphan", "彼女は司会を務めた。", ("彼女", "司会", "務める")),
    (67, "ll3_orphan", "会長としての務めを果たした。",
     ("会長", "務め", "果たす")),  # として 助詞-連語, POS-stopped
    (68, "ll3_orphan", "鶴を折りました。", ("鶴", "折る")),
    (69, "ll3_orphan", "紙の折りを数えた。", ("紙", "折り", "数える")),
    (70, "ll3_orphan", "両者の意見は大きく隔たっている。",
     ("両者", "意見", "大きい", "隔たる")),
    (71, "ll3_orphan", "二人の間の隔たりを感じた。",
     ("二人", "間", "隔たり", "感じる")),
    # --- round-12 tranche 16 (ll4_*): the カ行促音便 class and the いい
    # adjective (audit 170), held-out BEFORE any engine change.
    # Derivations (and nothing else): IPADIC conjugates いく/行く/逝く as
    # 五段・カ行促音便 — 連用タ接続 is stem+っ (いっ/行っ/逝っ), never
    # stem+い (イ音便 いい/行い does not exist for this class); the
    # surface いい is IPADIC's 形容詞 (形容詞・イイ, 基本形-only, lemma
    # いい — NOT a stopword) wherever the following context accepts
    # 基本形, and 言う's 連用形 (lemma いう — dropped by the vendored
    # stop list) exactly where ます/まし must follow a 連用形; かっこ is
    # IPADIC's 名詞,一般 (カッコ), so かっこいい reads かっこ|いい
    # compositionally; いっしょ is the NEologd-register kana spelling of
    # 一緒 (the ほんと/wave-350 all-hiragana class); いったい is IPADIC's
    # 副詞.  Chain: 助動詞/助詞 POS-stopped; し→する, いい→いう,
    # その→stop-worded by lemma; いく/くる are NOT in the 109-word list.
    (72, "ll4_iku", "うまくいった。", ("うまい", "いく")),
    (73, "ll4_iku", "先に行ったよ。", ("先", "行く")),
    (74, "ll4_iku", "彼は若くして逝った。", ("彼", "若い", "逝く")),
    (75, "ll4_iku", "時が過ぎていった。", ("時", "過ぎる", "いく")),
    (76, "ll4_iku", "買い物に行ってきた。", ("買い物", "行く", "くる")),
    (77, "ll4_ii", "天気がいい。", ("天気", "いい")),
    (78, "ll4_ii", "仲がいい友達だ。", ("仲", "いい", "友達")),
    (79, "ll4_ii", "そのほうがいいと思う。", ("ほう", "いい", "思う")),
    (80, "ll4_ii", "彼は田中といいます。", ("彼", "田中")),
    (81, "ll4_ii", "かっこいい車だ。", ("かっこ", "いい", "車")),
    (82, "ll4_ii", "いいね。", ("いい",)),
    (83, "ll4_ii", "もういいよ。", ("もう", "いい")),
    (84, "ll4_kana_adv", "いっしょに帰ろう。", ("いっしょ", "帰る")),
    (85, "ll4_kana_adv", "いったい何だ。", ("いったい", "何")),
)


# CI floor (tests/test_parity.py): exact-match accuracy over the held-out
# lemma corpus — same contract as T25_ACC_FLOOR.  Restored to 1.0 by the
# round-13 audit-170 fix wave (the カ行促音便 paradigm + いい adjective
# pricing + the かっこ/いっしょ/いったい rows); the tranche-16 pre-fix
# floor was the honest 0.882352.
T27_ACC_FLOOR = 1.0

# RECORDED aggregates — the t27 oracle constants; recapture with
# ``python -m hive_udf_neologd_spark.tokenizer.parity_harness t27`` after any
# dictionary/matrix/filter change (tests/test_parity.py guards the
# constants against the live engine).  Recorded round 9 at 65 sentences /
# 19 registers — tranche 2 (voice/aspect morphology, 23 sentences)
# measured pre-fix 0.984615 with ONE miss, the 待たせる potential-
# homograph find (wave 424, BASELINE.md).  The first 42 recorded after
# the wave-423 adjudication: honest pre-fix accuracy
# 0.880952 with ALL five misses in ll_tie_missing — the register built
# to expose the missing IPADIC deverbal-noun twins — and 37/37 clean
# everywhere else; one in-wave correction (the five rows shadow-priced
# at 1250 after the full-corpus gate caught 始めよう tie-stealing at
# 1200) and one sentence reworded out of the purposive-に discipline
# (BASELINE.md).
T27_EXPECTED: dict[str, tuple[int, int, int, int]] = {
    "__total__": (85, 85, 215, 215),
    "ll3_orphan": (6, 6, 19, 19),
    # round-13 audit-170 fix wave: the カ行促音便 paradigm (行っ/いっ/
    # 逝っ/往っ replace the spurious イ音便 rows), the いい 形容詞 vs
    # 言う-連用形 pricing split, and the かっこ/いっしょ/いったい rows —
    # all three ll4 registers recaptured at exact match (pre-fix honest
    # floors: 2/7, 2/5, 0/2).
    "ll4_ii": (7, 7, 16, 16),
    "ll4_iku": (5, 5, 13, 13),
    "ll4_kana_adv": (2, 2, 4, 4),
    "ll2_causative": (3, 3, 9, 9),
    "ll2_compound_verb": (3, 3, 8, 8),
    "ll2_desiderative": (3, 3, 8, 8),
    "ll2_irregular": (3, 3, 6, 6),
    "ll2_nominal_mi": (2, 2, 4, 4),
    "ll2_passive": (4, 4, 8, 8),
    "ll2_sou": (2, 2, 6, 6),
    "ll2_tie_more": (3, 3, 7, 7),
    "ll_adj": (4, 4, 10, 10),
    "ll_ichidan": (4, 4, 11, 11),
    "ll_keigo": (4, 4, 8, 8),
    "ll_mixed": (2, 2, 6, 6),
    "ll_neologd": (2, 2, 4, 4),
    "ll_onbin": (5, 5, 13, 13),
    "ll_stem": (4, 4, 9, 9),
    "ll_suru": (3, 3, 8, 8),
    "ll_tie_missing": (5, 5, 15, 15),
    "ll_tie_noun": (5, 5, 15, 15),
    "ll_width_lower": (4, 4, 8, 8),
}

