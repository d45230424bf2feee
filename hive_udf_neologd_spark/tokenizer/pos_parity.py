"""Held-out POS-parity corpus (round 10 — the sixth external axis).

The five existing axes score spans, mode emissions, output terms,
readings, and user-dict overrides.  None scores the POS STRING itself —
the one analyzer output where a wrong ROW selection can hide with the
term, span, lemma, and reading all identical: a same-surface row pair
differing only in POS subtype (名詞-一般 vs 名詞-固有名詞…, 一般 vs
サ変接続) would pass every current gate while breaking downstream
POS-based filtering (the reference analyzer's stop-tag stage, and this
repo's own t26 名詞-prefix aggregation).  This corpus closes that
blindness.

Derivation sources (and nothing else — the engine was NOT run on these
sentences before the expectations were committed):

* The committed dictionary rows: each expected POS is the WINNING
  row's POS string, read from lexicon.py / the snapshot CSV (probed by
  surface, never by running the engine on these sentences).  For the
  one deliberate tie sentence the winner follows the documented
  connection discipline (答え: verb 1200 + の/を penalty 200 > noun
  1250 — the wave-423 shadow-pricing, already lemma-pinned by t27).
* The documented unknown-word classes (lattice.py): grouped unknown
  runs carry 名詞-一般, digit runs 名詞-数.
* The documented stop sets (stopwords.py): all 助詞 variants, 助動詞,
  記号, 接続詞 … drop by tag; し drops by lemma-stopword (する);
  感動詞 and 名詞-非自立 are NOT stop tags, so こんにちは survives.

Registers: pp_noun_general / pp_sahen / pp_proper / pp_adv_noun
(副詞可能) / pp_adverb / pp_adj / pp_adj_stem (形容動詞語幹) /
pp_unknown / pp_number / pp_keigo / pp_tie / pp_interjection /
pp_compound / pp_place (固有名詞-地域) / pp_person (人名-姓) /
pp_katakana_dict / pp_unknown_ascii.

(sid, register, text, expected_pairs) — expected_pairs is the ordered
(surface, pos) sequence of the default-chain ``analyze_rich`` output.
"""

from __future__ import annotations

POS_PARITY_CORPUS: tuple[
    tuple[int, str, str, tuple[tuple[str, str], ...]], ...
] = (
    (1, "pp_noun_general", "美術館で絵画を眺めた。",
     (("美術館", "名詞-一般"), ("絵画", "名詞-一般"), ("眺め", "動詞-自立"))),
    (2, "pp_sahen", "日本語を勉強した。",
     (("日本語", "名詞-一般"), ("勉強", "名詞-サ変接続"))),
    (3, "pp_proper", "東京駅で待った。",
     (("東京駅", "名詞-固有名詞-一般"), ("待っ", "動詞-自立"))),
    (4, "pp_adv_noun", "毎日散歩した。",
     (("毎日", "名詞-副詞可能"), ("散歩", "名詞-サ変接続"))),
    (5, "pp_adverb", "ゆっくり歩いた。",
     (("ゆっくり", "副詞-一般"), ("歩い", "動詞-自立"))),
    (6, "pp_adj", "新しい時計を買った。",
     (("新しい", "形容詞-自立"), ("時計", "名詞-一般"),
      ("買っ", "動詞-自立"))),
    (7, "pp_adj_stem", "穏やかな週末だった。",
     # CORRECTED BY ARGUMENT post-measurement: the 週末 pin was derived
     # from the committed row (一般), and the wave-431 副詞可能 sweep
     # corrected that ROW to the IPADIC subtype — the pin moves with
     # its derivation source (same protocol as s27 担当 / wave 430).
     (("穏やか", "名詞-形容動詞語幹"), ("週末", "名詞-副詞可能"))),
    (8, "pp_unknown", "ゾンビが現れた。",
     (("ゾンビ", "名詞-一般"), ("現れ", "動詞-自立"))),
    (9, "pp_number", "パスワードは1234です。",
     (("パスワード", "名詞-一般"), ("1234", "名詞-数"))),
    (10, "pp_keigo", "資料をいただいた。",
     (("資料", "名詞-一般"), ("いただい", "動詞-自立"))),
    (11, "pp_tie", "質問の答えを書いた。",
     (("質問", "名詞-サ変接続"), ("答え", "名詞-一般"),
      ("書い", "動詞-自立"))),
    (12, "pp_interjection", "こんにちは、先生。",
     (("こんにちは", "感動詞"), ("先生", "名詞-一般"))),
    (13, "pp_compound", "雨が降り始めた。",
     (("雨", "名詞-一般"), ("降り始め", "動詞-自立"))),
    (14, "pp_place", "長野県の神社へ行った。",
     (("長野県", "名詞-固有名詞-地域-一般"), ("神社", "名詞-一般"),
      ("行っ", "動詞-自立"))),
    (15, "pp_person", "田中と話した。",
     (("田中", "名詞-固有名詞-人名-姓"), ("話し", "動詞-自立"))),
    (16, "pp_katakana_dict", "タクシーに乗った。",
     (("タクシー", "名詞-一般"), ("乗っ", "動詞-自立"))),
    (17, "pp_unknown_ascii", "ゾンビがabcを見た。",
     (("ゾンビ", "名詞-一般"), ("abc", "名詞-一般"), ("見", "動詞-自立"))),
    # ------------------------------------------------------------------
    # Tranche 2 (sids 18-25) — same derivation discipline BEFORE
    # measurement; widens each load-bearing subtype register to >= 2
    # sentences.  Unknown runs split at character-class boundaries
    # (LATIN|DIGIT), so abcde1 emits abcde (名詞-一般) + 1 (名詞-数).
    (18, "pp_sahen", "装置を設置した。",
     (("装置", "名詞-一般"), ("設置", "名詞-サ変接続"))),
    (19, "pp_proper", "姫路城と国会議事堂へ行った。",
     (("姫路城", "名詞-固有名詞-一般"), ("国会議事堂", "名詞-固有名詞-一般"),
      ("行っ", "動詞-自立"))),
    (20, "pp_adv_noun", "昨日三回練習した。",
     (("昨日", "名詞-副詞可能"), ("三回", "名詞-副詞可能"),
      ("練習", "名詞-サ変接続"))),
    (21, "pp_place", "青森県と千葉市を調べた。",
     (("青森県", "名詞-固有名詞-地域-一般"),
      ("千葉市", "名詞-固有名詞-地域-一般"), ("調べ", "動詞-自立"))),
    (22, "pp_noun_general", "弁護士が資料を見せた。",
     (("弁護士", "名詞-一般"), ("資料", "名詞-一般"), ("見せ", "動詞-自立"))),
    (23, "pp_unknown_ascii", "ゾンビとabcde1が現れた。",
     (("ゾンビ", "名詞-一般"), ("abcde", "名詞-一般"), ("1", "名詞-数"),
      ("現れ", "動詞-自立"))),
    (24, "pp_katakana_dict", "スーパーコンピューターを使った。",
     (("スーパーコンピューター", "名詞-一般"), ("使っ", "動詞-自立"))),
    (25, "pp_noun_general", "屋台で焼きそばを買った。",
     (("屋台", "名詞-一般"), ("焼きそば", "名詞-一般"),
      ("買っ", "動詞-自立"))),
    # ------------------------------------------------------------------
    # Round-11 tranche 2 (sids 26-39, pp2_* registers) — the wave-427/
    # 428 vocabulary, POS-pinned held-out: the orphan verbs' noun/verb
    # row SPLITS (務め noun in を/として contexts vs 務め 連用形 under
    # ます/た — the exact tie class the deverbal cost parity prices),
    # the new サ変 vs 一般 subtype selections (司会/補佐 サ変接続 vs
    # 理事/渉外/評議 一般 — 評議 ships 一般 from the court tier, a
    # dictionary fact this corpus now pins against IPADIC's サ変
    # temptation), and the 副詞可能 tier incl. the 午後 dual-row tie
    # (副詞可能 registered first wins per the strict-< discipline).
    # Expectations derived from the committed rows (probed by surface)
    # and the documented tie rules only.
    (26, "pp2_role", "彼女が司会を務めた。",
     (("彼女", "名詞-代名詞-一般"), ("司会", "名詞-サ変接続"),
      ("務め", "動詞-自立"))),
    (27, "pp2_role", "理事が渉外を担当した。",
     # CORRECTED BY ARGUMENT post-measurement: the pin was derived from
     # the committed row (担当 shipped 名詞-一般), and the wave-430
     # サ変-subtype sweep then corrected that ROW to the IPADIC fact
     # (名詞,サ変接続) — the derivation source moved, so the pin moves
     # with it; the original 14/14 measurement against the old rows
     # stands recorded in BASELINE.md.
     (("理事", "名詞-一般"), ("渉外", "名詞-一般"),
      ("担当", "名詞-サ変接続"))),
    (28, "pp2_role", "監事と書記が理事を補佐した。",
     (("監事", "名詞-一般"), ("書記", "名詞-一般"),
      ("理事", "名詞-一般"), ("補佐", "名詞-サ変接続"))),
    (29, "pp2_role", "評議員が集まった。",
     (("評議員", "名詞-一般"), ("集まっ", "動詞-自立"))),
    (30, "pp2_verb", "紙を折った。",
     (("紙", "名詞-一般"), ("折っ", "動詞-自立"))),
    (31, "pp2_verb", "意見が大きく隔たった。",
     (("意見", "名詞-一般"), ("大きく", "形容詞-自立"),
      ("隔たっ", "動詞-自立"))),
    (32, "pp2_adv_noun", "年間の目標を調べた。",
     (("年間", "名詞-副詞可能"), ("目標", "名詞-一般"),
      ("調べ", "動詞-自立"))),
    (33, "pp2_adv_noun", "全部を午後に確認した。",
     (("全部", "名詞-副詞可能"), ("午後", "名詞-副詞可能"),
      ("確認", "名詞-サ変接続"))),
    (34, "pp2_noun", "駅の前で友達を待った。",
     (("駅", "名詞-一般"), ("前", "名詞-非自立-副詞可能"),
      ("友達", "名詞-一般"), ("待っ", "動詞-自立"))),
    (35, "pp2_tie2", "会長としての務めを果たした。",
     (("会長", "名詞-一般"), ("務め", "名詞-一般"),
      ("果たし", "動詞-自立"))),
    (36, "pp2_tie2", "大きな隔たりがあった。",
     (("大きな", "連体詞"), ("隔たり", "名詞-一般"))),
    (37, "pp2_role", "書記が書類を提出した。",
     (("書記", "名詞-一般"), ("書類", "名詞-一般"),
      ("提出", "名詞-サ変接続"))),
    (38, "pp2_verb", "彼が議長を務める。",
     (("彼", "名詞-代名詞-一般"), ("議長", "名詞-一般"),
      ("務める", "動詞-自立"))),
    (39, "pp2_adv_noun", "過去の試合を調べた。",
     (("過去", "名詞-副詞可能"), ("試合", "名詞-サ変接続"),
      ("調べ", "動詞-自立"))),
    # --- round-12 tranche 16 (audit 170): the いい/いく POS split,
    # held-out BEFORE any engine change.  IPADIC: surface いい in a
    # copular context is the 形容詞 (形容詞・イイ); surface いっ/行っ is
    # 五段・カ行促音便 連用タ接続 of いく/行く (動詞-自立).  が/に 助詞
    # and た 助動詞 are POS-stopped; うまく is 形容詞 連用テ接続 (its
    # lemma うまい is not a stopword, so the pair survives).
    (40, "pp3_iku_ii", "天気がいい。",
     (("天気", "名詞-一般"), ("いい", "形容詞-自立"))),
    (41, "pp3_iku_ii", "学校に行った。",
     (("学校", "名詞-一般"), ("行っ", "動詞-自立"))),
    (42, "pp3_iku_ii", "うまくいった。",
     (("うまく", "形容詞-自立"), ("いっ", "動詞-自立"))),
)


# CI floor (tests/test_parity.py): exact-match accuracy over the held-out
# POS corpus — same contract as the other five axis floors.  Restored to
# 1.0 by the round-13 audit-170 fix wave; the tranche-16 pre-fix floor
# was the honest 0.952380.
T30_ACC_FLOOR = 1.0

# RECORDED aggregates — the t30 oracle constants; recapture with
# ``python -m hive_udf_neologd_spark.tokenizer.parity_harness t30`` after any
# dictionary/lattice change.  Recorded round 10 at 25 sentences / 17
# registers.  Honest measurements: tranche 1 **17/17 clean on the first
# run**, tranche 2 **8/8 clean** — POS-subtype row selection was already
# exactly faithful (the saturation signal, third clean-first-measurement
# axis this round after t29's 26/26).  Round-11 tranche 2 (pp2_*, the
# wave-427/428 vocabulary incl. the deverbal noun/verb POS splits and
# the 午後 dual-row tie): **14/14 clean on the first run** — corpus
# committed before measurement, aggregates recaptured to 39 sentences /
# 22 registers.
T30_EXPECTED: dict[str, tuple[int, int, int, int]] = {
    "__total__": (42, 42, 109, 109),
    "pp2_adv_noun": (3, 3, 9, 9),
    # round-13 audit-170 fix wave: いい reads the 形容詞 row in copular
    # contexts, いっ/行っ are the 促音便 連用タ接続 rows (pre-fix honest
    # aggregate: 1/3).
    "pp3_iku_ii": (3, 3, 6, 6),
    "pp2_noun": (1, 1, 4, 4),
    "pp2_role": (5, 5, 15, 15),
    "pp2_tie2": (2, 2, 5, 5),
    "pp2_verb": (3, 3, 8, 8),
    "pp_adj": (1, 1, 3, 3),
    "pp_adj_stem": (1, 1, 2, 2),
    "pp_adv_noun": (2, 2, 5, 5),
    "pp_adverb": (1, 1, 2, 2),
    "pp_compound": (1, 1, 2, 2),
    "pp_interjection": (1, 1, 2, 2),
    "pp_katakana_dict": (2, 2, 4, 4),
    "pp_keigo": (1, 1, 2, 2),
    "pp_noun_general": (3, 3, 9, 9),
    "pp_number": (1, 1, 2, 2),
    "pp_person": (1, 1, 2, 2),
    "pp_place": (2, 2, 6, 6),
    "pp_proper": (2, 2, 5, 5),
    "pp_sahen": (2, 2, 4, 4),
    "pp_tie": (1, 1, 3, 3),
    "pp_unknown": (1, 1, 2, 2),
    "pp_unknown_ascii": (2, 2, 7, 7),
}

