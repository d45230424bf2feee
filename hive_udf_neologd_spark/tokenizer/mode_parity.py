"""Held-out SEARCH/EXTENDED mode-parity corpus (VERDICT r8 next-round #1).

The NORMAL-mode parity corpus (``tokenizer/parity.py``, 715 sentences)
scores segmentation spans only; SEARCH's compound-as-synonym emission and
EXTENDED's unknown-unigram splitting were pinned only by in-repo goldens
(t08/t23/t24) — exactly the co-adaptation risk the NORMAL corpus retired.
This module is the de-saturation axis for the MODE dimension: a held-out
corpus whose expected emissions were hand-derived BEFORE the engine was run
on any of these sentences (derivation-first protocol, tranches 1-7).

Derivation sources (and nothing else):

* Lucene 5.5.5 ``JapaneseTokenizer`` mode semantics, as pinned by the
  reference (``KuromojiNEologdUDF.java:171-192``: NORMAL | SEARCH |
  EXTENDED | DEFAULT→SEARCH) and by this engine's documented
  interpretation (lattice.py ``segment()``): SEARCH adds a decompounding
  penalty to long dictionary entries (all-kanji n>2: 3100+1000*(n-3);
  any n>7: 1700) and, wherever the penalized Viterbi path splits a span
  that a single penalized built-in entry covers exactly (>=2 consecutive
  path nodes), emits that entry FIRST (the Lucene "compound as synonym",
  positioned at the first part) followed by its parts; EXTENDED adds
  unknown-run unigramming (each unknown char its own token, cost 3000).
* The committed dictionary content (entry presence + word costs) and the
  committed connection matrix — split-vs-fused is plain arithmetic:
  noun→noun connection is 0, so a 4-kanji compound (penalty 4100) splits
  iff cost(A)+cost(B) < cost(AB)+4100, an 8+-char katakana compound
  (penalty 1700) splits iff cost(A)+cost(B) < cost(AB)+1700, and a part
  that is itself >7 chars or >2 kanji carries its OWN penalty inside the
  split path (why クロスカントリースキー stays fused).  Per-sentence
  margins are cited in register comments.

What was deliberately NOT consulted: the engine's output on any of these
sentences.  The corpus was committed with expectations pinned before the
first measurement; the honest pre-fix score and every subsequent
adjudication (engine fix vs documented expectation correction) are
recorded in BASELINE.md, mirroring the tranche protocol.

Scoring: per-sentence EXACT token-sequence match on the raw lattice
emission (``Lattice(builtin_dictionary(), None, mode).segment``) —
stricter than the NORMAL corpus's span F1, because synonym emission is an
ORDER contract (compound before parts), not just a span set.  Punctuation
is discarded by the lattice (discardPunctuation=true), so expectations
exclude 。.

Registers (27 after the second and third tranches, sids 109-143 —
see the in-corpus comments at sids 109 and 136) and the first
tranche's derivation arguments:

* ms_kanji4_split — 4-kanji compounds whose 2+2 parts are dictionary
  entries; split path ~3000 (or 2700 with a proper-noun part) vs fused
  1500+4100 (margin >=1100) → decompose + synonym.
* ms_kanji6_split — 6-kanji compounds with 2+2+2 parts; split ~4200-4500
  vs fused >=800+6100 (margin >=2400).
* ms_nested — a mid-path 4-kanji sub-compound also aligns with two path
  nodes, so the engine's per-position synonym scan emits BOTH compounds
  (内閣総理大臣 → 内閣, [総理大臣], 総理, 大臣).
* ms_kanji_fused — 3-kanji entries whose tail part is missing from the
  dictionary (unknown 1-char kanji candidate costs 5200, so split >=6700
  vs fused 1500+3100=4600) and 4-kanji entries with one part missing
  (unknown 2-char kanji 6900) → stay fused, NO synonym.
* ms_2kanji_control — n=2 kanji entries are never penalized; SEARCH
  output equals NORMAL output.
* ms_kata_split — 8+-char katakana with both parts in the dictionary at
  cost 1500 each: split 3000 < fused 1500+1700=3200 (margin 200, exact
  arithmetic — every pair cited was verified against the committed
  costs) → decompose + synonym.
* ms_kata_fused — 8+-char katakana that stays fused: proper-noun cost
  500 (ブロックチェーン: 2200 < 3000), no parts in the dictionary
  (アプリケーション, トランザクション, サブスクリプション,
  アイデンティティ, スマートフォン at exactly 7 chars → no penalty,
  インターネット at exactly 7 chars → no penalty), or a part that is
  itself >7 chars and carries its own 1700 inside the split
  (クロスカントリースキー 4700 vs 3200, パネルディスカッション 4700 vs
  3200).
* ms_mixed_nopenalty — mixed-script entries of <=7 chars are NOT
  all-kanji, so the kanji penalty never applies and the length penalty
  needs n>7: マラソン大会 (6), 夏休み, お弁当 stay fused even though
  parts exist.
* ms_suffix_split — 3-kanji noun+suffix where the 1-char suffix IS a
  dictionary entry (日/人 at cost 900, connection 0): split 2400 < fused
  4600 → decompose + synonym.
* ms_sentence — compounds embedded in longer frames (two compounds in
  one sentence, adverb prefixes, conjugated verbs).
* me_unigram_kata / me_unigram_kanji / me_unigram_hira / me_digits —
  EXTENDED: runs with no dictionary entry of length >=2 anywhere inside
  (verified against the committed surface table) become 1-char-per-token
  unigrams; ASCII digit/letter runs likewise.
* me_known_whole — EXTENDED does not unigram dictionary words.
* me_compound — SEARCH penalties apply in EXTENDED too: the same
  decompose+synonym / stay-fused verdicts as the ms_* registers.
* me_sentence — unknown unigrams + compound synonyms composed in one
  emission.

(sid, register, mode, text, expected_surfaces) — expectations are the
full raw emission in order.
"""

from __future__ import annotations

MODE_PARITY_CORPUS: tuple[tuple[int, str, str, str, tuple[str, ...]], ...] = (
    # --- ms_kanji4_split: 4-kanji, both 2-kanji halves in dict ------------
    (1, "ms_kanji4_split", "search", "機械学習を学ぶ。",
     ("機械学習", "機械", "学習", "を", "学ぶ")),
    (2, "ms_kanji4_split", "search", "分散処理を使う。",
     ("分散処理", "分散", "処理", "を", "使う")),
    (3, "ms_kanji4_split", "search", "強化学習の本を読む。",
     ("強化学習", "強化", "学習", "の", "本", "を", "読む")),
    (4, "ms_kanji4_split", "search", "世界遺産へ行く。",
     ("世界遺産", "世界", "遺産", "へ", "行く")),
    (5, "ms_kanji4_split", "search", "世論調査の結果を読む。",
     ("世論調査", "世論", "調査", "の", "結果", "を", "読む")),
    (6, "ms_kanji4_split", "search", "自動運転の車に乗る。",
     ("自動運転", "自動", "運転", "の", "車", "に", "乗る")),
    (7, "ms_kanji4_split", "search", "世界記録の話をする。",
     ("世界記録", "世界", "記録", "の", "話", "を", "する")),
    (8, "ms_kanji4_split", "search", "世代交代が進む。",
     ("世代交代", "世代", "交代", "が", "進む")),
    (9, "ms_kanji4_split", "search", "一方通行で行く。",
     ("一方通行", "一方", "通行", "で", "行く")),
    (10, "ms_kanji4_split", "search", "環境問題の話をする。",
     ("環境問題", "環境", "問題", "の", "話", "を", "する")),
    (11, "ms_kanji4_split", "search", "国民年金を調べる。",
     ("国民年金", "国民", "年金", "を", "調べる")),
    (12, "ms_kanji4_split", "search", "電子書籍を読む。",
     ("電子書籍", "電子", "書籍", "を", "読む")),
    (13, "ms_kanji4_split", "search", "天気予報を見る。",
     ("天気予報", "天気", "予報", "を", "見る")),
    (14, "ms_kanji4_split", "search", "横断歩道で待つ。",
     ("横断歩道", "横断", "歩道", "で", "待つ")),
    (15, "ms_kanji4_split", "search", "防災訓練へ行く。",
     ("防災訓練", "防災", "訓練", "へ", "行く")),
    (16, "ms_kanji4_split", "search", "上野公園へ行った。",
     ("上野公園", "上野", "公園", "へ", "行っ", "た")),
    (17, "ms_kanji4_split", "search", "東京大学で学ぶ。",
     ("東京大学", "東京", "大学", "で", "学ぶ")),
    # --- ms_kanji6_split: 6-kanji, 2+2+2 parts in dict --------------------
    (18, "ms_kanji6_split", "search", "自然言語処理を学ぶ。",
     ("自然言語処理", "自然", "言語", "処理", "を", "学ぶ")),
    (19, "ms_kanji6_split", "search", "世界自然遺産へ行く。",
     ("世界自然遺産", "世界", "自然", "遺産", "へ", "行く")),
    (20, "ms_kanji6_split", "search", "京都府立大学で学ぶ。",
     ("京都府立大学", "京都", "府立", "大学", "で", "学ぶ")),
    (21, "ms_kanji6_split", "search", "国民健康保険を調べる。",
     ("国民健康保険", "国民", "健康", "保険", "を", "調べる")),
    (22, "ms_kanji6_split", "search", "固有表現抽出を使う。",
     ("固有表現抽出", "固有", "表現", "抽出", "を", "使う")),
    (23, "ms_kanji6_split", "search", "三井住友銀行へ行く。",
     ("三井住友銀行", "三井", "住友", "銀行", "へ", "行く")),
    (24, "ms_kanji6_split", "search", "中部国際空港へ行った。",
     ("中部国際空港", "中部", "国際", "空港", "へ", "行っ", "た")),
    (25, "ms_kanji6_split", "search", "世界貿易機関の話をする。",
     ("世界貿易機関", "世界", "貿易", "機関", "の", "話", "を", "する")),
    # --- ms_nested: a mid-path sub-compound emits a second synonym --------
    # 内閣総理大臣: path 内閣/総理/大臣 (4500); 総理大臣 (4-kanji, penalized,
    # aligns with 総理+大臣) emits at the 総理 position.
    (26, "ms_nested", "search", "内閣総理大臣の話をする。",
     ("内閣総理大臣", "内閣", "総理大臣", "総理", "大臣", "の", "話", "を", "する")),
    # 大雨特別警報: path 大雨/特別/警報 (4500, conn(特別→警報)=0); nested
    # 特別警報 at the 特別 position.
    (27, "ms_nested", "search", "大雨特別警報が出た。",
     ("大雨特別警報", "大雨", "特別警報", "特別", "警報", "が", "出", "た")),
    # --- ms_kanji_fused: parts missing → split path costs unknown-ladder --
    (28, "ms_kanji_fused", "search", "新幹線に乗る。", ("新幹線", "に", "乗る")),
    (29, "ms_kanji_fused", "search", "美術館へ行く。", ("美術館", "へ", "行く")),
    (30, "ms_kanji_fused", "search", "図書館で本を読む。",
     ("図書館", "で", "本", "を", "読む")),
    (31, "ms_kanji_fused", "search", "水族館へ行った。",
     ("水族館", "へ", "行っ", "た")),
    (32, "ms_kanji_fused", "search", "博物館で学ぶ。", ("博物館", "で", "学ぶ")),
    (33, "ms_kanji_fused", "search", "動物園へ行く。", ("動物園", "へ", "行く")),
    (34, "ms_kanji_fused", "search", "駐車場で待つ。", ("駐車場", "で", "待つ")),
    (35, "ms_kanji_fused", "search", "運動会の練習をする。",
     ("運動会", "の", "練習", "を", "する")),
    (36, "ms_kanji_fused", "search", "商店街で買う。", ("商店街", "で", "買う")),
    (37, "ms_kanji_fused", "search", "卒業式の話をする。",
     ("卒業式", "の", "話", "を", "する")),
    # ADJUDICATED (the one pre-fix mismatch, honest score 0.990741 —
    # BASELINE.md round 9): pinned as fused on the belief that no split
    # path existed, but the derivation missed the 1-char rows 音/声
    # (split 音|声|認識 = 4500 < fused 5600), and the DICTIONARY was
    # missing 音声 itself, a standard IPADIC noun.  Both sides moved:
    # wave 419 added 音声 (engine fix), and the expectation was corrected
    # to the IPADIC-correct decompounded emission (derivation fix).
    (38, "ms_kanji4_split", "search", "音声認識を使う。",
     ("音声認識", "音声", "認識", "を", "使う")),
    (39, "ms_kanji_fused", "search", "深層学習を学ぶ。",
     ("深層学習", "を", "学ぶ")),
    (40, "ms_kanji_fused", "search", "消費税の話をする。",
     ("消費税", "の", "話", "を", "する")),
    # --- ms_2kanji_control: never penalized --------------------------------
    (41, "ms_2kanji_control", "search", "空港へ行く。", ("空港", "へ", "行く")),
    (42, "ms_2kanji_control", "search", "大学で学ぶ。", ("大学", "で", "学ぶ")),
    (43, "ms_2kanji_control", "search", "銀行へ行った。",
     ("銀行", "へ", "行っ", "た")),
    (44, "ms_2kanji_control", "search", "処理をする。", ("処理", "を", "する")),
    # --- ms_kata_split: 8+ katakana, parts at 1500+1500=3000 < 3200 -------
    (45, "ms_kata_split", "search", "ガソリンスタンドで働く。",
     ("ガソリンスタンド", "ガソリン", "スタンド", "で", "働く")),
    (46, "ms_kata_split", "search", "クレジットカードを使う。",
     ("クレジットカード", "クレジット", "カード", "を", "使う")),
    (47, "ms_kata_split", "search", "バスケットボールの試合を見る。",
     ("バスケットボール", "バスケット", "ボール", "の", "試合", "を", "見る")),
    (48, "ms_kata_split", "search", "クリスマスケーキを食べる。",
     ("クリスマスケーキ", "クリスマス", "ケーキ", "を", "食べる")),
    (49, "ms_kata_split", "search", "コンタクトレンズを使う。",
     ("コンタクトレンズ", "コンタクト", "レンズ", "を", "使う")),
    (50, "ms_kata_split", "search", "ランニングシューズを買う。",
     ("ランニングシューズ", "ランニング", "シューズ", "を", "買う")),
    (51, "ms_kata_split", "search", "リサイクルショップへ行く。",
     ("リサイクルショップ", "リサイクル", "ショップ", "へ", "行く")),
    (52, "ms_kata_split", "search", "キャッシュカードを使う。",
     ("キャッシュカード", "キャッシュ", "カード", "を", "使う")),
    (53, "ms_kata_split", "search", "クラウドサービスを使う。",
     ("クラウドサービス", "クラウド", "サービス", "を", "使う")),
    # マイナンバー is 500 → split 2000 vs fused 3200 (margin 1200).
    (54, "ms_kata_split", "search", "マイナンバーカードを使う。",
     ("マイナンバーカード", "マイナンバー", "カード", "を", "使う")),
    (55, "ms_kata_split", "search", "モーニングセットを食べる。",
     ("モーニングセット", "モーニング", "セット", "を", "食べる")),
    (56, "ms_kata_split", "search", "パーキングエリアで待つ。",
     ("パーキングエリア", "パーキング", "エリア", "で", "待つ")),
    # --- ms_kata_fused ------------------------------------------------------
    # ブロックチェーン: proper-noun 500 → fused 2200 < split 3000.
    (57, "ms_kata_fused", "search", "ブロックチェーンを学ぶ。",
     ("ブロックチェーン", "を", "学ぶ")),
    (58, "ms_kata_fused", "search", "アプリケーションを使う。",
     ("アプリケーション", "を", "使う")),
    (59, "ms_kata_fused", "search", "トランザクションの処理をする。",
     ("トランザクション", "の", "処理", "を", "する")),
    # クロスカントリー is itself >7 chars → its own 1700 inside the split:
    # 1500+1700+1500=4700 vs fused 3200 → fused.
    (60, "ms_kata_fused", "search", "クロスカントリースキーの練習をする。",
     ("クロスカントリースキー", "の", "練習", "を", "する")),
    # ディスカッション >7 chars → same argument: 4700 vs 3200 → fused.
    (61, "ms_kata_fused", "search", "パネルディスカッションを見る。",
     ("パネルディスカッション", "を", "見る")),
    (62, "ms_kata_fused", "search", "サブスクリプションを使う。",
     ("サブスクリプション", "を", "使う")),
    (63, "ms_kata_fused", "search", "アイデンティティの話をする。",
     ("アイデンティティ", "の", "話", "を", "する")),
    # Exactly 7 chars → the n>7 penalty never fires.
    (64, "ms_kata_fused", "search", "インターネットを使う。",
     ("インターネット", "を", "使う")),
    (65, "ms_kata_fused", "search", "スマートフォンを使う。",
     ("スマートフォン", "を", "使う")),
    # --- ms_mixed_nopenalty: mixed-script <=7 chars → no penalty ----------
    (66, "ms_mixed_nopenalty", "search", "マラソン大会へ行く。",
     ("マラソン大会", "へ", "行く")),
    (67, "ms_mixed_nopenalty", "search", "夏休みに本を読む。",
     ("夏休み", "に", "本", "を", "読む")),
    (68, "ms_mixed_nopenalty", "search", "お弁当を食べる。",
     ("お弁当", "を", "食べる")),
    # --- ms_suffix_split: 1-char suffix IS in dict (日/人 at 900) ---------
    (69, "ms_suffix_split", "search", "誕生日を祝う。",
     ("誕生日", "誕生", "日", "を", "祝う")),
    (70, "ms_suffix_split", "search", "外国人と話をする。",
     ("外国人", "外国", "人", "と", "話", "を", "する")),
    # --- ms_sentence --------------------------------------------------------
    (71, "ms_sentence", "search", "東京大学で機械学習を学ぶ。",
     ("東京大学", "東京", "大学", "で", "機械学習", "機械", "学習", "を", "学ぶ")),
    (72, "ms_sentence", "search", "毎日ガソリンスタンドで働く。",
     ("毎日", "ガソリンスタンド", "ガソリン", "スタンド", "で", "働く")),
    (73, "ms_sentence", "search", "昨日美術館へ行った。",
     ("昨日", "美術館", "へ", "行っ", "た")),
    (74, "ms_sentence", "search", "友達と世界遺産へ行く。",
     ("友達", "と", "世界遺産", "世界", "遺産", "へ", "行く")),
    (75, "ms_sentence", "search", "毎朝天気予報を見る。",
     ("毎朝", "天気予報", "天気", "予報", "を", "見る")),
    (76, "ms_sentence", "search", "週末に上野公園へ行く。",
     ("週末", "に", "上野公園", "上野", "公園", "へ", "行く")),
    # --- me_unigram_kata: no dict substring >=2 chars anywhere ------------
    (77, "me_unigram_kata", "extended", "ゾグマヌケを見た。",
     ("ゾ", "グ", "マ", "ヌ", "ケ", "を", "見", "た")),
    (78, "me_unigram_kata", "extended", "ヌォグペザの話をする。",
     ("ヌ", "ォ", "グ", "ペ", "ザ", "の", "話", "を", "する")),
    (79, "me_unigram_kata", "extended", "ゼペヌグモを買う。",
     ("ゼ", "ペ", "ヌ", "グ", "モ", "を", "買う")),
    (80, "me_unigram_kata", "extended", "ゼブラックを使う。",
     ("ゼ", "ブ", "ラ", "ッ", "ク", "を", "使う")),
    (81, "me_unigram_kata", "extended", "クヌギダケを食べる。",
     ("ク", "ヌ", "ギ", "ダ", "ケ", "を", "食べる")),
    (82, "me_unigram_kata", "extended", "ペゾグヌへ行く。",
     ("ペ", "ゾ", "グ", "ヌ", "へ", "行く")),
    # --- me_unigram_kanji ---------------------------------------------------
    (83, "me_unigram_kanji", "extended", "躑躅が咲く。",
     ("躑", "躅", "が", "咲く")),
    (84, "me_unigram_kanji", "extended", "朦朧の意味を調べる。",
     ("朦", "朧", "の", "意味", "を", "調べる")),
    (85, "me_unigram_kanji", "extended", "瑠璃を見る。",
     ("瑠", "璃", "を", "見る")),
    (86, "me_unigram_kanji", "extended", "檸檬を買う。",
     ("檸", "檬", "を", "買う")),
    # 馬 alone is a dictionary word, but the SURFACE sequence is unigrams
    # either way — the register scores surfaces, not POS.
    (87, "me_unigram_kanji", "extended", "驢馬に乗る。",
     ("驢", "馬", "に", "乗る")),
    # --- me_unigram_hira ----------------------------------------------------
    (88, "me_unigram_hira", "extended", "ぴょこぺにゃと言う。",
     ("ぴ", "ょ", "こ", "ぺ", "に", "ゃ", "と", "言う")),
    (89, "me_unigram_hira", "extended", "ぬぺょぐを買う。",
     ("ぬ", "ぺ", "ょ", "ぐ", "を", "買う")),
    (90, "me_unigram_hira", "extended", "にゃもぺぞを見る。",
     ("に", "ゃ", "も", "ぺ", "ぞ", "を", "見る")),
    # --- me_digits: ASCII digit/letter runs unigram in EXTENDED -----------
    (91, "me_digits", "extended", "123を見る。", ("1", "2", "3", "を", "見る")),
    (92, "me_digits", "extended", "ABCを読む。", ("A", "B", "C", "を", "読む")),
    (93, "me_digits", "extended", "456と789を見る。",
     ("4", "5", "6", "と", "7", "8", "9", "を", "見る")),
    # --- me_known_whole: dictionary words are never unigrammed ------------
    (94, "me_known_whole", "extended", "空港へ行く。", ("空港", "へ", "行く")),
    (95, "me_known_whole", "extended", "レストランで食べる。",
     ("レストラン", "で", "食べる")),
    (96, "me_known_whole", "extended", "ありがとうと言う。",
     ("ありがとう", "と", "言う")),
    (97, "me_known_whole", "extended", "家族と公園へ行く。",
     ("家族", "と", "公園", "へ", "行く")),
    (98, "me_known_whole", "extended", "インターネットを使う。",
     ("インターネット", "を", "使う")),
    # --- me_compound: SEARCH penalties apply in EXTENDED too --------------
    (99, "me_compound", "extended", "天気予報を見る。",
     ("天気予報", "天気", "予報", "を", "見る")),
    (100, "me_compound", "extended", "ブロックチェーンを学ぶ。",
     ("ブロックチェーン", "を", "学ぶ")),
    (101, "me_compound", "extended", "ガソリンスタンドで働く。",
     ("ガソリンスタンド", "ガソリン", "スタンド", "で", "働く")),
    (102, "me_compound", "extended", "内閣総理大臣の話をする。",
     ("内閣総理大臣", "内閣", "総理大臣", "総理", "大臣", "の", "話", "を",
      "する")),
    (103, "me_compound", "extended", "アプリケーションを使う。",
     ("アプリケーション", "を", "使う")),
    # --- me_sentence: unknown unigrams + compound synonyms composed -------
    (104, "me_sentence", "extended", "ゼブラックと機械学習を学ぶ。",
     ("ゼ", "ブ", "ラ", "ッ", "ク", "と", "機械学習", "機械", "学習", "を",
      "学ぶ")),
    (105, "me_sentence", "extended", "躑躅と檸檬を買う。",
     ("躑", "躅", "と", "檸", "檬", "を", "買う")),
    (106, "me_sentence", "extended", "ヌォグペザの天気予報を見る。",
     ("ヌ", "ォ", "グ", "ペ", "ザ", "の", "天気予報", "天気", "予報", "を",
      "見る")),
    (107, "me_sentence", "extended", "友達とゾグマヌケを見た。",
     ("友達", "と", "ゾ", "グ", "マ", "ヌ", "ケ", "を", "見", "た")),
    (108, "me_sentence", "extended", "クヌギダケをレストランで食べる。",
     ("ク", "ヌ", "ギ", "ダ", "ケ", "を", "レストラン", "で", "食べる")),
    # ------------------------------------------------------------------
    # Round-9 second mode tranche (sids 109-135, *2 registers) — the
    # phenomena the first 108 did not reach, derived from the same
    # documented arithmetic BEFORE measurement (BASELINE.md):
    # * ms2_k23_adjacent — a 5-kanji OOV span parsed 2+3 where the
    #   3-kanji dictionary word is penalized (+3100) but KEPT because no
    #   split beats it (世界+選手権: 選手+権 needs an unknown 1-char at
    #   5200); no synonym emits because no penalized entry covers the
    #   whole span.
    # * ms2_kanji5_nested — 電気自動車: the cheapest SEARCH path is the
    #   FULL split 電気|自動|車 (4500, since 車 is a dictionary 1-char
    #   at 1500, beating 電気+自動車's 1500+4600), and the per-position
    #   synonym scan then emits BOTH covering compounds: 電気自動車 at
    #   電気 and 自動車 at 自動 — the deepest nesting in the corpus.
    # * ms2_kanji_fused2 — more fused 3/4-kanji: missing 1-char tails
    #   (員/会/署/館/者/料 absent → unknown 5200) or missing heads
    #   (高等/軽 absent → unknown-2 6900 / unknown-1 5200).
    # * ms2_kata_fused2 — long katakana whose ONLY split partner is
    #   absent from the dictionary (インターナショナル, コンピューティング,
    #   ニューラル, タピオカ/ミルクティー, アセット) → unknown-run split
    #   costs 7500+, fused 3200 wins.
    # * ms2_double — two decompounding compounds in one sentence; each
    #   emits its own synonym independently.
    # * me2_ocr_unigram — OCR corruption × EXTENDED: the unknown
    #   fragments UNIGRAM (力|メ|ラ), unlike NORMAL/SEARCH's grouped
    #   runs (ho8_ocr pins 力|メラ) — the one place the two corpora
    #   deliberately pin DIFFERENT spans for the same text.
    # * me2_ascii_mix — ASCII letter runs unigram in EXTENDED while the
    #   adjacent katakana dictionary word stays whole.
    # --- ms2_k23_adjacent ---------------------------------------------
    (109, "ms2_k23_adjacent", "search", "世界選手権で優勝した。",
     ("世界", "選手権", "で", "優勝", "し", "た")),
    (110, "ms2_k23_adjacent", "search", "選手権大会の話をする。",
     ("選手権", "大会", "の", "話", "を", "する")),
    # --- ms2_kanji5_nested --------------------------------------------
    (111, "ms2_kanji5_nested", "search", "電気自動車を買う。",
     ("電気自動車", "電気", "自動車", "自動", "車", "を", "買う")),
    # --- ms2_kanji_fused2 ---------------------------------------------
    (112, "ms2_kanji_fused2", "search", "会社員と話をする。",
     ("会社員", "と", "話", "を", "する")),
    (113, "ms2_kanji_fused2", "search", "研究所で働く。",
     ("研究所", "で", "働く")),
    (114, "ms2_kanji_fused2", "search", "委員会の話をする。",
     ("委員会", "の", "話", "を", "する")),
    (115, "ms2_kanji_fused2", "search", "数学者と話をする。",
     ("数学者", "と", "話", "を", "する")),
    (116, "ms2_kanji_fused2", "search", "消防署へ行く。",
     ("消防署", "へ", "行く")),
    (117, "ms2_kanji_fused2", "search", "体育館で練習をする。",
     ("体育館", "で", "練習", "を", "する")),
    (118, "ms2_kanji_fused2", "search", "保険料を支払う。",
     ("保険料", "を", "支払う")),
    (119, "ms2_kanji_fused2", "search", "高等学校で学ぶ。",
     ("高等学校", "で", "学ぶ")),
    (120, "ms2_kanji_fused2", "search", "軽自動車に乗る。",
     ("軽自動車", "に", "乗る")),
    # --- ms2_kata_fused2 ----------------------------------------------
    (121, "ms2_kata_fused2", "search", "インターナショナルスクールへ行く。",
     ("インターナショナルスクール", "へ", "行く")),
    (122, "ms2_kata_fused2", "search", "クラウドコンピューティングを学ぶ。",
     ("クラウドコンピューティング", "を", "学ぶ")),
    (123, "ms2_kata_fused2", "search", "ニューラルネットワークを使う。",
     ("ニューラルネットワーク", "を", "使う")),
    (124, "ms2_kata_fused2", "search", "タピオカミルクティーを飲む。",
     ("タピオカミルクティー", "を", "飲む")),
    (125, "ms2_kata_fused2", "search", "アセットアロケーションの話をする。",
     ("アセットアロケーション", "の", "話", "を", "する")),
    # --- ms2_double ----------------------------------------------------
    (126, "ms2_double", "search", "機械学習と強化学習を学ぶ。",
     ("機械学習", "機械", "学習", "と", "強化学習", "強化", "学習", "を",
      "学ぶ")),
    (127, "ms2_double", "search", "東京大学と京都府立大学で学ぶ。",
     ("東京大学", "東京", "大学", "と", "京都府立大学", "京都", "府立",
      "大学", "で", "学ぶ")),
    (128, "ms2_double", "search", "天気予報と世論調査を見る。",
     ("天気予報", "天気", "予報", "と", "世論調査", "世論", "調査", "を",
      "見る")),
    # --- me2_ocr_unigram ----------------------------------------------
    (129, "me2_ocr_unigram", "extended", "力メラを買った。",
     ("力", "メ", "ラ", "を", "買っ", "た")),
    (130, "me2_ocr_unigram", "extended", "スマ一トフォンを使う。",
     ("ス", "マ", "一", "ト", "フ", "ォ", "ン", "を", "使う")),
    (131, "me2_ocr_unigram", "extended", "二ユースを見る。",
     ("二", "ユ", "ー", "ス", "を", "見る")),
    # --- me2_ascii_mix ------------------------------------------------
    (132, "me2_ascii_mix", "extended", "ABCゼミナールへ行く。",
     ("A", "B", "C", "ゼミナール", "へ", "行く")),
    (133, "me2_ascii_mix", "extended", "XYZミルクを飲む。",
     ("X", "Y", "Z", "ミルク", "を", "飲む")),
    (134, "me2_ascii_mix", "extended", "AIゼミの話をする。",
     ("A", "I", "ゼミ", "の", "話", "を", "する")),
    # --- me2_nested: the 5-kanji nesting holds in EXTENDED too --------
    (135, "me2_nested", "extended", "電気自動車を買う。",
     ("電気自動車", "電気", "自動車", "自動", "車", "を", "買う")),
    # ------------------------------------------------------------------
    # Round-9 third mode tranche (sids 136-143) — cross-axis coupling:
    # the rows THIS round's waves added or removed, pinned at the mode
    # level.  2-kanji rows (前記/部材/液晶) are never penalized; the
    # をもって 連語 row is a particle (4 chars, no length penalty) so it
    # behaves identically across modes; dialect dictionary words stay
    # whole in EXTENDED; 音声認識 decompounds identically in EXTENDED
    # (wave 419's parts are all dictionary rows); and 待たせた must
    # emit 待た|せ|た — wave 424 removed the potential-homograph row,
    # and this pin keeps it out at the raw-lattice level in every mode.
    (136, "ms3_new_rows", "search", "前記装置を使う。",
     ("前記", "装置", "を", "使う")),
    (137, "ms3_new_rows", "search", "部材を使う。",
     ("部材", "を", "使う")),
    (138, "ms3_new_rows", "search", "液晶を使う。",
     ("液晶", "を", "使う")),
    (139, "ms3_new_rows", "search", "署名をもって通知する。",
     ("署名", "をもって", "通知", "する")),
    (140, "ms3_new_rows", "search", "内閣総理大臣を待たせた。",
     ("内閣総理大臣", "内閣", "総理大臣", "総理", "大臣", "を", "待た",
      "せ", "た")),
    (141, "me3_new_rows", "extended", "音声認識を使う。",
     ("音声認識", "音声", "認識", "を", "使う")),
    (142, "me3_new_rows", "extended", "あかんで。", ("あかん", "で")),
    (143, "me3_new_rows", "extended", "おおきに。", ("おおきに",)),
    # Round-10 fourth mode tranche (sids 144-147) — the same cross-axis
    # coupling for THIS round's wave: 事務/用事 (wave 426, audit 153's
    # two probe-confirmed shreds) are 2-kanji dictionary rows, which are
    # never decompounded in any mode — pinned at the raw lattice in
    # SEARCH and EXTENDED so the new rows cannot silently regress the
    # mode surface.
    (144, "ms4_new_rows", "search", "事務の仕事を探す。",
     ("事務", "の", "仕事", "を", "探す")),
    (145, "ms4_new_rows", "search", "用事を済ませる。",
     ("用事", "を", "済ませる")),
    (146, "me4_new_rows", "extended", "事務を手伝う。",
     ("事務", "を", "手伝う")),
    (147, "me4_new_rows", "extended", "用事がある。",
     ("用事", "が", "ある")),
    # --- round-11 tranche 5 (ms5_*/me5_*): cross-axis pins on the
    # round-11 vocabulary, held-out before measurement.  Derivations use
    # only the documented penalty arithmetic (lattice.py:52-115 — kanji
    # surface len>2 pays 3100+1000*(n-3)) and the committed row costs:
    # 本契約 splits (本 1500 + 契約 1500 = 3000 < 1500+3100) with the
    # compound emitted as synonym first; 予防接種 likewise (3000 <
    # 1500+4100).  節税 has NO row (audit-156 gray zone): NORMAL groups
    # it as one unknown (3000+500·2 = 4000 beats 節 1500 + 税-unk 3000),
    # but EXTENDED's unigram path reads 節(dict 1500)+税(unk 3000) —
    # surfaces 節|税 either way, pinning the audit's unknown against the
    # unigram rule.
    (148, "ms5_round11", "search", "本契約を結んだ。",
     ("本契約", "本", "契約", "を", "結ん", "だ")),
    (149, "ms5_round11", "search", "予防接種の予定を確認した。",
     ("予防接種", "予防", "接種", "の", "予定", "を", "確認", "し",
      "た")),
    (150, "me5_round11", "extended", "節税の制度を使った。",
     ("節", "税", "の", "制度", "を", "使っ", "た")),
    # --- round-12 tranche 6 (ms6_punct/me6_punct): the lone-・ class on
    # the MODE axis (VERDICT r11 #1 done-criterion: a SEARCH decompound
    # across ・).  Derivation: discardPunctuation covers U+30FB (Po), so
    # ・ never surfaces in ANY mode; SEARCH synonym arithmetic is
    # unchanged by an adjacent ・ (予防接種 splits: 予防 1500 + 接種
    # 1500 = 3000 < 1500+4100, compound emitted first); EXTENDED's
    # unigram rule applies to unknown runs, and a discarded ・ is not an
    # unknown run.  Committed BEFORE the engine fix (pre-fix scores in
    # BASELINE.md).
    (151, "ms6_punct", "search", "野菜・果物を食べた。",
     ("野菜", "果物", "を", "食べ", "た")),
    (152, "ms6_punct", "search", "運動・予防接種を受けた。",
     ("運動", "予防接種", "予防", "接種", "を", "受け", "た")),
    (153, "me6_punct", "extended", "東京・大阪に行った。",
     ("東京", "大阪", "に", "行っ", "た")),
)


# --- hygiene: expectations must be a well-formed emission -------------------

_PUNCT = "。、！？「」（）・　 "


def validate_emission(text: str, surfaces: tuple[str, ...]) -> list[tuple[int, int]]:
    """Backtracking span assignment proving the expected sequence is a
    well-formed emission: starts non-decreasing, every surface matches the
    text at its span, the maximal (non-nested) spans tile the non-punct
    text, and nested spans exactly tile their container (compound →
    parts).  A typo in an expected token fails HERE, loudly, not silently
    in the metric — the mode-corpus analog of parity_harness.surface_spans."""

    n = len(text)

    def is_covered(spans: list[tuple[int, int]]) -> bool:
        maximal: list[tuple[int, int]] = []
        for s in spans:
            if any(o != s and o[0] <= s[0] and s[1] <= o[1] for o in spans):
                continue
            maximal.append(s)
        cursor = 0
        for a, b in maximal:
            while cursor < n and text[cursor] in _PUNCT:
                cursor += 1
            if a != cursor:
                return False
            cursor = b
        while cursor < n and text[cursor] in _PUNCT:
            cursor += 1
        if cursor != n:
            return False
        # nested groups exactly tile their container (top nesting tier
        # only — a doubly-nested compound re-checks at its own level)
        for s in spans:
            inner = [o for o in spans if o != s and s[0] <= o[0] and o[1] <= s[1]]
            if not inner:
                continue
            pos = s[0]
            tier = [o for o in inner
                    if not any(p != o and p[0] <= o[0] and o[1] <= p[1] for p in inner)]
            for a, b in sorted(tier):
                if a != pos:
                    return False
                pos = b
            if pos != s[1]:
                return False
        return True

    def backtrack(i: int, min_start: int, spans: list[tuple[int, int]]):
        if i == len(surfaces):
            return list(spans) if is_covered(spans) else None
        s = surfaces[i]
        start = text.find(s, min_start)
        while start != -1:
            spans.append((start, start + len(s)))
            got = backtrack(i + 1, start, spans)
            if got is not None:
                return got
            spans.pop()
            start = text.find(s, start + 1)
        return None

    got = backtrack(0, 0, [])
    if got is None:
        raise ValueError(f"expected surfaces are not a well-formed emission: {text!r} {surfaces!r}")
    return got


# CI floor (tests/test_parity.py): exact-match accuracy over the held-out
# mode corpus.  Saturated at 1.0 after the wave-419 adjudication; a
# dictionary/matrix/lattice change that regresses ANY sentence fails the
# floor until adjudicated (engine fix or documented expectation
# correction appended to BASELINE.md).
T25_ACC_FLOOR = 1.0

# RECORDED aggregates — the t25 oracle constants, same recapture protocol
# as T22_EXPECTED (parity.py): regenerate with
# ``python -m hive_udf_neologd_spark.tokenizer.parity_harness t25`` after
# any dictionary/matrix/lattice change and paste here; tests/test_parity.py's
# mode-parity gate asserts compute_expected("t25") == T25_EXPECTED so a
# re-segmentation can never silently desynchronize the oracle.  Recorded
# round 9 at 143 sentences / 27 registers (third tranche — the round's
# new/removed rows pinned across modes — measured 8/8 clean pre-fix): the second mode tranche
# (sids 109-135) measured ZERO pre-fix mismatches — 27/27 first-try,
# the mode axis's saturation signal; the first 108 scored pre-fix
# 0.990741 (1 mismatch, the 音声 dictionary gap, wave 419 —
# BASELINE.md).
T25_EXPECTED: dict[str, tuple[int, int, int, int]] = {
    '__total__': (153, 153, 811, 811),
    'me2_ascii_mix': (3, 3, 19, 19),
    'me2_nested': (1, 1, 7, 7),
    'me2_ocr_unigram': (3, 3, 21, 21),
    'me3_new_rows': (3, 3, 8, 8),
    'me4_new_rows': (2, 2, 6, 6),
    'me5_round11': (1, 1, 7, 7),
    'me6_punct': (1, 1, 5, 5),
    'me_compound': (5, 5, 25, 25),
    'me_digits': (3, 3, 19, 19),
    'me_known_whole': (5, 5, 17, 17),
    'me_sentence': (5, 5, 48, 48),
    'me_unigram_hira': (3, 3, 21, 21),
    'me_unigram_kanji': (5, 5, 22, 22),
    'me_unigram_kata': (6, 6, 44, 44),
    'ms2_double': (3, 3, 28, 28),
    'ms2_k23_adjacent': (2, 2, 12, 12),
    'ms2_kanji5_nested': (1, 1, 7, 7),
    'ms2_kanji_fused2': (9, 9, 35, 35),
    'ms2_kata_fused2': (5, 5, 17, 17),
    'ms3_new_rows': (5, 5, 23, 23),
    'ms4_new_rows': (2, 2, 8, 8),
    'ms5_round11': (2, 2, 15, 15),
    'ms6_punct': (2, 2, 12, 12),
    'ms_2kanji_control': (4, 4, 13, 13),
    'ms_kanji4_split': (18, 18, 101, 101),
    'ms_kanji6_split': (8, 8, 51, 51),
    'ms_kanji_fused': (12, 12, 45, 45),
    'ms_kata_fused': (9, 9, 33, 33),
    'ms_kata_split': (12, 12, 62, 62),
    'ms_mixed_nopenalty': (3, 3, 11, 11),
    'ms_nested': (2, 2, 17, 17),
    'ms_sentence': (6, 6, 40, 40),
    'ms_suffix_split': (2, 2, 12, 12),
}

