"""Single source of truth for the pinned t08/t17 tokenizer goldens.

t08 and t17 are driver-hash-gated through constant VALUES oracles (DuckDB
cannot tokenize Japanese, but it can replay the constants).  Before this
module the same token sequences lived twice — inline in
``operators/textops.py``'s SQL strings and again in
``tests/test_tokenizer.py`` — so a single-sided edit could desynchronize
them and the drift would only surface when the *other* side's check ran
(judge ADVICE r4).  Now both the VALUES SQL (built by
:func:`t08_values_sql` / :func:`t17_values_sql`) and the pytest
assertions derive from the constants below; editing one side without the
other is impossible by construction.

Recapture protocol (unchanged, see memory + SURVEY §5): when a dictionary
or lattice change legitimately re-segments these sentences, re-run the
queries, paste the new outputs HERE (only here), and re-run
``pytest tests/test_tokenizer.py tests/test_oracles_full.py``.
"""

from __future__ import annotations

# --- t08: mode matrix ------------------------------------------------------
T08_SENTENCES = (
    (1, "関西国際空港へ行った。"),
    (2, "きゃりーぱみゅぱみゅの新曲を聴く。"),
    (3, "日本経済新聞を読む。"),
)

T08_USER_DICT = [
    "日本経済新聞,日本 経済 新聞,ニホン ケイザイ シンブン,カスタム名詞"
]

# {(sentence_id, config): exact token sequence}.  ``config`` names the
# four construction-time analyzer configs t08 runs (SURVEY.md §2.1 O3/O6).
# SEARCH/EXTENDED include the full compound token BEFORE its decompounded
# parts — Lucene 5.5.5's Mode.SEARCH emits the compound "as a synonym"
# and the reference drains every term (decision pinned round 5; see
# lattice.py segment() for the interpretation and rationale).
T08_TOKENS: dict[tuple[int, str], tuple[str, ...]] = {
    (1, "normal"): ("関西国際空港", "行く"),
    (1, "search"): ("関西国際空港", "関西", "国際", "空港", "行く"),
    (1, "extended"): ("関西国際空港", "関西", "国際", "空港", "行く"),
    (1, "normal+userdict"): ("関西国際空港", "行く"),
    (2, "normal"): ("きゃりーぱみゅぱみゅ", "新曲", "聴く"),
    (2, "search"): ("きゃりーぱみゅぱみゅ", "新曲", "聴く"),
    # (2, extended) recaptured at wave 346: 新曲 became a dictionary word
    # (it is a real IPADIC entry), so EXTENDED no longer unigram-splits it
    # — EXTENDED only 1-grams UNKNOWN runs, matching Kuromoji.
    (2, "extended"): ("きゃりーぱみゅぱみゅ", "新曲", "聴く"),
    (2, "normal+userdict"): ("きゃりーぱみゅぱみゅ", "新曲", "聴く"),
    (3, "normal"): ("日本経済新聞", "読む"),
    (3, "search"): ("日本経済新聞", "日本", "経済", "新聞", "読む"),
    (3, "extended"): ("日本経済新聞", "日本", "経済", "新聞", "読む"),
    (3, "normal+userdict"): ("日本", "経済", "新聞", "読む"),
}


def t08_values_sql() -> str:
    rows = []
    for (sid, config), toks in sorted(T08_TOKENS.items()):
        rows.append(
            f"  (CAST({sid} AS BIGINT), '{config}', "
            f"'{'|'.join(toks)}', CAST({len(toks)} AS INTEGER))"
        )
    return (
        "SELECT * FROM (VALUES\n"
        + ",\n".join(rows)
        + "\n) AS t(sentence_id, config, tokens_str, n_tokens)\n"
        "ORDER BY sentence_id, config\n"
    )


# --- t17: rich per-token analysis ------------------------------------------
T17_SENTENCES = (
    (1, "関西国際空港へ行った。"),
    (2, "美術館で絵画を眺めた。"),
    # Round 7: kana-heavy sentence exercising the new reading surface
    # (VERDICT r6 next-round #6) — kana surfaces carry exact katakana
    # readings; kanji surfaces stay NULL (partial by design, never
    # fabricated).
    (3, "きゃりーぱみゅぱみゅがテレビでうたう。"),
)

# Rows of (sentence_id, pos_idx, term, surface, pos, base_form, reading,
# is_unknown) in output order — base_form None ⇔ the analyzer reports no
# base form (non-conjugating token); reading None ⇔ no authored/derivable
# katakana reading.  Recaptured round 10: the authored reading tier
# (tokenizer/readings.py, gated by the reading-parity axis) moved the
# kanji surfaces of authored lemmas off NULL — 行っ derives イッ from
# 行く → イク; 関西国際空港 stays None (unauthored built-in proper noun,
# the documented fabrication ban).
T17_ROWS: tuple[tuple, ...] = (
    (1, 0, "関西国際空港", "関西国際空港", "名詞-固有名詞-組織", None, None, 0),
    (1, 1, "行く", "行っ", "動詞-自立", "行く", "イッ", 0),
    (2, 0, "美術館", "美術館", "名詞-一般", None, "ビジュツカン", 0),
    (2, 1, "絵画", "絵画", "名詞-一般", None, "カイガ", 0),
    (2, 2, "眺める", "眺め", "動詞-自立", "眺める", "ナガメ", 0),
    (3, 0, "きゃりーぱみゅぱみゅ", "きゃりーぱみゅぱみゅ",
     "名詞-固有名詞-人名-一般", None, "キャリーパミュパミュ", 0),
    (3, 1, "テレビ", "テレビ", "名詞-一般", None, "テレビ", 0),
    (3, 2, "うたう", "うたう", "動詞-自立", None, "ウタウ", 0),
)


# --- t18: Japanese tokenizer-throughput corpus -----------------------------
# Eight pinned Japanese texts; every document in the sf corpus is mapped to
# one by doc_id % 8 and run through the FULL lattice (Japanese text disables
# the ASCII fast path), making t18 a dictionary-scale throughput gate: the
# bench row times it, the oracle below replays the pinned token sequences.
# The texts deliberately exercise the generated MeCab snapshot (round-5
# vocabulary tiers) plus unknown-word heuristics.
T18_POOL = (
    "新幹線は東京駅を出発し、名古屋駅を経由して新大阪へ向かった。"
    "車内では珈琲を飲みながら雑誌を読み、窓の外の風景を眺めた。",
    "昨日の会議では新しい計画の変更点について検討を続け、資料を修正した。"
    "担当者は来週までに報告書を提出する予定だと説明した。",
    "駅前の商店街には観光客が集まり、土産物や特産品が売られている。"
    "祭りの夜には花火が上がり、屋台の焼きそばが人気だった。",
    "研究者は実験の結果を分析し、新しい仮説を検証するための手法を提案した。"
    "測定の精度を高めるには装置の改良が必要になる。",
    "美術館で絵画を眺めた後、公園を散歩しながら写真を撮った。"
    "夕方には雨が降り始めたので、急いで駅へ戻った。",
    "企業の経営者は市場の動向を分析し、投資の戦略を慎重に決定した。"
    "円安の影響で輸出が伸び、売上高は大幅に増加した。",
    "子供たちは図書室で本を借り、宿題を済ませてから校庭で遊んだ。"
    "放課後の教室では合唱の練習が行われていた。",
    "台風の接近に伴い、気象庁は大雨への警戒を呼び掛けた。"
    "避難所の場所を確認し、非常食や懐中電灯を準備してほしい。",
)

# pid → exact NORMAL-mode token sequence for T18_POOL[pid] under the pinned
# dictionary (captured by running the analyzer; recapture protocol as for
# T08 — regenerate the snapshot, rerun, paste here).
T18_TOKENS: dict[int, tuple[str, ...]] = {
    0: ('新幹線', '東京駅', '出発', '名古屋駅', '経由', '新大阪', '向かう', '車内', '珈琲', '飲む', '雑誌', '読む', '窓', '外', '風景', '眺める'),
    1: ('昨日', '会議', '新しい', '計画', '変更', '点', '検討', '続ける', '資料', '修正', '担当者', '来週', '報告書', '提出', '予定', '説明'),
    2: ('駅前', '商店街', '観光客', '集まり', '土産物', '特産品', '売る', '祭り', '夜', '花火', '上がる', '屋台', '焼きそば', '人気'),  # 集まり: wave-325 deverbal noun ties the 連用中止 verb reading (surface identical, lemma-only change); 祭り recaptured at wave 349 — the deverbal cost-parity pass makes 祭りの pick the noun row (matches IPADIC); 駅前 recaptured at wave 357 — the core-noun presence scan shipped it whole (IPADIC has 駅前 名詞)
    3: ('研究者', '実験', '結果', '分析', '新しい', '仮説', '検証', '手法', '提案', '測定', '精度', '高める', '装置', '改良', '必要'),
    # Recaptured (wave 130): 降り始める entered the snapshot as a compound
    # verb lemma, so 降り始めた now resolves to its own base form instead
    # of the two-lemma split 降りる+始める — the NEologd-style longest
    # match this corpus exists to exercise.
    4: ('美術館', '絵画', '眺める', '後', '公園', '散歩', '写真', '撮る', '夕方', '雨', '降り始める', '急ぐ', '駅', '戻る'),
    5: ('企業', '経営者', '市場', '動向', '分析', '投資', '戦略', '慎重', '決定', '円安', '影響', '輸出', '伸びる', '売上高', '大幅', '増加'),
    6: ('子供', '図書室', '本', '借りる', '宿題', '済ませる', '校庭', '遊ぶ', '放課後', '教室', '合唱', '練習', '行う'),
    7: ('台風', '接近', '伴う', '気象庁', '大雨', '警戒', '呼び掛ける', '避難所', '場所', '確認', '非常食', '懐中電灯', '準備', 'ほしい'),
}


# pid → exact SEARCH-mode sequence for T18_POOL[pid] (t23, VERDICT r6
# next-round #5: the compound-as-synonym emission path had no throughput
# gate — t18 runs NORMAL).  SEARCH additionally emits each long compound
# before its decompounded parts (東京駅 → 東京駅|東京|駅); recapture
# protocol as for T18.
T23_TOKENS: dict[int, tuple[str, ...]] = {
    0: ('新幹線', '東京駅', '東京', '駅', '出発', '名古屋駅', '経由', '新大阪', '向かう', '車内', '珈琲', '飲む', '雑誌', '読む', '窓', '外', '風景', '眺める'),
    1: ('昨日', '会議', '新しい', '計画', '変更', '点', '検討', '続ける', '資料', '修正', '担当者', '来週', '報告書', '提出', '予定', '説明'),
    2: ('駅前', '商店街', '観光客', '集まり', '土産物', '土産', '物', '特産品', '売る', '祭り', '夜', '花火', '上がる', '屋台', '焼きそば', '人気'),
    3: ('研究者', '実験', '結果', '分析', '新しい', '仮説', '検証', '手法', '提案', '測定', '精度', '高める', '装置', '改良', '必要'),
    4: ('美術館', '絵画', '眺める', '後', '公園', '散歩', '写真', '撮る', '夕方', '雨', '降り始める', '急ぐ', '駅', '戻る'),
    5: ('企業', '経営者', '市場', '動向', '分析', '投資', '戦略', '慎重', '決定', '円安', '影響', '輸出', '伸びる', '売上高', '大幅', '増加'),
    6: ('子供', '図書室', '図書', '室', '本', '借りる', '宿題', '済ませる', '校庭', '遊ぶ', '放課後', '教室', '合唱', '練習', '行う'),  # 図書室 decompounds once 室 ships (audit-135 counter tier) — exactly Lucene's SEARCH semantics: parts emit only when part rows exist
    7: ('台風', '接近', '伴う', '気象庁', '大雨', '警戒', '呼び掛ける', '避難所', '場所', '確認', '非常食', '懐中電灯', '準備', 'ほしい'),
}


# pid → exact EXTENDED-mode sequence for T18_POOL[pid] (t24): EXTENDED
# lowers the decompound thresholds further and 1-grams unknown runs —
# the third and last tokenization mode, so every mode now carries a
# throughput gate.  (避難所's parts surface as 避+難所 here: the engine's
# EXTENDED path picks the cheapest sub-path under the lowered penalties
# and 難所 is itself a dictionary word — pinned engine behavior; the
# reference never pins EXTENDED output beyond its unigram rule.)
T24_TOKENS: dict[int, tuple[str, ...]] = {
    0: ('新幹線', '東京駅', '東京', '駅', '出発', '名古屋駅', '経由', '新大阪', '新', '大阪', '向かう', '車内', '珈琲', '飲む', '雑誌', '読む', '窓', '外', '風景', '眺める'),
    1: ('昨日', '会議', '新しい', '計画', '変更', '点', '検討', '続ける', '資料', '修正', '担当者', '担当', '者', '来週', '報告書', '報告', '書', '提出', '予定', '説明'),
    2: ('駅前', '商店街', '商店', '街', '観光客', '観光', '客', '集まり', '土産物', '土産', '物', '特産品', '売る', '祭り', '夜', '花火', '上がる', '屋台', '焼きそば', '人気'),
    3: ('研究者', '研究', '者', '実験', '結果', '分析', '新しい', '仮説', '検証', '手法', '提案', '測定', '精度', '高める', '装置', '改良', '必要'),
    4: ('美術館', '美術', '館', '絵画', '眺める', '後', '公園', '散歩', '写真', '撮る', '夕方', '雨', '降り始める', '急ぐ', '駅', '戻る'),
    5: ('企業', '経営者', '経営', '者', '市場', '動向', '分析', '投資', '戦略', '慎重', '決定', '円安', '影響', '輸出', '伸びる', '売上高', '売上', '高', '大幅', '増加'),
    6: ('子供', '図書室', '図書', '室', '本', '借りる', '宿題', '済ませる', '校庭', '遊ぶ', '放課後', '教室', '合唱', '練習', '行う'),
    7: ('台風', '接近', '伴う', '気象庁', '気象', '庁', '大雨', '警戒', '呼び掛ける', '避難所', '避', '難所', '場所', '確認', '非常食', '非常', '食', '懐中電灯', '準備', 'ほしい'),
}


MODE_TOKENS = {"normal": T18_TOKENS, "search": T23_TOKENS, "extended": T24_TOKENS}


def values_rows(tokens: dict[int, tuple[str, ...]]) -> str:
    """VALUES rows (pid, tokens_str, n_tokens_per_doc) of one mode's pool
    goldens, for the t18/t23/t24 oracles."""
    rows = []
    for pid in range(len(T18_POOL)):
        toks = tokens[pid]
        rows.append(
            f"  (CAST({pid} AS BIGINT), '{'|'.join(toks)}', "
            f"CAST({len(toks)} AS INTEGER))"
        )
    return ",\n".join(rows)


def t17_values_sql() -> str:
    lines = []
    for sid, idx, term, surface, pos, base, reading, unk in T17_ROWS:
        b = "CAST(NULL AS VARCHAR)" if base is None else f"'{base}'"
        r = "CAST(NULL AS VARCHAR)" if reading is None else f"'{reading}'"
        lines.append(
            f"  (CAST({sid} AS BIGINT), {idx}, '{term}', '{surface}', "
            f"'{pos}', {b}, {r}, {unk})"
        )
    return (
        "SELECT * FROM (VALUES\n"
        + ",\n".join(lines)
        + "\n) AS t(sentence_id, pos_idx, term, surface, pos, base_form, "
        "reading, is_unknown)\n"
        "ORDER BY sentence_id, pos_idx\n"
    )


# --- t21: connection-matrix goldens -----------------------------------------
# The r5 pinned negative result flipped by the coarse connection-cost
# matrix (tokenizer/connection.py, round 6): hiragana カ変 fused forms
# きた/きます segment as 来た/来ます (base くる) while でき+た keeps
# winning inside できた/できます, and the 連用形→助動詞 reward must not
# re-analyze lexicalized compounds (済ませて).  Same recapture protocol
# as T08/T18.
T21_SENTENCES = (
    (1, "バスがきた。"),
    (2, "電車がきます。"),
    (3, "新しい橋ができた。"),
    (4, "準備ができます。"),
    (5, "宿題を済ませてから遊んだ。"),
    (6, "友達が遊びにきた。"),
)

T21_TOKENS: dict[int, tuple[str, ...]] = {
    1: ("バス", "くる"),
    2: ("電車", "くる"),
    # できた/できます reduce through でき (stop word) + aux (POS-stopped)
    # — the pre-matrix output, proving で+きた did NOT win.
    3: ("新しい", "橋"),
    4: ("準備",),
    5: ("宿題", "済ませる", "遊ぶ"),
    6: ("友達", "遊ぶ", "くる"),
}


def t21_values_sql() -> str:
    rows = []
    for sid, _text in T21_SENTENCES:
        toks = T21_TOKENS[sid]
        rows.append(
            f"  (CAST({sid} AS BIGINT), '{'|'.join(toks)}', "
            f"CAST({len(toks)} AS INTEGER))"
        )
    return (
        "SELECT * FROM (VALUES\n"
        + ",\n".join(rows)
        + "\n) AS t(sentence_id, tokens_str, n_tokens)\n"
        "ORDER BY sentence_id\n"
    )


# pid → (n_tokens, n_nouns, n_base, n_reading) over the FULL analyzer
# chain's rich output for T18_POOL[pid] (t26, round 9): n_nouns counts
# pos startswith 名詞, n_base counts non-null base_form (tokens the
# BaseFormFilter re-lemmatized), n_reading counts non-null katakana
# readings (kana surfaces only — kanji stay NULL by design, the t17
# partial-readings contract).  Recapture protocol as for T18.
T26_STATS: dict[int, tuple[int, int, int, int]] = {
    # Recaptured round 10 (authored reading tier): token/noun/base counts
    # unchanged vs round 9 — the reading column is the only mover
    # (n_reading 0-1 → 9-14 per doc), i.e. the tier landed without
    # touching segmentation.
    # Recaptured round 11 (reading tranches 5+6): token/noun/base counts
    # again unchanged — only n_reading moved (+1..+2 per doc: the
    # frequency-targeted everyday lemmas 電車/仕事/問題/水/朝-class
    # appear in the pool sentences).
    0: (16, 12, 4, 14),
    1: (16, 14, 2, 13),
    2: (14, 12, 2, 13),
    3: (15, 13, 1, 14),
    4: (14, 9, 5, 11),
    5: (16, 15, 1, 15),
    # pids 6-7: +1 reading each at reading tranche 2; pid 7 +1 more at
    # tranche 3 (呼び掛ける) and +1 at tranche 4 (台風).
    6: (13, 9, 4, 12),
    7: (14, 11, 2, 13),
}


def t26_values_rows() -> str:
    rows = []
    for pid in range(len(T18_POOL)):
        n, nn, nb, nr = T26_STATS[pid]
        rows.append(
            f"  (CAST({pid} AS BIGINT), CAST({n} AS INTEGER), "
            f"CAST({nn} AS INTEGER), CAST({nb} AS INTEGER), "
            f"CAST({nr} AS INTEGER))"
        )
    return ",\n".join(rows)
