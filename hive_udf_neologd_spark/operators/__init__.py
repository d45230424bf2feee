"""Operators: the relational surface the reference delegates to Hive
(SURVEY.md §2.3) and the large-scale training-data pipeline tier
(dedup / similarity / text analysis)."""
