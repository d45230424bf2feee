"""hive_udf_neologd_spark — a PySpark-native analytics engine with the
capabilities of treasure-data/hive-udf-neologd.

The reference (`/root/reference`, v0.1.1-20200827) is a single Hive scalar
UDF — ``tokenize_ja_neologd`` — performing Japanese morphological
tokenization (Lucene Kuromoji rebuilt against the NEologd dictionary), with
all relational processing delegated to the host engine (Hive).  This package
re-expresses that capability Spark-first:

* ``functions.tokenize`` — the tokenizer UDF factory with the reference's
  exact argument/null/error semantics (KuromojiNEologdUDF.java:85-169).
* ``tokenizer`` — a pure-Python lattice/Viterbi morphological engine with a
  pinned built-in NEologd-style lexicon (replaces the Lucene analyzer chain,
  KuromojiNEologdUDF.java:141 + build.sh).
* ``operators`` — the relational surface the reference delegates to Hive
  (SURVEY.md §2.3) plus large-scale training-data pipeline operators
  (dedup, similarity search, text analysis).
* ``streaming`` — Structured Streaming term-count pipelines (extension).
"""

from hive_udf_neologd_spark.version import ENGINE_VERSION, REFERENCE_VERSION, VERSION

__version__ = ENGINE_VERSION

# The UDF factories import pyspark and pyarrow, so they load on first
# access: importing the tokenizer alone stays Spark-free.
_UDF_EXPORTS = ("tokenize_ja", "tokenize_ja_version", "register_udfs")


def __getattr__(name: str):
    if name in _UDF_EXPORTS:
        from hive_udf_neologd_spark.functions import tokenize

        return getattr(tokenize, name)
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")


__all__ = ["ENGINE_VERSION", "REFERENCE_VERSION", "VERSION", *_UDF_EXPORTS]
