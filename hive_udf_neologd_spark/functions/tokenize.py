"""``tokenize_ja`` — the reference UDF, Spark-first.

Parity surface (SURVEY.md §2.1):

* O1  — ``tokenize_ja()(col)``: string → array<string> tokens.
* O2  — ``tokenize_ja_version()``: 0-arg version introspection.
* O3  — mode const validation at construction (fail-at-plan-time, like the
        reference's ``initialize`` — KuromojiNEologdUDF.java:85-117).
* O4/O5 — stop-word / stop-tag tri-states.
* O6/O7 — user dictionary: inline CSV rows or URL (driver-side fetch with
        the reference's caps; SURVEY.md §2.1 O7).
* O9  — null line → null array (not empty).
* O10 — per-worker lazy analyzer singleton keyed by config (the Spark
        analog of the transient per-task cache, KuromojiNEologdUDF.java:82-83,
        131-142); iterator-form pandas UDF so init is paid once per batch
        stream, with Arrow columnar transfer (SURVEY.md §1.3).
* O11 — deterministic (Spark default; never ``.asNondeterministic()``).

Config is resolved on the driver and shipped as a pickled closure; the
analyzer itself is never pickled (lazy worker-side build — the reference's
Kryo-transient trick, SURVEY.md §3 step 3).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, StringType

from hive_udf_neologd_spark.tokenizer.analyzer import JapaneseAnalyzer, Mode
from hive_udf_neologd_spark.tokenizer.dictionary import (
    UserDictionary,
    fetch_user_dict_url,
)
from hive_udf_neologd_spark.version import VERSION

# Per-worker analyzer cache, keyed by frozen config (O10).
_ENGINES: dict[tuple, JapaneseAnalyzer] = {}


def _get_engine(key: tuple) -> JapaneseAnalyzer:
    eng = _ENGINES.get(key)
    if eng is None:
        mode, stop_words, stop_tags, user_rows = key
        eng = JapaneseAnalyzer(
            mode=mode,
            stop_words=list(stop_words) if stop_words is not None else None,
            stop_tags=list(stop_tags) if stop_tags is not None else None,
            user_dict_rows=list(user_rows) if user_rows is not None else None,
        )
        _ENGINES[key] = eng
    return eng


def _resolve_user_dict(user_dict) -> tuple | None:
    """Type-dispatch like the reference (KuromojiNEologdUDF.java:102-111,
    135-139): list of CSV rows, or URL string, or None; anything else is a
    construction-time error."""
    if user_dict is None:
        return None
    if isinstance(user_dict, str):
        return tuple(fetch_user_dict_url(user_dict))
    if isinstance(user_dict, (list, tuple)):
        for row in user_dict:
            if row is not None and not isinstance(row, str):
                raise TypeError(
                    f"user_dict rows must be strings, got {type(row).__name__}"
                )
        return tuple(r for r in user_dict if r is not None)
    raise TypeError(
        "user_dict must be a list of CSV rows or a URL string, got "
        f"{type(user_dict).__name__}"
    )


def _config_key(mode=None, stop_words=None, stop_tags=None, user_dict=None) -> tuple:
    """Resolve and validate a tokenizer config on the driver, before any
    Spark job runs — the reference's fail-at-plan-time ``initialize``
    (SURVEY.md §3) — into the frozen per-worker engine-cache key (O10).
    Raises ``ValueError`` on a bad mode (O3), ``TypeError`` on a bad
    user_dict type, and ``UserDictionaryError`` on URL/CSV failures
    (O6/O7)."""
    parsed_mode = Mode.parse(mode)
    frozen_user = _resolve_user_dict(user_dict)
    if frozen_user is not None:
        UserDictionary.from_rows(list(frozen_user))
    return (
        parsed_mode.value,
        tuple(stop_words) if stop_words is not None else None,
        tuple(stop_tags) if stop_tags is not None else None,
        frozen_user,
    )


def tokenize_ja(
    mode: str | None = None,
    stop_words: list[str] | None = None,
    stop_tags: list[str] | None = None,
    user_dict: list[str] | str | None = None,
):
    """Build the tokenizer pandas UDF.

    All config validation happens here, before any Spark job runs (see
    ``_config_key``): ``ValueError`` on a bad mode (the analog of
    ``UDFArgumentException``), ``TypeError`` on a bad user_dict type, and
    ``UserDictionaryError`` on URL/CSV failures.
    """
    key = _config_key(mode, stop_words, stop_tags, user_dict)

    @pandas_udf(ArrayType(StringType()))
    def _tokenize(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        engine = _get_engine(key)
        tok = engine.tokenize
        for series in batches:
            yield series.map(lambda s: tok(s) if isinstance(s, str) else None)

    return _tokenize


def tokenize_ja_rich(
    mode: str | None = None,
    stop_words: list[str] | None = None,
    stop_tags: list[str] | None = None,
    user_dict: list[str] | str | None = None,
):
    """EXTENSION beyond parity: per-token structs
    ``array<struct<term,surface,pos,base_form,unknown>>``.

    The reference discards everything but the term text
    (KuromojiNEologdUDF.java:309-314; SURVEY.md §1.1 subtlety), so this is
    deliberately a SEPARATE factory — ``tokenize_ja`` stays exactly
    ``array<string>``.  Same config semantics, same per-worker engine cache
    (the cache key is shared with the plain UDF, so mixing both in one
    pipeline builds one engine)."""
    from pyspark.sql.types import BooleanType, StructField, StructType

    key = _config_key(mode, stop_words, stop_tags, user_dict)
    schema = ArrayType(
        StructType(
            [
                StructField("term", StringType()),
                StructField("surface", StringType()),
                StructField("pos", StringType()),
                StructField("base_form", StringType()),
                StructField("reading", StringType()),
                StructField("unknown", BooleanType()),
            ]
        )
    )

    @pandas_udf(schema)
    def _tokenize_rich(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        engine = _get_engine(key)
        rich = engine.analyze_rich
        for series in batches:
            yield series.map(lambda s: rich(s) if isinstance(s, str) else None)

    return _tokenize_rich


def tokenize_ja_version() -> list[str]:
    """O2 — the 0-arg call: returns a 1-element list with the version
    string (KuromojiNEologdUDF.java:121-129)."""
    return [VERSION]


class _VersionSentinel:
    """Marks the ABSENT argument of the SQL-facing tokenizer UDF.

    The reference overloads one Hive UDF name by arity
    (KuromojiNEologdUDF.java:121-129): ``tokenize_ja_neologd()`` returns
    the version, ``tokenize_ja_neologd(line)`` tokenizes.  Spark 4 allows
    a registered Python UDF to be called with fewer arguments than its
    signature when the Python function has parameter defaults — so the
    default is this sentinel type: a 0-arg SQL call dispatches to the
    version, while every real argument (including explicit NULL, which
    must propagate per O9) arrives as str/None and dispatches to the
    tokenizer.  ``isinstance`` (not ``is``) so the check survives any
    pickling topology between driver and workers.
    """


_ABSENT = _VersionSentinel()


def register_udfs(spark: SparkSession) -> None:
    """SQL registration — the analog of ``create temporary function
    tokenize_ja_neologd`` (README.md:25).

    Registers ``tokenize_ja_neologd`` and the ``tokenize_ja`` alias as
    Arrow-optimized Python UDFs whose parameter default restores the
    reference's same-name arity overload: the verbatim install smoke test
    ``SELECT tokenize_ja_neologd()`` works, and the 1-arg call tokenizes
    (ArrowEvalPython in the plan, valid inside LATERAL VIEW / Generate —
    a SQL-scalar-function wrapper was rejected because Spark forbids SQL
    UDFs under Generate).  The 0-arg return type is FULL parity: the
    reference also returns a 1-element array<string> — it wraps the
    version in ``Collections.singletonList(new Text(...))`` under a list
    ObjectInspector (KuromojiNEologdUDF.java:115-116,128) and its README
    shows ``["{VERSION}-{NEOLOGD_VERSION_DATE}"]`` (reference
    README.md:27).  ``tokenize_ja_neologd_version()`` stays as the
    explicit version call.

    The SQL name is a row-dispatch Arrow UDF (per-row Python call over
    Arrow batches); the DataFrame-API factory ``tokenize_ja()`` remains
    the iterator-form pandas UDF — the faster shape for heavy pipelines.

    Per-config UDFs (custom mode/stop lists/user dict) are registered by
    the caller: ``spark.udf.register(name, tokenize_ja(mode=...))`` — config
    args are construction-time constants, mirroring the reference's
    const-argument requirement (SURVEY.md §1.2).
    """
    from pyspark.sql.functions import udf

    # Same frozen default config (and worker-side engine cache key) as
    # tokenize_ja() with no arguments.
    key = _config_key()

    # One-slot worker-side cache so the hot path is a single bound-method
    # call: list-cell (not a dict lookup + tuple hash per row).  The cell
    # deserializes empty on each worker; _get_engine still dedupes the
    # analyzer build across UDF instances (O10).
    _cell: list = []

    def _dispatch(line=_ABSENT):
        if isinstance(line, _VersionSentinel):
            return tokenize_ja_version()
        if not isinstance(line, str):
            return None  # O9: NULL → NULL
        if not _cell:
            _cell.append(_get_engine(key).tokenize)
        return _cell[0](line)

    overloaded = udf(_dispatch, ArrayType(StringType()), useArrow=True)
    spark.udf.register("tokenize_ja_neologd", overloaded)
    spark.udf.register("tokenize_ja", overloaded)
    spark.udf.register(
        "tokenize_ja_neologd_version",
        lambda: tokenize_ja_version(),
        returnType=ArrayType(StringType()),
    )
