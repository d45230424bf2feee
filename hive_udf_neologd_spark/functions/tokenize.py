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
        131-142); one iterator Arrow UDF kernel (``arrow_map``) so init is
        paid once per batch stream, with Arrow columnar transfer.  Results
        are written as Arrow buffers (``arrow_converter``), so a worker
        imports no pandas (SURVEY.md §1.3).
* O11 — deterministic (Spark default; never ``.asNondeterministic()``).

Config is resolved on the driver and shipped as a pickled closure; the
analyzer itself is never pickled (lazy worker-side build — the reference's
Kryo-transient trick, SURVEY.md §3 step 3).
"""

from __future__ import annotations

from array import array
from collections.abc import Callable, Iterable, Iterator, Sequence
from itertools import accumulate, chain

import pyarrow as pa
from pyspark.sql import SparkSession
from pyspark.sql.functions import arrow_udf
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import ArrayType, BooleanType, DataType, StringType, StructField, StructType

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
        eng = _ENGINES[key] = JapaneseAnalyzer(
            mode=mode, stop_words=stop_words, stop_tags=stop_tags, user_dict_rows=user_rows
        )
    return eng


def _strings(name: str, value) -> tuple[str, ...] | None:
    """Check a const ``array<string>`` argument (SURVEY.md §1.2): ``None``,
    or a list or tuple of strings whose ``None`` elements are skipped.  A
    bare string or any other element type is a construction-time
    ``TypeError``."""
    if value is None:
        return None
    if isinstance(value, str) or not isinstance(value, Sequence):
        raise TypeError(f"{name} must be a list of strings, got {type(value).__name__}")
    for v in value:
        if v is not None and not isinstance(v, str):
            raise TypeError(f"{name} elements must be strings, got {type(v).__name__}")
    return tuple(v for v in value if v is not None)


def _config_key(mode=None, stop_words=None, stop_tags=None, user_dict=None) -> tuple:
    """Resolve and validate a tokenizer config on the driver, before any
    Spark job runs — the reference's fail-at-plan-time ``initialize``
    (SURVEY.md §3) — into the frozen per-worker engine-cache key (O10).
    ``user_dict`` dispatches by type like the reference
    (KuromojiNEologdUDF.java:102-111, 135-139): a list of CSV rows or a URL
    string.  Raises ``ValueError`` on a bad mode (O3), ``TypeError`` on a
    malformed stop list or user_dict, and ``UserDictionaryError`` on URL/CSV
    failures (O6/O7)."""
    parsed_mode = Mode.parse(mode)
    if isinstance(user_dict, str):
        user_dict = fetch_user_dict_url(user_dict)
    frozen_user = _strings("user_dict", user_dict)
    if frozen_user is not None:
        UserDictionary.from_rows(frozen_user)
    return (
        parsed_mode.value,
        _strings("stop_words", stop_words),
        _strings("stop_tags", stop_tags),
        frozen_user,
    )


def _bitmap(flags: list) -> pa.Buffer:
    """``flags`` (truthiness) packed least significant bit first, Arrow's
    bitmap layout."""
    bits = "0" + "".join(["1" if f else "0" for f in reversed(flags)])
    return pa.py_buffer(int(bits, 2).to_bytes((len(flags) + 7) // 8, "little"))


def _validity(values: list) -> tuple[pa.Buffer | None, int]:
    """The validity bitmap of ``values`` (``None`` is null) and its null
    count; no bitmap when nothing is null."""
    nulls = values.count(None)
    return (_bitmap([v is not None for v in values]) if nulls else None), nulls


def int32_offsets(lengths: Iterable[int]) -> pa.Buffer:
    """Arrow's int32 offsets over ``lengths`` (string bytes or list
    elements).  A batch past 2**31 - 1 in total raises instead of
    wrapping round."""
    try:
        return pa.py_buffer(array("i", accumulate(lengths, initial=0)))
    except OverflowError:
        raise OverflowError(
            "one result batch holds more than 2**31 - 1 string bytes or list "
            "elements, past Arrow's int32 offsets"
        ) from None


def arrow_converter(arrow_type: pa.DataType) -> Callable[[list], pa.Array]:
    """A function from a list of Python values (``None`` is null) to a
    ``pa.Array`` of exactly ``arrow_type``, written through
    ``pa.Array.from_buffers``.  It covers the types ``arrow_map``'s
    callers declare: ``string``, ``int64``, ``bool``, ``list`` and
    ``struct`` (rows as dicts, a missing key is null) over them.
    ``pa.array`` would do the same, but its first call imports pandas
    (pyarrow 16's ``_is_array_like``): 0.3-0.5 s and 39 MB per cold
    worker on a 4-CPU host.  Any other type is a ``TypeError`` here,
    when the UDF is built."""
    t = arrow_type
    if pa.types.is_string(t):

        def convert(values: list) -> pa.Array:
            validity, nulls = _validity(values)
            parts = [b"" if v is None else str.encode(v) for v in values]
            offsets = int32_offsets(map(len, parts))
            data = pa.py_buffer(b"".join(parts))
            return pa.Array.from_buffers(t, len(values), [validity, offsets, data], nulls)

    elif pa.types.is_int64(t):

        def convert(values: list) -> pa.Array:
            validity, nulls = _validity(values)
            data = pa.py_buffer(array("q", [0 if v is None else v for v in values]))
            return pa.Array.from_buffers(t, len(values), [validity, data], nulls)

    elif pa.types.is_boolean(t):

        def convert(values: list) -> pa.Array:
            validity, nulls = _validity(values)
            return pa.Array.from_buffers(t, len(values), [validity, _bitmap(values)], nulls)

    elif pa.types.is_list(t):
        element = arrow_converter(t.value_type)

        def convert(values: list) -> pa.Array:
            validity, nulls = _validity(values)
            offsets = int32_offsets([0 if v is None else len(v) for v in values])
            child = element(list(chain.from_iterable(v for v in values if v is not None)))
            return pa.Array.from_buffers(
                t, len(values), [validity, offsets], nulls, children=[child]
            )

    elif pa.types.is_struct(t):
        fields = [(f.name, arrow_converter(f.type)) for f in t]

        def convert(values: list) -> pa.Array:
            validity, nulls = _validity(values)
            children = [
                conv([None if v is None else v.get(name) for v in values])
                for name, conv in fields
            ]
            return pa.Array.from_buffers(t, len(values), [validity], nulls, children=children)

    else:
        raise TypeError(f"arrow_map cannot build results of Arrow type {t}")
    return convert


def arrow_map(return_type: DataType, make: Callable[[], Callable]):
    """The one tokenizer UDF kernel: an iterator Arrow UDF that calls
    ``make()`` once per task on the worker, for a per-value function ``f``,
    and maps ``f`` over each batch's Python values.  Each result batch is
    built by ``arrow_converter`` for the declared type, so an all-null
    batch keeps it and the kernel imports no pandas."""
    convert = arrow_converter(to_arrow_type(return_type))

    def _map(batches: Iterator[pa.Array]) -> Iterator[pa.Array]:
        f = make()
        for arr in batches:
            yield convert([f(v) for v in arr.to_pylist()])

    return arrow_udf(_map, return_type)


# tokenize_ja_rich's per-token struct (EXTENSION beyond parity).
RICH_TOKENS = ArrayType(
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


def tokenize_ja(
    mode: str | None = None,
    stop_words: list[str] | None = None,
    stop_tags: list[str] | None = None,
    user_dict: list[str] | str | None = None,
):
    """Build the tokenizer UDF: ``string → array<string>`` through the
    ``arrow_map`` kernel.

    All config validation happens here, before any Spark job runs (see
    ``_config_key``): ``ValueError`` on a bad mode (the analog of
    ``UDFArgumentException``), ``TypeError`` on a malformed stop list or
    user_dict, and ``UserDictionaryError`` on URL/CSV failures.
    """
    key = _config_key(mode, stop_words, stop_tags, user_dict)
    return arrow_map(ArrayType(StringType()), lambda: _get_engine(key).tokenize)


def tokenize_ja_rich(
    mode: str | None = None,
    stop_words: list[str] | None = None,
    stop_tags: list[str] | None = None,
    user_dict: list[str] | str | None = None,
):
    """EXTENSION beyond parity: per-token structs ``RICH_TOKENS``
    (``array<struct<term,surface,pos,base_form,reading,unknown>>``).

    The reference discards everything but the term text
    (KuromojiNEologdUDF.java:309-314; SURVEY.md §1.1 subtlety), so this is
    deliberately a SEPARATE factory — ``tokenize_ja`` stays exactly
    ``array<string>``.  Same config semantics, same kernel, same per-worker
    engine cache (the cache key is shared with the plain UDF, so mixing both
    in one pipeline builds one engine)."""
    key = _config_key(mode, stop_words, stop_tags, user_dict)
    return arrow_map(RICH_TOKENS, lambda: _get_engine(key).analyze_rich)


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
    Arrow batches), not the ``arrow_map`` kernel of ``tokenize_ja()``,
    because a 0-arg call cannot reach an ``arrow_udf``: on Spark 4.1,
    ``SELECT f()`` on a scalar ``arrow_udf`` whose parameter has a default
    fails with ``IndexError`` at ``pyspark/worker.py:210``, where the
    result-length check reads ``len(a[0])`` of an empty argument tuple.
    The row wrapper shares the kernel's engine cache (``_get_engine``).

    Per-config UDFs (custom mode/stop lists/user dict) are registered by
    the caller: ``spark.udf.register(name, tokenize_ja(mode=...))`` — config
    args are construction-time constants, mirroring the reference's
    const-argument requirement (SURVEY.md §1.2).
    """
    from pyspark.sql.functions import udf

    # Same frozen default config (and worker-side engine cache key) as
    # tokenize_ja() with no arguments.
    key = _config_key()

    def _dispatch(line=_ABSENT):
        if isinstance(line, _VersionSentinel):
            return tokenize_ja_version()
        if not isinstance(line, str):
            return None  # O9: NULL → NULL
        return _get_engine(key).tokenize(line)

    overloaded = udf(_dispatch, ArrayType(StringType()), useArrow=True)
    spark.udf.register("tokenize_ja_neologd", overloaded)
    spark.udf.register("tokenize_ja", overloaded)
    spark.udf.register(
        "tokenize_ja_neologd_version",
        lambda: tokenize_ja_version(),
        returnType=ArrayType(StringType()),
    )
