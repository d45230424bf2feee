"""Spark-side tests for the tokenize_ja Arrow UDF (SURVEY.md §2.1 O1-O11)."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pyarrow as pa
import pytest
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
)
from pyspark.util import PythonEvalType

from hive_udf_neologd_spark import register_udfs, tokenize_ja, tokenize_ja_version
from hive_udf_neologd_spark.functions.tokenize import (
    RICH_TOKENS,
    arrow_converter,
    arrow_map,
    int32_offsets,
    tokenize_ja_rich,
)
from hive_udf_neologd_spark.operators.textops import parity_scorer
from hive_udf_neologd_spark.tokenizer.dictionary import UserDictionaryError
from hive_udf_neologd_spark.version import VERSION


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [
            (1, "きゃりーぱみゅぱみゅ。"),
            (2, "日本経済新聞。"),
            (3, None),
            (4, "the fast key order"),
        ],
        "id bigint, text string",
    )


def test_udf_basic_and_null(spark, docs):
    tok = tokenize_ja()
    rows = {r["id"]: r["toks"] for r in docs.select("id", tok("text").alias("toks")).collect()}
    assert rows[1] == ["きゃりーぱみゅぱみゅ"]
    assert rows[2] == ["日本経済新聞"]
    assert rows[3] is None  # O9: null → null, not []
    assert rows[4] == ["the", "fast", "key", "order"]


def test_udf_return_type_is_array_of_string(spark, docs):
    out = docs.select(tokenize_ja()("text").alias("toks"))
    assert out.schema["toks"].dataType.simpleString() == "array<string>"


def test_udf_with_user_dict(spark, docs):
    tok = tokenize_ja(user_dict=["日本経済新聞,日本 経済 新聞,ニホン ケイザイ シンブン,カスタム名詞"])
    row = docs.filter("id = 2").select(tok("text").alias("t")).first()
    assert row["t"] == ["日本", "経済", "新聞"]


@pytest.mark.parametrize(
    "factory", [tokenize_ja, tokenize_ja_rich], ids=["tokenize_ja", "tokenize_ja_rich"]
)
def test_udf_construction_errors_are_plan_time(spark, factory):
    # Fail-at-plan-time like the reference's initialize (SURVEY.md §3),
    # for both factories: they share one driver-side config path.
    with pytest.raises(ValueError):
        factory(mode="unsupported mode")
    with pytest.raises(TypeError):
        factory(user_dict=123)
    with pytest.raises(UserDictionaryError):
        factory(user_dict=["日本経済新聞,日本 新聞,ニホン シンブン,名詞"])
    # Stop lists and user-dict rows are const array<string> (SURVEY.md
    # §1.2): a bare string would be read as a set of characters, and a
    # non-string element would only fail on the worker.
    for bad in ("これ", 5, {"これ"}, [1, 2], ["これ", b"x"]):
        for arg in ("stop_words", "stop_tags"):
            with pytest.raises(TypeError):
                factory(**{arg: bad})
    with pytest.raises(TypeError):
        factory(user_dict=["日本経済新聞,日本 経済 新聞,ニホン ケイザイ シンブン,名詞", 7])
    # None elements stay skipped, as in the analyzer (O5).
    factory(stop_words=["これ", None], stop_tags=[None])


FACTORIES = pytest.mark.parametrize(
    "factory, type_string",
    [(tokenize_ja, "array<string>"), (tokenize_ja_rich, RICH_TOKENS.simpleString())],
    ids=["tokenize_ja", "tokenize_ja_rich"],
)


@FACTORIES
def test_udf_is_iterator_arrow_udf(factory, type_string):
    assert factory().evalType == PythonEvalType.SQL_SCALAR_ARROW_ITER_UDF


@FACTORIES
def test_all_null_and_empty_batches_keep_declared_type(spark, factory, type_string):
    nulls = spark.createDataFrame([(None,)] * 3, "text string")
    out = nulls.select(factory()("text").alias("t"))
    assert out.schema["t"].dataType.simpleString() == type_string
    assert [r["t"] for r in out.collect()] == [None] * 3
    empty = nulls.limit(0).select(factory()("text").alias("t"))
    assert empty.schema["t"].dataType.simpleString() == type_string
    assert empty.collect() == []


def test_udf_module_imports_without_pandas():
    """One batch through each ``arrow_map`` kernel (``tokenize_ja``,
    ``tokenize_ja_rich``, the parity scorer) in a fresh interpreter loads
    no pandas, ssl or urllib.request.  Inputs are built from buffers:
    ``pa.array`` itself imports pandas."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = textwrap.dedent(
        """
        import sys
        from array import array
        from itertools import accumulate

        import pyarrow as pa

        from hive_udf_neologd_spark.functions.tokenize import tokenize_ja, tokenize_ja_rich
        from hive_udf_neologd_spark.operators.textops import parity_scorer

        lines = ["日本語".encode(), b"", b"abc"]
        offsets = pa.py_buffer(array("i", accumulate(map(len, lines), initial=0)))
        validity = pa.py_buffer(bytes([0b101]))
        text = pa.Array.from_buffers(
            pa.string(), 3, [validity, offsets, pa.py_buffer(b"".join(lines))], 1
        )
        rows = pa.Array.from_buffers(pa.int64(), 2, [None, pa.py_buffer(array("q", [0, 1]))])

        toks = next(tokenize_ja().func(iter([text])))
        assert toks.to_pylist() == [["日本語"], None, ["abc"]], toks
        rich = next(tokenize_ja_rich().func(iter([text])))
        assert [t["term"] for t in rich[0].as_py()] == ["日本語"] and rich[1].as_py() is None
        scores = next(parity_scorer("t22").func(iter([rows])))
        assert len(scores) == 2 and scores.null_count == 0, scores

        loaded = sorted(
            m for m in sys.modules if m.split(".")[0] == "pandas" or m in ("ssl", "urllib.request")
        )
        assert not loaded, loaded
        """
    )
    env = {**os.environ, "PYTHONPATH": root}
    subprocess.run([sys.executable, "-c", code], cwd=root, env=env, check=True, timeout=120)


def _values(t):
    """A hypothesis strategy for one Python value of Arrow type ``t``,
    null included: ``''`` and multibyte text, empty lists, dict rows
    with null and missing fields."""
    from hypothesis import strategies as st

    if pa.types.is_string(t):
        leaf = st.text(st.sampled_from("aあ漢ー😀") | st.characters(), max_size=6)
    elif pa.types.is_int64(t):
        leaf = st.integers(-(2**63), 2**63 - 1)
    elif pa.types.is_boolean(t):
        leaf = st.booleans()
    elif pa.types.is_list(t):
        leaf = st.lists(_values(t.value_type), max_size=4)
    else:
        leaf = st.fixed_dictionaries({}, optional={f.name: _values(f.type) for f in t})
    return st.none() | leaf


# The three callers' declared types, then the leaves on their own.
@pytest.mark.parametrize(
    "spark_type",
    [
        tokenize_ja().returnType,
        tokenize_ja_rich().returnType,
        parity_scorer("t22").returnType,
        StringType(),
        LongType(),
        BooleanType(),
    ],
    ids=lambda t: t.simpleString(),
)
def test_arrow_converter_equals_pa_array(spark_type):
    from hypothesis import example, given, settings
    from hypothesis import strategies as st

    t = to_arrow_type(spark_type)
    convert = arrow_converter(t)

    @settings(max_examples=150, deadline=None)
    @given(st.lists(_values(t), max_size=12))
    @example([])
    @example([None, None])
    def check(values):
        out = convert(values)
        out.validate(full=True)
        assert str(out.type) == str(t)  # field names included: list<element: ...>
        assert out.equals(pa.array(values, t))

    check()


def test_arrow_converter_refuses_other_types_and_2gib_batches():
    with pytest.raises(TypeError):
        arrow_map(DoubleType(), lambda: float)
    with pytest.raises(TypeError):
        arrow_map(ArrayType(IntegerType()), lambda: list)
    assert int32_offsets([2**31 - 1]).size == 8
    with pytest.raises(OverflowError):
        int32_offsets([2**30, 2**30])


def test_sql_registration(spark, docs):
    register_udfs(spark)
    docs.createOrReplaceTempView("docs_udf_test")
    out = spark.sql(
        "select id, tokenize_ja_neologd(text) as toks from docs_udf_test where id = 1"
    ).first()
    assert out["toks"] == ["きゃりーぱみゅぱみゅ"]
    ver = spark.sql("select tokenize_ja_neologd_version() as v").first()["v"]
    assert ver == [VERSION] and len(ver) == 1  # 0-arg → 1 element (O2)


def test_same_name_zero_arg_overload(spark, docs):
    # O2: the reference's verbatim install smoke test (its README.md:26-27)
    # — SELECT tokenize_ja_neologd() with NO arguments on the SAME name as
    # the tokenizer — works via the sentinel-DEFAULT SQL function.
    register_udfs(spark)
    assert spark.sql("SELECT tokenize_ja_neologd() AS v").first()["v"] == [VERSION]
    assert spark.sql("SELECT tokenize_ja() AS v").first()["v"] == [VERSION]
    # O9 through the overload: explicit NULL still propagates as NULL.
    assert spark.sql("SELECT tokenize_ja_neologd(NULL) AS t").first()["t"] is None
    # And the 1-arg path still tokenizes (both names).
    docs.createOrReplaceTempView("docs_udf_overload")
    row = spark.sql(
        "SELECT tokenize_ja(text) AS t FROM docs_udf_overload WHERE id = 1"
    ).first()
    assert row["t"] == ["きゃりーぱみゅぱみゅ"]


def test_zero_arg_return_shape_is_reference_parity(spark):
    # O2 return-TYPE parity (VERDICT r5 'What's wrong' #1): the reference
    # wraps the version in Collections.singletonList(new Text(...)) under a
    # list ObjectInspector (KuromojiNEologdUDF.java:115-116,128) and its
    # README.md:27 shows ["{VERSION}-{NEOLOGD_VERSION_DATE}"] — i.e. a
    # 1-element array<string>, exactly what the 0-arg SQL call returns here.
    register_udfs(spark)
    df = spark.sql("SELECT tokenize_ja_neologd() AS v")
    assert df.schema["v"].dataType.simpleString() == "array<string>"
    rows = df.collect()
    assert [r["v"] for r in rows] == [[VERSION]]
    assert len(rows[0]["v"]) == 1 and isinstance(rows[0]["v"][0], str)


def test_overload_one_arg_path_stays_vectorized(spark, docs):
    # The SQL function must stay an Arrow-batched Python UDF —
    # ArrowEvalPython in the plan, never a row-at-a-time BatchEvalPython.
    register_udfs(spark)
    docs.createOrReplaceTempView("docs_udf_plan")
    plan = (
        spark.sql("SELECT tokenize_ja_neologd(text) AS t FROM docs_udf_plan")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ArrowEvalPython" in plan and "BatchEvalPython" not in plan


def test_version_introspection():
    assert tokenize_ja_version() == [VERSION]


def test_explode_pipeline(spark, docs):
    # The canonical consumer: tokenize → explode → count (SURVEY.md §2.3).
    tok = tokenize_ja()
    out = (
        docs.filter(F.col("text").isNotNull())
        .select(F.explode(tok("text")).alias("token"))
        .groupBy("token")
        .count()
    )
    counts = {r["token"]: r["count"] for r in out.collect()}
    assert counts["きゃりーぱみゅぱみゅ"] == 1 and counts["the"] == 1


def test_tokenize_rich_structs(spark):
    from hive_udf_neologd_spark.functions.tokenize import tokenize_ja, tokenize_ja_rich
    from pyspark.sql import functions as F

    df = spark.createDataFrame([("日本経済新聞を読む。",), (None,)], "text string")
    rich = tokenize_ja_rich()
    rows = df.select(F.col("text"), rich("text").alias("toks")).collect()
    toks = rows[0]["toks"]
    assert toks is not None and len(toks) > 0
    # Struct fields present; terms match the plain UDF's output exactly.
    plain = df.select(tokenize_ja()("text").alias("t")).collect()[0]["t"]
    assert [t["term"] for t in toks] == plain
    assert all(t["pos"] for t in toks)
    # Null line → null array (O9 carries over to the extension).
    assert rows[1]["toks"] is None
