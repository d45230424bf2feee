"""Focused gates for the round-12 optimization internals.

The numpy kernels that replaced the interpreted HOF folds (ann._assign_np,
ann._assign_cos_np) claim BIT-parity via dim-order accumulation; these
tests pin that claim against an independent row-at-a-time Python
reference, including the tie-break conventions (min c_id) the argmin/
argmax first-hit relies on.  t05's kernel rewrite claims the per-doc
window exchange is gone; that is asserted on the plan.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from hive_udf_neologd_spark.operators import ann

SF_DIR = "/root/testdata/sf0.001"


def _tiny_emb(spark):
    # 6 vectors, 4-d; vec 5 is equidistant from both centroids (tie).
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (2, [1.0, 1.0, 0.0, 0.0]),
        (3, [0.0, 0.0, 1.0, 1.0]),
        (4, [0.5, 0.5, 0.5, 0.5]),
        (5, [0.0, 0.0, 0.0, 0.0]),  # d2 tie vs both unit centroids
    ]
    return spark.createDataFrame(rows, "vec_id long, e array<double>")


CENTS = [(10, (1.0, 0.0, 0.0, 0.0)), (20, (0.0, 1.0, 0.0, 0.0))]


def test_assign_np_matches_rowwise_reference(spark):
    got = {
        r["vec_id"]: (r["c_id"], r["d2"])
        for r in ann._assign_np(_tiny_emb(spark), CENTS).collect()
    }
    for vec_id, e in [(int(r["vec_id"]), list(r["e"]))
                      for r in _tiny_emb(spark).collect()]:
        best = None
        for c_id, ce in CENTS:
            d2 = 0.0
            for x, y in zip(e, ce):  # dim-order left fold
                d2 += (x - y) * (x - y)
            if best is None or (d2, c_id) < best:
                best = (d2, c_id)
        assert got[vec_id] == (best[1], best[0]), vec_id
    # The tie row must have broken to the SMALLER c_id.
    assert got[5][0] == 10


def test_assign_cos_np_matches_rowwise_reference(spark):
    emb = _tiny_emb(spark).filter(F.col("vec_id") != 5).withColumn(
        "nrm",
        F.expr(
            "sqrt(aggregate(transform(e, x -> x * x), CAST(0.0 AS DOUBLE),"
            " (acc, v) -> acc + v))"
        ),
    )
    cents = [
        (10, (1.0, 0.0, 0.0, 0.0), 1.0),
        (20, (0.0, 1.0, 0.0, 0.0), 1.0),
    ]
    got = {
        r["vec_id"]: r["list_id"] for r in ann._assign_cos_np(emb, cents).collect()
    }
    for r in emb.collect():
        e, nrm = list(r["e"]), r["nrm"]
        best = None
        for c_id, ce, cn in cents:
            dot = 0.0
            for x, y in zip(e, ce):  # dim-order left fold
                dot += x * y
            cos = dot / (cn * nrm)
            if best is None or (-cos, c_id) < best:
                best = (-cos, c_id)
        assert got[r["vec_id"]] == best[1], r["vec_id"]
    # vec 2 is equidistant in angle from both centroids → tie → min c_id.
    assert got[2] == 10


def test_trained_centroid_rows_shape(spark):
    emb = ann._emb(spark, SF_DIR).select("vec_id", "e")
    rows = ann._trained_centroid_rows(emb)
    assert rows == sorted(rows, key=lambda t: t[0])
    assert all(len(ce) == 64 for _, ce in rows)
    # 4 dp rounding applied between iterations.
    assert all(
        math.isclose(x, round(x, 4), abs_tol=0.0) for _, ce in rows for x in ce
    )


def test_stream_partition_derivation(tmp_path):
    """Scale-adaptive streaming state partitioning: ceil(bytes/advisory)
    clamped to [1, max] — 1 for a tiny staged snapshot, proportional for
    large ones, and never 0 or unbounded."""
    from hive_udf_neologd_spark.streaming import e2e

    stage = tmp_path / "stage"
    stage.mkdir()
    (stage / "part-0.parquet").write_bytes(b"x" * 1024)
    assert e2e._derive_stream_partitions(str(stage)) == 1
    # Non-parquet files are ignored.
    (stage / "_SUCCESS").write_bytes(b"y" * 10**6)
    assert e2e._derive_stream_partitions(str(stage)) == 1
    # ~3.2 advisory chunks → 4 partitions (monkeypatch-free: scale the
    # fixture, not the constant, via a tiny advisory override file count).
    n_bytes = int(3.2 * e2e._STREAM_ADVISORY_BYTES)
    big = stage / "part-1.parquet"
    with open(big, "wb") as f:
        f.truncate(n_bytes)  # sparse — no real 200 MB write
    assert e2e._derive_stream_partitions(str(stage)) == 4
    # Missing dir → floor of 1, not an exception.
    assert e2e._derive_stream_partitions(str(tmp_path / "nope")) == 1


def test_stream_shuffle_scope_restores_conf(spark):
    from hive_udf_neologd_spark.streaming import e2e

    before = spark.conf.get("spark.sql.shuffle.partitions")
    with e2e._stream_shuffle_scope(spark, "/nonexistent"):
        assert spark.conf.get("spark.sql.shuffle.partitions") == "1"
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_t05_no_window_exchange(spark):
    from hive_udf_neologd_spark.operators.textops import t05_fingerprint_winnow

    df = t05_fingerprint_winnow(spark, SF_DIR)
    plan = spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    # The winnowing is per-document inside one narrow kernel: no window
    # operator, no hash exchange carrying shingle rows — only the
    # conditional spread and the presentation sort's range exchange remain.
    assert "Window" not in plan
    assert "hashpartitioning" not in plan


@pytest.mark.parametrize("name", ["d05_bucket_jaccard_pairs", "t17_tokenize_rich"])
def test_sort_samples_checkpoint_not_pipeline(spark, name):
    """Materialize-before-sort: each of these queries ends in a global
    orderBy whose range partitioner SAMPLES its child.  Without a
    materialization boundary the sampling pass re-runs the expensive
    subtree (set ops / UDF) once more per action, which measured slower
    for these two (see the comment at each checkpoint).  The public
    query's top-level plan must therefore sort over a checkpointed RDD
    scan, with the heavy subtree absent (it runs exactly once, inside the
    checkpoint)."""
    from hive_udf_neologd_spark.catalog import QUERIES

    df = QUERIES[name](spark, SF_DIR)
    plan = spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "Scan ExistingRDD" in plan
    assert "Sort" in plan
    # The expensive work is below the checkpoint, not re-planned above it.
    for marker in ("MapInPandas", "ArrowEvalPython", "array_intersect", "Join"):
        assert marker not in plan


def test_io_input_fixture_staged_once(spark, monkeypatch):
    """io03-io05 stage their PURE input fixtures once per process through
    sources.stage_once: a second builder invocation must reuse the staged
    layout byte-for-byte (no rewrite — parquet part files keep their
    mtimes) and return identical rows, and a fingerprint change must force
    a restage."""
    import glob
    import os

    from hive_udf_neologd_spark import sources
    from hive_udf_neologd_spark.operators import io as io_ops

    def must_not_write(path):
        raise AssertionError(f"restaged {path}")

    monkeypatch.setattr(sources, "_staged", {})
    df1 = io_ops.io04_small_file_compaction(spark, SF_DIR)
    rows1 = sorted(map(tuple, df1.collect()))
    sprayed = sources.stage_once(SF_DIR, "events", "events_sprayed", must_not_write)
    parts = sorted(glob.glob(f"{sprayed}/*.parquet"))
    assert parts, "sprayed fixture missing after first build"
    mtimes = [os.path.getmtime(p) for p in parts]

    df2 = io_ops.io04_small_file_compaction(spark, SF_DIR)
    rows2 = sorted(map(tuple, df2.collect()))
    assert rows1 == rows2
    parts2 = sorted(glob.glob(f"{sprayed}/*.parquet"))
    assert parts2 == parts
    assert [os.path.getmtime(p) for p in parts2] == mtimes  # no rewrite

    # A fingerprint mismatch (regenerated sf_dir) must restage.
    sources._staged[sprayed] = ("stale",)
    io_ops.io04_small_file_compaction(spark, SF_DIR)
    parts3 = sorted(glob.glob(f"{sprayed}/*.parquet"))
    assert [os.path.getmtime(p) for p in parts3] != mtimes  # rewritten
