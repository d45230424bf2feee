"""Focused gates for the round-13 optimization internals.

t05's JVM winnow projection (round 13, VERDICT r12 #1) claims bit-parity
with the per-doc Python reference kernel it replaced: ``slice`` truncates
like ``hs[i:i+4]``, ``array_min`` over md5 hex strings is the same
lexicographic min, ``array_distinct``/``size`` matches ``set``/``len``.
This pins that claim row-by-row against an independent hashlib reference
(the r12 kernel's exact logic) over real data plus the edge shapes
(null text, <3 tokens, exactly 3 tokens, duplicate-heavy docs).
"""

from __future__ import annotations

import hashlib

SF_DIR = "/root/testdata/sf0.001"


def _reference_counts(rows):
    out = {}
    for doc_id, text in rows:
        ts = text.split(" ") if text is not None else []
        if len(ts) < 3:
            continue
        hs = [
            hashlib.md5(" ".join(ts[i : i + 3]).encode()).hexdigest()
            for i in range(len(ts) - 2)
        ]
        out[doc_id] = len({min(hs[i : i + 4]) for i in range(len(hs))})
    return out


def test_lloyd_fused_partials_match_spark_agg(spark):
    """Round-13 Lloyd fusion (ann._lloyd_partial_rows): the single-stage
    fused assign+partial-sum kernel with the driver-side rounded average
    must produce BIT-identical trained centroids to the r12 shape it
    replaced (assignment kernel → posexplode → groupBy(c_id, dim) →
    round(avg(x), 4) → collect)."""
    from pyspark.sql import functions as F

    from hive_udf_neologd_spark.operators import ann

    emb = ann._emb(spark, SF_DIR).select("vec_id", "e")
    cent_rows = ann._collect_rows(
        emb.filter(F.col("vec_id") % ann._KM_SEED_MOD == 1).select(
            F.col("vec_id").alias("c_id"), F.col("e").alias("ce")
        )
    )
    for _ in range(ann._KM_ITERS):
        # r12 reference path, inline:
        assigned = ann._assign_np(emb, cent_rows)
        cell_rows = (
            assigned.select("c_id", F.posexplode("e").alias("dim", "x"))
            .groupBy("c_id", "dim")
            .agg(F.round(F.avg("x"), 4).alias("cx"))
            .collect()
        )
        by_cid = {}
        for r in cell_rows:
            by_cid.setdefault(r["c_id"], {})[r["dim"]] = r["cx"]
        ref = sorted(
            (cid, tuple(dims[i] for i in range(len(dims))))
            for cid, dims in by_cid.items()
        )
        # fused path:
        sums, cnts = {}, {}
        for r in ann._lloyd_partial_rows(emb, cent_rows):
            c = r["c_id"]
            if c in sums:
                s = sums[c]
                for i, v in enumerate(r["s"]):
                    s[i] += v
                cnts[c] += r["cnt"]
            else:
                sums[c] = list(r["s"])
                cnts[c] = r["cnt"]
        got = sorted(
            (c, tuple(ann._round_half_up_4(v / cnts[c]) for v in s))
            for c, s in sums.items()
        )
        assert got == ref
        cent_rows = got


def test_round_half_up_4_matches_spark_round(spark):
    """The driver-side rounding helper must agree with Spark's round()
    on HALF_UP boundaries (incl. negatives) and shortest-repr parsing."""
    from pyspark.sql import functions as F

    from hive_udf_neologd_spark.operators.ann import _round_half_up_4

    vals = [
        0.00005, -0.00005, 0.00015, -0.00015, 1.23455, -1.23455,
        0.1 + 0.2, 1e-9, -1e-9, 123.456789, 0.0, 2.5e-4, -2.5e-4,
    ]
    df = spark.createDataFrame([(v,) for v in vals], "x double").select(
        F.round("x", 4).alias("r")
    )
    spark_rounded = [r["r"] for r in df.collect()]
    assert [_round_half_up_4(v) for v in vals] == spark_rounded


def test_t05_jvm_winnow_matches_reference(spark):
    from hive_udf_neologd_spark.operators.textops import t05_fingerprint_winnow
    from hive_udf_neologd_spark.sources import read_table

    got = {
        r["doc_id"]: r["n_fingerprints"]
        for r in t05_fingerprint_winnow(spark, SF_DIR).collect()
    }
    rows = [
        (r["doc_id"], r["text"])
        for r in read_table(spark, SF_DIR, "documents")
        .select("doc_id", "text")
        .collect()
    ]
    assert got == _reference_counts(rows)


def test_t05_jvm_winnow_edge_shapes(spark, tmp_path):
    from pyspark.sql import functions as F

    from hive_udf_neologd_spark.operators.textops import t05_fingerprint_winnow

    rows = [
        (1, None),                      # null text -> skipped
        (2, ""),                        # empty -> 1 token -> skipped
        (3, "a b"),                     # 2 tokens -> skipped
        (4, "a b c"),                   # exactly 3 tokens -> 1 shingle
        (5, "a b c d e f"),             # 4 shingles, one full window
        (6, "x x x x x x x x"),         # duplicate shingles collapse
    ]
    path = str(tmp_path / "docs")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        path + "/documents.parquet"
    )
    got = {
        r["doc_id"]: r["n_fingerprints"]
        for r in t05_fingerprint_winnow(spark, path).collect()
    }
    assert got == _reference_counts(rows)


def test_local_frame_is_local_relation_and_value_identical(spark):
    """sources.local_frame (round 13): constant frames must plan as a
    LocalTableScan (plan-embedded rows, zero scan tasks) instead of the
    pickled-Python-RDD ExistingRDD scan, with schema and values identical
    to the legacy createDataFrame(list, ddl) path."""
    from hive_udf_neologd_spark.sources import local_frame

    rows = [
        (1, "reg", "normal", "テキスト", ["a", "b"]),
        (2, "reg2", "search", "x y", []),
    ]
    ddl = "sid long, register string, mode string, text string, exp array<string>"
    new = local_frame(spark, rows, ddl)
    old = spark.createDataFrame(rows, ddl)
    assert new.schema == old.schema
    assert new.collect() == old.collect()
    plan = new._sc._jvm.PythonSQLUtils.explainString(
        new._jdf.queryExecution(), "formatted"
    )
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan


def test_local_frame_does_not_rely_on_prepare(spark):
    """local_frame sets the Arrow conf itself: with it switched off (a
    session that never ran prepare), the frame still plans as a
    LocalTableScan instead of silently falling back to a pickled RDD."""
    from hive_udf_neologd_spark.sources import local_frame

    key = "spark.sql.execution.arrow.pyspark.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        df = local_frame(spark, [(1, "a"), (2, "b")], "k long, v string")
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
    finally:
        spark.conf.set(key, before)
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan


def test_parity_frames_scan_locally(spark):
    """Every constant-corpus catalog entry plans its frame as a
    LocalTableScan — no applySchemaToPythonRDD deserialization tasks —
    and each parity entry scores its corpus in exactly one
    ArrowEvalPython pass (per-register rows and the __total__ row come
    from one rollup, not a union that re-tokenizes the corpus)."""
    from hive_udf_neologd_spark.catalog import QUERIES

    parity = (
        "t22_segmentation_parity",
        "t25_mode_parity",
        "t27_lemma_parity",
        "t28_reading_parity",
        "t29_userdict_parity",
        "t30_pos_parity",
    )
    for name in ("t08_tokenize_modes", "t21_connection_matrix", *parity):
        df = QUERIES[name](spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        assert "applySchemaToPythonRDD" not in plan, name
        assert "LocalTableScan" in plan, name
        if name in parity:
            tree = df._jdf.queryExecution().executedPlan().toString()
            assert tree.count("ArrowEvalPython") == 1, (name, tree)


def _uf_components(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def test_cc_fixpoint_hub_and_chain_with_binding_cap(spark, monkeypatch):
    """Round-13 skew guard: the window cap on the squaring y-side must not
    change the fixpoint even when it BINDS (hub degree > cap), and the
    delayed pointer jump must still converge long chains within
    _MAX_CC_ITERS."""
    from pyspark.sql import functions as F

    from hive_udf_neologd_spark.operators import dedup as D

    monkeypatch.setattr(D, "_CC_SQUARE_CAP", 4)  # far below the hub degree
    # hub 0 with 30 leaves; disjoint chain 100..140; disjoint pair.
    pairs = (
        [(0, i) for i in range(1, 31)]
        + [(i, i + 1) for i in range(100, 140)]
        + [(500, 501)]
    )
    edges = spark.createDataFrame(pairs, "u long, v long").unionByName(
        spark.createDataFrame([(b, a) for a, b in pairs], "u long, v long")
    )
    got = {r["n"]: r["lbl"] for r in D._cc_fixpoint(edges).collect()}
    assert got == _uf_components(pairs)


def test_scratch_root_space_gate(tmp_path):
    """ADVICE r12 #2: tmpfs is only chosen when it has headroom."""
    import os

    from hive_udf_neologd_spark.sources import scratch_root

    if os.path.isdir("/dev/shm"):
        st = os.statvfs("/dev/shm")
        free = st.f_bavail * st.f_frsize
        assert scratch_root("x", free // 2) == "/dev/shm/x"
        assert scratch_root("x", free * 2 + (1 << 30)) == "/tmp/x"
