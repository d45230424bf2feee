"""Building a catalog DataFrame runs no Spark job.

A builder returns a plan; the caller's action runs it.  The builders on
``EXEMPT`` are the exceptions.  For most, their work is an action by
design: the streams run to completion (s03-s11), the io entries stage and
write files (io01-io05), d07/d09 run the connected-components loop, and
d10 checkpoints its shared band table.  d05 and t17 checkpoint before
their presentation sort, because without the checkpoint the sort's
sampling pass measured slower (see their comments).  Every other builder
must plan without executing anything: no parquet footer read for a
schema, and no ``localCheckpoint``."""

from __future__ import annotations

import pytest

from hive_udf_neologd_spark.catalog import QUERIES

EXEMPT = frozenset(
    """
    d07_dup_clusters d09_cluster_canonical d10_incremental_near_dup
    io01_csv_roundtrip io02_json_roundtrip io03_partition_pruned_read
    io04_small_file_compaction io05_schema_evolution_read
    s03_streaming_event_counts_e2e s04_streaming_term_counts_e2e
    s05_stream_static_join_e2e s06_streaming_dedup_e2e
    s07_stateful_running_totals_e2e s08_stream_stream_join_e2e
    s09_sliding_window_e2e s10_foreachbatch_merge_e2e s11_late_data_drop_e2e
    d05_bucket_jaccard_pairs t17_tokenize_rich
    """.split()
)


def test_allow_list_names_catalog_entries():
    assert len(EXEMPT) == 19
    assert EXEMPT <= set(QUERIES)


@pytest.mark.parametrize("name", sorted(set(QUERIES) - EXEMPT))
def test_builder_runs_no_job(name, spark, sf_dir, monkeypatch):
    def refuse(self, *args, **kwargs):
        raise AssertionError(f"{name} calls localCheckpoint while building")

    monkeypatch.setattr(type(spark.range(1)), "localCheckpoint", refuse)
    sc = spark.sparkContext
    group = f"build-{name}"
    sc.setJobGroup(group, group)
    try:
        QUERIES[name](spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
