"""Incremental-pipeline semantics tests — ports of RowBasedIndexerTest.java:76-166
and ColumnBasedIndexerTest.java:70-262 scenario matrices (FIXTURES.md §4)."""

import pytest
from pyspark.sql import functions as F

from hbase_indexer_spark.config.indexer_conf import IndexerConf
from hbase_indexer_spark.plans.incremental import IncrementalIndexer

EVENT_SCHEMA = (
    "seq long, event_ts long, table string, row string, family string, "
    "qualifier string, ts long, op string, value binary"
)


def ev(seq, row, qualifier, value=None, op="put", family="info", table="t",
       event_ts=None):
    if isinstance(value, str):
        value = value.encode()
    return (seq, event_ts if event_ts is not None else seq, table, row, family,
            qualifier, seq, op, value)


ROW_CONF = {
    "table": "t",
    "fields": [
        {"name": "name_s", "value": "info:name"},
        {"name": "mail_s", "value": "info:mail"},
    ],
}

COL_CONF = {
    "table": "t", "mapping_type": "column",
    "row_field": "row_s", "column_family_field": "cf_s",
    "fields": [{"name": "val", "value": "info:*"}],
}


def run(spark, tmp_path, rows, conf_dict, n_chunks=1, subscription_ts=None):
    conf = IndexerConf.from_dict(conf_dict)
    df = spark.createDataFrame(rows, EVENT_SCHEMA)
    ix = IncrementalIndexer(
        spark, conf,
        state_path=str(tmp_path / "state"),
        index_path=str(tmp_path / "index"),
        subscription_ts=subscription_ts,
    )
    return {r["id"]: r.asDict() for r in ix.replay(df, n_chunks=n_chunks).collect()}


def test_put_then_update_row_mode(spark, tmp_path):
    out = run(spark, tmp_path, [
        ev(1, "r1", "name", "alice"),
        ev(2, "r1", "mail", "a@x.com"),
        ev(3, "r1", "name", "alicia"),
    ], ROW_CONF)
    assert out == {"r1": {"id": "r1", "name_s": "alicia", "mail_s": "a@x.com"}}


def test_update_then_delete_row(spark, tmp_path):
    # RowBasedIndexerTest.java:151-166
    out = run(spark, tmp_path, [
        ev(1, "r1", "name", "alice"),
        ev(2, "r1", None, op="delete_row"),
    ], ROW_CONF)
    assert out == {}


def test_delete_then_update_row(spark, tmp_path):
    # RowBasedIndexerTest.java:131-148 — add wins
    out = run(spark, tmp_path, [
        ev(1, "r1", None, op="delete_row"),
        ev(2, "r1", "name", "alice"),
    ], ROW_CONF)
    assert out == {"r1": {"id": "r1", "name_s": "alice", "mail_s": None}}


def test_irrelevant_event_ignored(spark, tmp_path):
    out = run(spark, tmp_path, [ev(1, "r1", "unmapped", "x")], ROW_CONF)
    assert out == {}


def test_subscription_ts_gate(spark, tmp_path):
    # SepConsumer.java:227-228 / IndexerIT.java:547
    out = run(spark, tmp_path, [
        ev(1, "r1", "name", "old", event_ts=100),
        ev(2, "r2", "name", "new", event_ts=200),
    ], ROW_CONF, subscription_ts=150)
    assert list(out) == ["r2"]


def test_multi_chunk_equals_single_chunk(spark, tmp_path):
    rows = [
        ev(1, "r1", "name", "a"),
        ev(2, "r2", "name", "b"),
        ev(3, "r1", None, op="delete_row"),
        ev(4, "r1", "name", "a2"),
        ev(5, "r2", "mail", "b@x.com"),
        ev(6, "r3", "name", "c"),
        ev(7, "r3", None, op="delete_row"),
    ]
    one = run(spark, tmp_path / "one", rows, ROW_CONF, n_chunks=1)
    many = run(spark, tmp_path / "many", rows, ROW_CONF, n_chunks=4)
    assert one == many
    assert set(one) == {"r1", "r2"}
    assert one["r1"]["name_s"] == "a2"


def test_delete_family_masks_only_family(spark, tmp_path):
    conf = {
        "table": "t",
        "fields": [
            {"name": "a", "value": "info:name"},
            {"name": "b", "value": "other:thing"},
        ],
    }
    out = run(spark, tmp_path, [
        ev(1, "r1", "name", "x"),
        ev(2, "r1", "thing", "y", family="other"),
        ev(3, "r1", None, op="delete_family", family="info"),
    ], conf)
    assert out == {"r1": {"id": "r1", "a": None, "b": "y"}}


def test_column_mode_add_and_delete_column(spark, tmp_path):
    # ColumnBasedIndexerTest: per-cell doc; delete_column deletes that id
    out = run(spark, tmp_path, [
        ev(1, "r1", "m1", "hello"),
        ev(2, "r1", "m2", "world"),
        ev(3, "r1", "m1", None, op="delete_column"),
    ], COL_CONF)
    assert set(out) == {"r1-info-m2"}
    assert out["r1-info-m2"]["val"] == "world"
    assert out["r1-info-m2"]["row_s"] == "r1"
    assert out["r1-info-m2"]["cf_s"] == "info"


def test_column_mode_delete_row_by_query(spark, tmp_path):
    # Indexer.java:389-427 — delete-by-query on row field (K8)
    out = run(spark, tmp_path, [
        ev(1, "r1", "m1", "hello"),
        ev(2, "r2", "m1", "keep"),
        ev(3, "r1", None, op="delete_row"),
    ], COL_CONF, n_chunks=3)
    assert set(out) == {"r2-info-m1"}


def test_column_mode_delete_family_by_query(spark, tmp_path):
    conf = dict(COL_CONF)
    conf["fields"] = [{"name": "val", "value": "info:*"}]
    out = run(spark, tmp_path, [
        ev(1, "r1", "m1", "hello", family="info"),
        ev(2, "r1", None, op="delete_family", family="info"),
    ], conf, n_chunks=2)
    assert out == {}


def test_redelivered_batch_is_idempotent(spark, tmp_path):
    """T1: at-least-once delivery -> effective exactly-once.  Structured
    Streaming redelivers the LAST uncommitted micro-batch after a failure;
    reapplying it against the already-updated state/index must be a no-op
    (the MERGE-on-unique-key sink + set-oriented state replace)."""
    conf = IndexerConf.from_dict(ROW_CONF)
    b1 = spark.createDataFrame(
        [ev(1, "r1", "name", "alice"), ev(2, "r2", "name", "bob")],
        EVENT_SCHEMA)
    b2 = spark.createDataFrame(
        [ev(3, "r1", "name", "alicia"), ev(4, "r2", "mail", None,
                                           op="delete_family"),
         ev(5, "r3", "name", "carol")],
        EVENT_SCHEMA)
    ix = IncrementalIndexer(
        spark, conf,
        state_path=str(tmp_path / "state"),
        index_path=str(tmp_path / "index"),
    )
    ix.process_batch(b1)
    ix.process_batch(b2)
    expect = {r["id"]: r.asDict()
              for r in ix.index.read(spark).collect()}
    assert set(expect) == {"r1", "r3"}          # r2 family-deleted
    assert expect["r1"]["name_s"] == "alicia"

    ix.process_batch(b2)                        # redelivery
    again = {r["id"]: r.asDict() for r in ix.index.read(spark).collect()}
    assert again == expect

    ix.process_batch(b2)                        # and again
    assert {r["id"]: r.asDict()
            for r in ix.index.read(spark).collect()} == expect


@pytest.mark.parametrize("n_rows,row_dels,fam_dels", [
    pytest.param(8, [0, 1], [2, 3], id="4_deleted_of_8"),
    pytest.param(40, range(1, 40, 2), range(0, 40, 4), id="30_deleted_of_40"),
])
@pytest.mark.parametrize("n_buckets", [None, 8])
def test_column_mode_delete_by_query(spark, tmp_path, n_buckets, n_rows,
                                     row_dels, fam_dels):
    """K8: delete_row / delete_family batches delete every doc of their
    rows (the family delete on the configured cf field) and nothing else,
    on both store kinds; the delete sets reach the store as anti-join
    frames whatever their size."""
    conf = IndexerConf.from_dict(COL_CONF)
    puts = [ev(i + 1, f"r{i:03d}", "m1", f"v{i}") for i in range(n_rows)]
    dels = [ev(n_rows + i + 1, f"r{i:03d}", None, op="delete_row")
            for i in row_dels]
    dels += [ev(2 * n_rows + i + 1, f"r{i:03d}", None, op="delete_family")
             for i in fam_dels]
    ix = IncrementalIndexer(
        spark, conf,
        state_path=str(tmp_path / "state"),
        index_path=str(tmp_path / "index"),
        n_buckets=n_buckets,
    )
    ix.process_batch(spark.createDataFrame(puts, EVENT_SCHEMA))
    ix.process_batch(spark.createDataFrame(dels, EVENT_SCHEMA))
    deleted = set(row_dels) | set(fam_dels)
    assert {r["id"] for r in ix.index.read(spark).collect()} == {
        f"r{i:03d}-info-m1" for i in range(n_rows) if i not in deleted}


@pytest.mark.parametrize("n_buckets", [None, 8])
def test_column_mode_family_delete_without_cf_field_is_skipped(
        spark, tmp_path, n_buckets):
    """Indexer.java:420-426: with no column_family_field configured, a
    delete_family cannot be expressed as a query and leaves docs as they
    are; a delete_row in the same batch still applies."""
    conf_dict = {k: v for k, v in COL_CONF.items()
                 if k != "column_family_field"}
    ix = IncrementalIndexer(
        spark, IndexerConf.from_dict(conf_dict),
        state_path=str(tmp_path / "state"),
        index_path=str(tmp_path / "index"),
        n_buckets=n_buckets,
    )
    ix.process_batch(spark.createDataFrame(
        [ev(1, "r1", "m1", "a"), ev(2, "r2", "m1", "b"),
         ev(3, "r3", "m1", "c")], EVENT_SCHEMA))
    ix.process_batch(spark.createDataFrame(
        [ev(4, "r1", None, op="delete_family"),
         ev(5, "r3", None, op="delete_row")], EVENT_SCHEMA))
    assert {r["id"]: r["val"] for r in ix.index.read(spark).collect()} == {
        "r1-info-m1": "a", "r2-info-m1": "b"}


def test_column_mode_batch_without_deletes_rewrites_only_added_buckets(
        spark, tmp_path):
    """The delete-by-query frames and their row scope are passed on every
    column batch; an empty scope must add no bucket, so a batch of puts
    rewrites only the buckets of its rows (read from the manifest)."""
    conf = IndexerConf.from_dict(COL_CONF)
    ix = IncrementalIndexer(
        spark, conf,
        state_path=str(tmp_path / "state"),
        index_path=str(tmp_path / "index"),
        n_buckets=8,
    )
    ix.process_batch(spark.createDataFrame(
        [ev(i + 1, f"r{i:03d}", "m1", f"v{i}") for i in range(40)],
        EVENT_SCHEMA))
    before = ix.index._bucket_dirs()
    assert len(before) == 8
    ix.process_batch(spark.createDataFrame(
        [ev(100, "r000", "m2", "new")], EVENT_SCHEMA))
    after = ix.index._bucket_dirs()
    b = spark.range(1).select(
        ix.index.bucket_of(F.lit("r000")).alias("b")).first()["b"]
    assert {k for k in after if after[k] != before[k]} == {b}
    assert "r000-info-m2" in {r["id"] for r in ix.index.read(spark).collect()}


def test_metrics_log_keeps_last_batches(spark, tmp_path, monkeypatch):
    """A forever-running loop holds bounded driver state: the per-batch
    metrics log keeps only the newest METRICS_LOG_MAX records."""
    from hbase_indexer_spark.plans import incremental

    monkeypatch.setattr(incremental, "METRICS_LOG_MAX", 3)
    ix = IncrementalIndexer(
        spark, IndexerConf.from_dict(ROW_CONF),
        state_path=str(tmp_path / "state"),
        index_path=str(tmp_path / "index"),
    )
    for i in range(5):
        ix.process_batch(spark.createDataFrame(
            [ev(i + 1, f"r{i}", "name", f"n{i}")], EVENT_SCHEMA), batch_id=i)
    assert [m["batch_id"] for m in ix.metrics_log] == [2, 3, 4]


def test_concurrent_publishes_keep_job_group(spark, tmp_path):
    """Row mode publishes state and index from sibling threads; their jobs
    must stay in the caller's job group so the caller can attribute (and
    cancel) them."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ix = IncrementalIndexer(
        spark, IndexerConf.from_dict(ROW_CONF),
        state_path=str(tmp_path / "state"),
        index_path=str(tmp_path / "index"),
    )
    batch = spark.createDataFrame(
        [ev(1, "r1", "name", "alice"), ev(2, "r2", "name", "bob")],
        EVENT_SCHEMA)
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("concurrent-publish", "process_batch")
    try:
        ix.process_batch(batch)
    finally:
        for k in ("spark.jobGroup.id", "spark.job.description",
                  "spark.job.interruptOnCancel"):
            sc.setLocalProperty(k, None)
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped == set()
    assert tracker.getJobIdsForGroup("concurrent-publish")


def test_run_concurrently_awaits_all_and_propagates_failure(spark):
    from hbase_indexer_spark.plans.incremental import _run_concurrently

    done = []

    def fails():
        raise ValueError("publish failed")

    def slow_ok():
        spark.range(10).count()
        done.append(True)

    with pytest.raises(ValueError, match="publish failed"):
        _run_concurrently(fails, slow_ok)
    assert done == [True]
