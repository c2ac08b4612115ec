"""Incremental indexing plan (reference §3.1, the SEP path).

Event micro-batch -> table route (F1) + subscription-ts gate (S2) ->
relevance filter (F2) -> mutation apply (tombstone semantics) ->
last-event-wins dedup (A1/A2) -> delete classification (F4/F5) ->
document rebuild for touched rows (the set-oriented form of the J1
point re-read) -> MERGE changeset.

Events carry the canonical cell columns plus ``seq`` (arrival order — the
explicit form of the reference's per-thread arrival ordering,
SepEventExecutor.java:79-88) and ``event_ts`` (WAL write time,
SepConsumer.java:227-228).  Cell ``ts`` must be monotone with ``seq`` for
tombstone ordering to match HBase visibility rules.

Scale shape per batch: the event batch is small relative to the table;
tombstone masks broadcast; document rebuild touches only rows present in
the batch (semi join), so work is O(batch), not O(table).
"""

from __future__ import annotations

from collections import deque

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from hbase_indexer_spark.config.indexer_conf import (
    MAPPING_COLUMN,
    IndexerConf,
)
from hbase_indexer_spark.operators.extraction import (
    DELETE_OPS,
    column_documents,
    keyvalue_id_expr,
    latest_cells,
    qlit,
    row_documents,
    table_predicate,
    target_match_sql,
)
from hbase_indexer_spark.functions import unique_key as uk
from hbase_indexer_spark.functions.colmemo import memo
from hbase_indexer_spark.sinks.index_store import IndexStore

CELL_COLS = ["table", "row", "family", "qualifier", "ts", "op", "value"]

# IncrementalIndexer.metrics_log keeps this many most recent batch records:
# a forever-running stream must hold bounded driver state
METRICS_LOG_MAX = 1000


def _observed_adds(obs) -> int:
    """Read the root-level adds counter (see union_adds_observed).  When the
    merged output is empty AT RUNTIME, AQE can collapse the whole written
    plan to an empty relation; the observation then completes with a
    degenerate schemaless row that PySpark's toPyRow rejects.  An output
    that collapsed to empty contains zero adds by construction, so the
    failed read IS the answer."""
    try:
        return obs.get["adds"]
    except Exception:
        return 0


def _run_concurrently(*jobs) -> None:
    """Run independent Spark actions on sibling threads (Spark's scheduler
    interleaves their stages across the executor pool).  The threads
    inherit the caller's local properties, so their jobs keep the caller's
    job group and description.  All jobs are awaited; the first failure
    propagates."""
    from pyspark import InheritableThread

    errors: list[BaseException] = []

    def run(job) -> None:
        try:
            job()
        except BaseException as e:
            errors.append(e)

    threads = [InheritableThread(target=run, args=(j,)) for j in jobs]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]


def gate_events(events: DataFrame, conf: IndexerConf,
                subscription_ts: int | None = None) -> DataFrame:
    """F1 route + S2 subscription-timestamp gate + F2 relevance filter."""
    route, relevant = memo(("gate_events", conf, subscription_ts), lambda: (
        table_predicate(conf, F.col("table"))
        if subscription_ts is None else
        table_predicate(conf, F.col("table"))
        & (F.col("event_ts") >= F.lit(subscription_ts)),
        # deletes are always relevant (Indexer.java:297-311)
        F.expr(f"({target_match_sql(conf)}"
               f" OR (op IN ({', '.join(map(qlit, DELETE_OPS))})))"),
    ))
    return events.filter(route).filter(relevant)


def _tombstone_filter(cells: DataFrame, batch_cells: DataFrame) -> DataFrame:
    """Apply HBase tombstone visibility: a delete at ts T masks cells of its
    scope with cell ts <= T (Indexer delete classification scopes,
    Indexer.java:361-384).

    All three delete scopes (row / family / column) are carried in ONE
    per-row tombstone array and applied with a single broadcast join — the
    per-batch delete set is bounded by the batch, so the broadcast is always
    small, and the mask evaluation stays in whole-stage codegen.
    """
    def build() -> tuple:
        dels = F.col("_dels")
        fam, qual = F.col("family"), F.col("qualifier")

        def scope_max(pred) -> Column:
            return F.array_max(F.transform(F.filter(dels, pred), lambda d: d["ts"]))

        mask_ts = F.greatest(
            scope_max(lambda d: d["op"] == "delete_row"),
            scope_max(lambda d: (d["op"] == "delete_family") & (d["family"] == fam)),
            scope_max(lambda d: (d["op"] == "delete_column") & (d["family"] == fam)
                      & (d["qualifier"] == qual)),
        )
        return (
            F.col("op").isin(*DELETE_OPS),
            F.collect_list(F.struct("op", "family", "qualifier", "ts")).alias("_dels"),
            F.col("ts") > F.coalesce(mask_ts, F.lit(-(2 ** 62))),
        )

    del_pred, del_agg, visible_pred = memo(("tombstone_filter",), build)
    tomb = batch_cells.filter(del_pred).groupBy("table", "row").agg(del_agg)
    return (
        cells.join(F.broadcast(tomb), ["table", "row"], "left")
        .filter(visible_pred)
        .select(*CELL_COLS)
    )


def updated_row_cells(state: DataFrame | None, batch: DataFrame) -> DataFrame:
    """The new visible put-cell state of exactly the rows touched by the
    batch: (prior cells of touched rows ∪ batch puts) -> tombstone mask ->
    latest version per column.

    Tombstones are dropped after application ("compacted"): cell ts is
    monotone with seq here, so no masked-late-put can arrive afterwards.

    Scale shape: O(batch ∪ touched-state) — the prior-state side is a
    broadcast semi-join on the touched (table, row) set.
    """
    batch_cells = batch.select(*CELL_COLS)
    puts = batch_cells.filter(F.col("op") == "put")
    if state is None:
        touched_cells = puts
    else:
        touched = batch_cells.select("table", "row").distinct()
        touched_cells = (
            state.select(*CELL_COLS)
            .join(F.broadcast(touched), ["table", "row"], "left_semi")
            .unionByName(puts)
        )
    visible = _tombstone_filter(touched_cells, batch_cells)
    out_cols = memo(("updated_select",), lambda: [
        F.col("table"), F.col("row"), F.col("family"), F.col("qualifier"),
        F.col("ts"), F.lit("put").alias("op"), F.col("value"),
    ])
    return latest_cells(visible).select(*out_cols)


def apply_mutations(state: DataFrame | None, batch: DataFrame) -> DataFrame:
    """Merge a mutation batch into a put-cells state table: untouched state
    rows pass through via a broadcast anti-join (never shuffled), touched
    rows are recomputed by updated_row_cells."""
    updated = updated_row_cells(state, batch)
    if state is None:
        return updated
    touched = batch.select("table", "row").distinct()
    untouched = (
        state.select(*CELL_COLS)
        .join(F.broadcast(touched), ["table", "row"], "left_anti")
    )
    return untouched.unionByName(updated)


def row_state_from_events(events: DataFrame) -> DataFrame:
    """Compact a full ordered mutation log into final put-cell state in one
    pass (the whole-log form of apply_mutations, used by batch replays and
    as the oracle-checkable closed form)."""
    return apply_mutations(None, events)


class IncrementalIndexer:
    """One indexer definition's continuously-maintained index — the analog of
    Indexer + SepConsumer wiring (Indexer.java:140-181).

    Drive it either from Structured Streaming (``process_batch`` inside
    foreachBatch) or directly with pre-chunked DataFrames (deterministic
    replay/testing).  State = a put-cells IndexStore (the "HBase table"
    mirror used for the J1 re-read); Index = the document IndexStore.
    """

    def __init__(self, spark: SparkSession, conf: IndexerConf, state_path: str,
                 index_path: str, subscription_ts: int | None = None,
                 n_buckets: int | None = None):
        """``n_buckets``: when set, state and index use the bucketed
        copy-on-write store (BucketedIndexStore) — per-batch I/O bounded by
        touched buckets instead of table size.  This is the 100 TB
        configuration; the default plain store is simpler and fine for
        small views."""
        self.spark = spark
        self.conf = conf
        self.subscription_ts = subscription_ts
        self.bucketed = n_buckets is not None
        if self.bucketed:
            from hbase_indexer_spark.sinks.bucket_store import BucketedIndexStore

            # state key: table NUL row (multi-table indexers must not
            # collide on bare rowkey when replacing a key space)
            self.state = BucketedIndexStore(state_path, key="_k",
                                            n_buckets=n_buckets)
            # column-mode: bucket the per-cell docs by their ROW field so
            # row-scoped delete-by-query (K8) prunes to touched buckets
            bucket_field = (conf.row_field
                            if conf.mapping_type == "column" and conf.row_field
                            else None)
            self.index = BucketedIndexStore(index_path, key=conf.unique_key_field,
                                            n_buckets=n_buckets,
                                            bucket_field=bucket_field)
        else:
            self.state = IndexStore(state_path, key="row")
            self.index = IndexStore(index_path, key=conf.unique_key_field)
        # per-batch counters (the BufferedSolrInputDocumentWriter doc/batch
        # counts + SolrUpdateCollector sizes, BufferedSolrInputDocumentWriter
        # .java:48-126) — docs_upserted is collected via `observe`, so it
        # costs no extra action
        self.metrics: dict = {}
        self.metrics_log: deque[dict] = deque(maxlen=METRICS_LOG_MAX)

    # -- ROW mode ---------------------------------------------------------

    @staticmethod
    def _state_key(table: Column, row: Column) -> Column:
        return F.concat_ws("\x00", table, row)

    def _process_row_mode(self, batch: DataFrame) -> None:
        conf = self.conf
        state = self.state.read(self.spark)
        # the new visible cells of exactly the touched rows — this IS the
        # doc-build input (no state read-back needed) AND the state delta
        updated = updated_row_cells(state, batch).cache()
        touched = batch.select("table", "row").distinct()
        try:
            # run the two publish jobs (state, index) concurrently — they
            # are independent given the cached delta (the block manager
            # dedups concurrent computation of a cached partition), and a
            # micro-batch's wall time is job-count bound, not data bound
            def publish_state() -> None:
                if self.bucketed:
                    # bucket-granular state update: replace touched keys only
                    self.state.merge(
                        adds=updated.withColumn(
                            "_k", self._state_key(F.col("table"), F.col("row"))
                        ),
                        replace_keys=touched.select(
                            self._state_key(F.col("table"), F.col("row")).alias("_k")
                        ),
                    )
                else:
                    new_state = updated if state is None else (
                        state.select(*CELL_COLS)
                        .join(F.broadcast(touched), ["table", "row"], "left_anti")
                        .unionByName(updated)
                    )
                    self.state.overwrite(new_state, self.spark)

            def publish_index() -> None:
                # A1 dedup is implicit — the doc is rebuilt once per touched
                # row from its current state ("index the last state",
                # Indexer.java:252-292)
                docs = row_documents(updated, conf)
                # Every touched id is either re-added or (F5) gone -> replace
                # the whole touched key space in one broadcast + one write job
                from hbase_indexer_spark.operators.extraction import row_id_expr

                touched_ids = touched.select(memo(
                    ("touched_id", conf),
                    lambda: row_id_expr(conf, F.col("row"), F.col("table"))
                    .alias(conf.unique_key_field),
                ))
                from pyspark.sql import Observation

                obs = Observation()
                # root-level observation (union_adds_observed): an observed
                # docs subtree is AQE-prunable when every touched row was
                # deleted (empty docs), which would block obs.get forever
                self.index.merge(self.spark, adds=docs,
                                 replace_keys=touched_ids,
                                 adds_observation=obs)
                self.metrics["docs_upserted"] = _observed_adds(obs)

            _run_concurrently(publish_state, publish_index)
        finally:
            updated.unpersist()

    # -- COLUMN mode ------------------------------------------------------

    def _process_column_mode(self, batch: DataFrame) -> None:
        """A2 last-cell-wins + F4 delete classification
        (Indexer.java:361-450): delete_column -> delete by id;
        delete_family/delete_row -> delete-by-query (K8), which requires the
        configured row/family fields — missing config = warn & skip,
        matching Indexer.java:404-410,420-426."""
        conf = self.conf
        batch_cells = batch.select(*CELL_COLS)
        # A2 last-cell-wins: within-batch puts masked by same-batch tombstones
        # (HBase ts visibility — makes the converged index independent of
        # micro-batch boundaries), then newest put per (row, family, qual)
        visible_puts = _tombstone_filter(
            batch_cells.filter(F.col("op") == "put"), batch_cells
        )
        adds = column_documents(
            latest_cells(visible_puts).select(
                "table", "row", "family", "qualifier", "ts",
                F.lit("put").alias("op"), "value",
            ),
            conf,
        )
        # F4 delete classification (Indexer.java:361-384):
        # delete_column -> delete by formatted KeyValue id (a later put in the
        # same batch re-adds: merge applies deletes before adds).  The key
        # stays FIRST; the formatted row rides along when configured so a
        # row-bucketed store can derive each delete's bucket.
        def build_del_id_cols() -> list[Column]:
            out = [
                keyvalue_id_expr(conf, F.col("row"), F.col("family"),
                                 F.col("qualifier")).alias(conf.unique_key_field)
            ]
            if conf.row_field:
                out.append(uk.row_formatter(conf.unique_key_formatter)(
                    F.col("row")).alias(conf.row_field))
            return out

        del_id_cols = memo(("del_id_cols", conf), build_del_id_cols)
        del_ids = batch_cells.filter(F.col("op") == "delete_column") \
            .select(*del_id_cols)
        # delete_row / delete_family -> delete-by-query (K8) against the
        # configured row/cf fields; missing config = warn & skip, matching
        # Indexer.java:404-410,420-426.  The delete sets stay distributed:
        # the store applies them as anti-joins, so a WAL batch carrying
        # 100k row-deletes never materializes on the driver or in the plan.
        delete_match: list[DataFrame] | None = None
        delete_scope: DataFrame | None = None
        if conf.row_field:
            # the row/cf fields hold FORMATTED values (P13) — format the
            # raw cell values the same way before comparing
            fmt = uk.row_formatter(conf.unique_key_formatter)
            delete_match = [batch_cells.filter(F.col("op") == "delete_row")
                            .select(fmt(F.col("row")).alias(conf.row_field))]
            if conf.column_family_field:
                delete_match.append(
                    batch_cells.filter(F.col("op") == "delete_family")
                    .select(fmt(F.col("row")).alias(conf.row_field),
                            fmt(F.col("family")).alias(conf.column_family_field)))
            # every delete-by-query above is row-scoped: the applied deletes'
            # rows bound it, so a row-bucketed store prunes to those buckets
            delete_scope = delete_match[0]
            for m in delete_match[1:]:
                delete_scope = delete_scope.unionByName(m.select(conf.row_field))
        from pyspark.sql import Observation

        obs = Observation()
        # the adds counter is observed at the ROOT of merge's written plan
        # (union_adds_observed) — observing the adds subtree hangs obs.get
        # on all-delete batches (AQE prunes the empty union child)
        self.index.merge(self.spark, adds=adds, delete_ids=del_ids,
                         delete_match=delete_match,
                         delete_scope=delete_scope,
                         adds_observation=obs)
        self.metrics["docs_upserted"] = _observed_adds(obs)

    # -- entry points ------------------------------------------------------

    def process_batch(self, batch: DataFrame, batch_id: int | None = None,
                      precount: int | None = None) -> None:
        batch = gate_events(batch, self.conf, self.subscription_ts)
        if precount is None:
            # cache the gated batch: it is consumed several times per
            # micro-batch (tombstone masks, puts, touched-row set, delete
            # ids) and would otherwise re-run the source scan for each
            # consumer; the count below (K3-analog counter) materializes it
            batch = batch.cache()
        # else the caller already knows the gated size (replay's one-pass
        # chunk census) and the batch filters the caller's materialized
        # cache, so its consumers re-read that cache: a second, lazily built
        # cache costs more jobs than it saves, since under AQE every scan of
        # an unbuilt cache submits its own build job
        try:
            n = batch.count() if precount is None else precount
            self.metrics = {"batch_id": batch_id, "relevant_events": n,
                            "docs_upserted": None}
            if n == 0:
                return
            with self._micro_batch_tuning(n):
                if self.conf.mapping_type == MAPPING_COLUMN:
                    self._process_column_mode(batch)
                else:
                    self._process_row_mode(batch)
            self.metrics_log.append(self.metrics)
        finally:
            batch.unpersist()

    def _micro_batch_tuning(self, batch_rows: int):
        """Size the shuffle to the observed batch — see
        functions/tuning.py (shared with the stateful screen loops)."""
        from hbase_indexer_spark.functions.tuning import small_batch_tuning

        return small_batch_tuning(self.spark, batch_rows)

    def replay(self, events: DataFrame, n_chunks: int = 1,
               chunk_col: str = "seq") -> DataFrame:
        """Deterministically replay an ordered event log in n_chunks
        micro-batches; returns the final index DataFrame."""
        if n_chunks <= 1:
            self.process_batch(events)
        else:
            events = events.cache()
            try:
                # ONE census job replaces (bounds + per-chunk count) — the
                # per-chunk counts let process_batch skip its count action,
                # so an n_chunk replay runs n fewer jobs
                # collect(), not first(): first() is limit(1), and Spark's
                # incremental limit-scaling runs up to 4 partial jobs even
                # over a 1-row aggregate — collect on it is a single job
                bounds = events.select(
                    F.min(chunk_col).alias("lo"), F.max(chunk_col).alias("hi")
                ).collect()[0]
                lo, hi = bounds["lo"], bounds["hi"]
                span = (hi - lo + 1 + n_chunks - 1) // n_chunks
                gated = gate_events(events, self.conf, self.subscription_ts)
                census = {
                    r["chunk"]: r["n"]
                    for r in gated.groupBy(
                        F.expr(f"(CAST({chunk_col} AS BIGINT) - {lo}) div {span}")
                        .alias("chunk")
                    ).agg(F.count(F.lit(1)).alias("n")).collect()
                }
                for i in range(n_chunks):
                    start = lo + i * span
                    chunk = events.filter(
                        (F.col(chunk_col) >= start) & (F.col(chunk_col) < start + span)
                    )
                    self.process_batch(chunk, precount=census.get(i, 0))
            finally:
                events.unpersist()
        out = self.index.read(self.spark)
        if out is None:
            # nothing relevant ever arrived: an empty index with the doc
            # schema this definition would produce
            empty = events.filter(F.lit(False))
            if self.conf.mapping_type == MAPPING_COLUMN:
                return column_documents(empty, self.conf)
            return row_documents(empty, self.conf)
        return out
