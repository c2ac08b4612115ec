"""Upsert index sink (reference §2.2 K1-K8).

The reference maintains a Solr collection as an incrementally-updated
materialized view: batched adds, deletes-by-id and deletes-by-query
(DirectSolrInputDocumentWriter.java:53-193, deleteByQuery :176-193).

Spark-first equivalent: a keyed materialized view with MERGE semantics.
Locally this is a versioned parquet directory with an atomic current-version
pointer — write the new version, then flip ``_CURRENT`` (the exact shape of
the reference's offline-build + go-live publish, GoLive.java:52-169, where
the new shards are built aside and then atomically merged in).  On a real
cluster the same interface binds to Delta/Iceberg ``MERGE INTO``; the plan
shape (anti-join + union on the key) is what MERGE executes anyway.

Scale note: the merge joins old state with the batch on the unique key; the
batch side is typically small -> broadcast, and the rewrite is bounded by
(old index + batch), never by the event history.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

_NEW_TAG = "_hbis_is_add"


def union_adds_observed(out: DataFrame, adds: DataFrame,
                        observation=None, *, evolve: bool = False) -> DataFrame:
    """Union the changeset onto the surviving rows; with an ``Observation``,
    tag the adds, count them in a ROOT-level observe, and drop the tag.

    The root placement is load-bearing: a CollectMetrics attached to the
    adds subtree sits inside a union child that AQE's runtime
    empty-relation propagation may prune (all-delete batches), and a pruned
    metrics node never fires — ``Observation.get`` then blocks forever.
    The root of the written plan always executes.

    ``evolve``: schema evolution on MERGE (the Solr dynamic-field analog
    for first-class columns) — a changeset may add columns (existing rows
    get NULL) or omit columns (new rows get NULL).  Off by default so a
    drifted upstream schema stays a loud AnalysisException.
    """
    if observation is None:
        return out.unionByName(adds, allowMissingColumns=evolve)
    tagged = out.withColumn(_NEW_TAG, F.lit(False)).unionByName(
        adds.withColumn(_NEW_TAG, F.lit(True)), allowMissingColumns=evolve)
    return tagged.observe(
        observation,
        F.count(F.when(F.col(_NEW_TAG), F.lit(1))).alias("adds"),
    ).drop(_NEW_TAG)


class IndexStore:
    """A keyed, versioned materialized view with upsert/delete merge."""

    def __init__(self, path: str, key: str = "id", retain: int = 2,
                 evolve_schema: bool = False):
        self.path = path
        self.key = key
        # opt-in schema evolution on merge: adds may introduce new columns
        # (old rows read NULL) or omit existing ones (new rows get NULL);
        # off = schema drift fails loudly (see union_adds_observed)
        self.evolve_schema = bool(evolve_schema)
        # versions kept on disk after each publish (>=1).  Older versions
        # stay readable via read(version=...) — the audit/time-travel
        # surface a go-live flip gives for free (GoLive keeps the previous
        # Solr index generation the same way until the next merge).
        self.retain = max(1, retain)

    # -- version plumbing (go-live analog) --------------------------------

    def _current_file(self) -> str:
        return os.path.join(self.path, "_CURRENT")

    def current_version(self) -> int:
        try:
            with open(self._current_file()) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return -1

    def _version_dir(self, v: int) -> str:
        return os.path.join(self.path, f"v={v}")

    def versions(self) -> list[int]:
        """Retained, readable versions (ascending; last is current)."""
        try:
            names = os.listdir(self.path)
        except FileNotFoundError:
            return []
        cur = self.current_version()
        return sorted(
            int(n[2:]) for n in names
            if n.startswith("v=") and n[2:].isdigit() and int(n[2:]) <= cur
        )

    def read(self, spark: SparkSession,
             version: int | None = None) -> DataFrame | None:
        """Current index, or a retained older version (time travel)."""
        v = self.current_version() if version is None else version
        if v < 0:
            return None
        if version is not None and version not in self.versions():
            raise ValueError(
                f"version {version} not retained (have {self.versions()})")
        return spark.read.parquet(self._version_dir(v))

    def _publish(self, df: DataFrame, spark: SparkSession) -> None:
        v = self.current_version() + 1
        df.write.mode("overwrite").parquet(self._version_dir(v))
        tmp = self._current_file() + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(v))
        os.replace(tmp, self._current_file())  # atomic go-live flip
        old = self._version_dir(v - self.retain)
        if os.path.exists(old):
            shutil.rmtree(old, ignore_errors=True)

    def compact(self, spark: SparkSession, n_files: int | None = None,
                target_rows_per_file: int = 1_000_000) -> int:
        """Small-file compaction: rewrite the current version into
        ``n_files`` parquet files (default: sized so each file holds
        ~``target_rows_per_file`` rows) and publish atomically — readers
        of the old version stay valid through the flip, exactly like any
        merge.  Incremental merges inherit the writing job's partition
        count, so a long-lived store accumulates shuffle-partition-many
        small files per version; on object storage that's the classic
        listing/open-cost tax.  One bounded pass (the view, never the
        history) fixes it.  Returns the file count written.

        At 100 TB this is the maintenance job you schedule, not a query
        — same contract as Delta OPTIMIZE / Iceberg rewrite_data_files.
        """
        cur = self.read(spark)
        if cur is None:
            return 0
        if n_files is None:
            n_rows = cur.count()
            n_files = max(1, -(-n_rows // target_rows_per_file))
        self._publish(cur.repartition(n_files), spark)
        out = self._version_dir(self.current_version())
        return len([f for f in os.listdir(out) if f.endswith(".parquet")])

    # -- merge (K1/K7/K8) --------------------------------------------------

    def merge(
        self,
        spark: SparkSession,
        adds: DataFrame | None = None,
        delete_ids: DataFrame | None = None,
        delete_predicates: list[Column] | None = None,
        replace_keys: DataFrame | None = None,
        delete_scope: DataFrame | None = None,
        delete_match: list[DataFrame] | None = None,
        adds_observation=None,
    ) -> None:
        """One batch changeset, applied in the reference's order: deletes by
        query, deletes by id, then adds (an add for an id wins over an
        earlier state — SolrUpdateCollector add-overwrites semantics).

        ``adds_observation``: an ``Observation`` that will receive the
        number of upserted docs under the key ``"adds"`` with NO extra
        action (the K3 counter).  The metrics node is attached at the ROOT
        of the written plan — adds rows are tagged, counted by a
        root-level observe, and the tag dropped — never to the adds
        subtree: AQE's runtime empty-relation propagation can prune an
        empty union child, and a pruned CollectMetrics never fires, which
        leaves ``Observation.get`` blocked forever (bit us under
        foreachBatch on all-delete micro-batches; tests/test_streaming_
        lifecycle.py::test_stream_column_mode_with_delete_by_query).

        ``delete_match``: the set-oriented form of delete-by-query — each
        frame's columns name index fields, and any index row equal to one
        of the frame's rows on ALL those columns is deleted (anti-join).
        The delete set stays distributed, so its size is bounded by
        neither the driver nor the plan.

        ``delete_scope`` is accepted for signature parity with the bucketed
        store (which uses it to prune delete-by-query I/O); the plain store
        rewrites the whole view regardless, so it is ignored here.

        ``replace_keys``: when the changeset fully covers a key space (every
        key in it is either re-added or implicitly deleted — the row-mode
        rebuild shape), pass that key set and omit ``delete_ids``; the merge
        then needs ONE broadcast (the key set) and computes ``adds`` exactly
        once, inside the single output write job.
        """
        current = self.read(spark)
        if current is None:
            if adds is None:
                return
            if adds_observation is not None:
                adds = adds.observe(
                    adds_observation, F.count(F.lit(1)).alias("adds"))
            self._publish(adds, spark)
            return
        out = current
        if delete_predicates:
            for pred in delete_predicates:
                out = out.filter(~F.coalesce(pred, F.lit(False)))
        if delete_match:
            # no broadcast hint: the match set is unbounded by contract —
            # AQE broadcasts it when the runtime size allows and falls back
            # to a shuffle join when not
            for m in delete_match:
                out = out.join(m.distinct(), on=list(m.columns), how="left_anti")
        if replace_keys is not None:
            out = out.join(
                F.broadcast(
                    replace_keys.select(F.col(replace_keys.columns[0]).alias(self.key)).distinct()
                ),
                on=self.key, how="left_anti",
            )
            if adds is not None:
                out = union_adds_observed(out, adds, adds_observation,
                                          evolve=self.evolve_schema)
            self._publish(out, spark)
            return
        if delete_ids is not None:
            out = out.join(
                F.broadcast(delete_ids.select(F.col(delete_ids.columns[0]).alias(self.key)).distinct()),
                on=self.key, how="left_anti",
            )
        if adds is not None:
            out = out.join(
                F.broadcast(adds.select(self.key).distinct()), on=self.key, how="left_anti"
            )
            out = union_adds_observed(out, adds, adds_observation,
                                          evolve=self.evolve_schema)
        self._publish(out, spark)

    def overwrite(self, df: DataFrame, spark: SparkSession) -> None:
        """Full rebuild publish (batch reindex 'go-live', K6)."""
        self._publish(df, spark)


def change_feed(store: "IndexStore", spark: SparkSession,
                from_version: int | None = None,
                to_version: int | None = None,
                include_old: bool = False) -> DataFrame | None:
    """Change feed between two retained store versions (the Delta CDF /
    Iceberg changelog analog): every key whose row was added, deleted,
    or updated between ``from_version`` (default: previous) and
    ``to_version`` (default: current), tagged ``_change_type`` in
    {'insert', 'delete', 'update'} with the TO-side row values (FROM-side
    for deletes).

    This is what turns the versioned store into a source for downstream
    consumers: instead of re-reading the whole view per cycle, they read
    the keys that changed — the reference's SEP contract, re-emitted on
    the OUTPUT side.

    Update detection compares the full row column-wise null-safe over
    the UNION of the two versions' schemas (a column absent on one side
    reads NULL there) — so a re-add of an identical row is NOT an update
    (idempotent replays produce an empty feed), while an evolved column
    going NULL -> value IS one.

    Scale: ONE full-outer join keyed on the store key between two
    version scans; at 100 TB both sides are the view (bounded), never
    the history, and the output is change-sized.  Returns None when the
    store holds fewer than two readable versions and no explicit pair
    was named."""
    have = store.versions()
    to_v = store.current_version() if to_version is None else to_version
    if from_version is None:
        prior = [v for v in have if v < to_v]
        if not prior:
            return None
        from_version = prior[-1]
    old = store.read(spark, version=from_version)
    new = store.read(spark, version=to_v)
    if old is None or new is None:
        return None
    key = store.key
    o = old.select([F.col(c).alias(f"_o_{c}") for c in old.columns])
    n = new.select([F.col(c).alias(f"_n_{c}") for c in new.columns])
    j = o.join(n, F.col(f"_o_{key}").eqNullSafe(F.col(f"_n_{key}")), "full")
    same = F.lit(True)
    for c in dict.fromkeys([*new.columns, *old.columns]):
        o_side = (F.col(f"_o_{c}") if c in set(old.columns)
                  else F.lit(None))
        n_side = (F.col(f"_n_{c}") if c in set(new.columns)
                  else F.lit(None))
        same = same & o_side.eqNullSafe(n_side)
    change = (F.when(F.col(f"_o_{key}").isNull(), F.lit("insert"))
              .when(F.col(f"_n_{key}").isNull(), F.lit("delete"))
              .when(~same, F.lit("update")))
    # TO-side values for inserts/updates, FROM-side only for deletes.
    # A per-column coalesce(_n_c, _o_c) would be WRONG here: an update
    # that sets a column value -> NULL would emit the stale old value as
    # the post-image, permanently diverging replicas and breaking IVM.
    is_delete = F.col(f"_n_{key}").isNull()
    out_cols = [
        (F.when(is_delete,
                F.col(f"_o_{c}") if c in set(old.columns) else F.lit(None))
         .otherwise(F.col(f"_n_{c}"))).alias(c)
        for c in new.columns
    ]
    if include_old:
        # FROM-side values for downstream RETRACTION (incremental
        # aggregate maintenance subtracts the old row on update/delete);
        # NULL on inserts and on columns the old version lacked
        out_cols += [
            (F.col(f"_o_{c}") if c in set(old.columns) else F.lit(None))
            .alias(f"_old_{c}") for c in new.columns
        ]
    return (j.withColumn("_change_type", change)
            .filter(F.col("_change_type").isNotNull())
            .select(*out_cols, "_change_type"))


def apply_change_feed(feed: DataFrame, target: "IndexStore",
                      spark: SparkSession) -> None:
    """Replicate a :func:`change_feed` onto another store: inserts and
    updates become adds, deletes become delete_ids — ONE merge, so the
    downstream copy advances exactly one version per consumed feed and
    converges to the upstream view (the replication contract the
    reference exposes as replication-status/-wait, re-expressed as
    store-to-store change shipping).

    Idempotent like every merge: re-applying the same feed yields the
    same view (and, via change_feed, an empty next diff).  Feeds built
    with ``include_old=True`` are accepted: the ``_old_*`` retraction
    columns are for aggregate maintenance only and are stripped before
    the merge (a strict replica would otherwise see schema drift)."""
    adds = (feed.filter(F.col("_change_type") != "delete")
            .drop("_change_type"))
    adds = adds.drop(*[c for c in adds.columns if c.startswith("_old_")])
    dels = (feed.filter(F.col("_change_type") == "delete")
            .select(target.key))
    target.merge(spark, adds=adds, delete_ids=dels)
