"""Bucketed copy-on-write index store — the 100 TB incremental path.

The plain IndexStore rewrites the whole view per merge: correct, but
O(table) I/O per micro-batch.  At scale the right shape is the one Delta/
Iceberg MERGE gets from file skipping: only storage units containing
touched keys are rewritten.  This store implements that on plain parquet:

- rows are hash-bucketed by key: ``pmod(xxhash64(key), n_buckets)``;
- a version's data lives in ``v=N/_b=K/`` directories, written with a
  single ``repartition(_b) + partitionBy(_b)`` (each bucket written once);
- a JSON **manifest** per version maps every bucket to the version
  directory that owns its current data — merging batch B rewrites only
  buckets hit by B's keys and re-points the rest at their existing files
  (no copy, no hard links, object-store friendly);
- ``_CURRENT`` is flipped atomically after the manifest is written (the
  go-live publish, GoLive.java:52-169); unreferenced version directories
  are garbage-collected one generation late (in-flight readers of the
  previous version stay valid).

Per-batch cost: read touched buckets (partition-pruned scan), one
broadcast, one write of touched buckets, manifest rewrite — O(batch +
touched buckets), never O(table).
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from hbase_indexer_spark.sinks.index_store import union_adds_observed

BUCKET_COL = "_b"


def _schema_list(df: DataFrame) -> list[list[str]]:
    """JSON-serializable ``[name, simple_type]`` pairs, field order kept."""
    return [[f.name, f.dataType.simpleString()] for f in df.schema.fields]


class BucketedIndexStore:
    """A keyed materialized view with bucket-granular copy-on-write MERGE.

    ``bucket_field`` (default: the key) picks the column rows are hash-
    bucketed on.  A column-mode index (one doc per cell, key = formatted
    KeyValue id) should bucket on its ROW field instead of the id: every
    cell of a row then lands in one bucket, so row-scoped delete-by-query
    (K8 delete_row/delete_family) prunes to the deleted rows' buckets
    instead of forcing a full-view rewrite — the same reason HBase itself
    keys regions by row, not by cell.
    """

    def __init__(self, path: str, key: str = "id", n_buckets: int = 16,
                 bucket_field: str | None = None,
                 evolve_schema: bool = False):
        self.path = path
        self.key = key
        self.n_buckets = n_buckets
        self.bucket_field = bucket_field or key
        # opt-in schema evolution on merge (see IndexStore): because only
        # TOUCHED buckets are rewritten, evolution here also turns on
        # mergeSchema for reads — untouched buckets legitimately carry the
        # older schema until their next copy-on-write
        self.evolve_schema = bool(evolve_schema)

    def bucket_of(self, col: Column) -> Column:
        return F.pmod(F.xxhash64(col.cast("string")), F.lit(self.n_buckets))

    # -- version / manifest plumbing --------------------------------------

    def _current_file(self) -> str:
        return os.path.join(self.path, "_CURRENT")

    def current_version(self) -> int:
        try:
            with open(self._current_file()) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return -1

    def _manifest_file(self, v: int) -> str:
        return os.path.join(self.path, f"manifest-{v}.json")

    def _read_manifest(self, v: int) -> dict[int, str]:
        with open(self._manifest_file(v)) as f:
            return {int(k): d for k, d in json.load(f)["buckets"].items()}

    def _bucket_dirs(self) -> dict[int, str]:
        v = self.current_version()
        return {} if v < 0 else self._read_manifest(v)

    def expected_schema(self) -> list[tuple[str, str]] | None:
        """The logical ``(name, simple_type)`` schema of the current view,
        as recorded at publish time.  The AUTHORITATIVE drift reference:
        on a store whose buckets hold mixed on-disk schemas (earlier
        evolve_schema merges), inferring from parquet footers picks an
        arbitrary winner — the manifest does not.  None on manifests
        written before schemas were recorded (drift checks then fall
        back to a footer read)."""
        v = self.current_version()
        if v < 0:
            return None
        with open(self._manifest_file(v)) as f:
            schema = json.load(f).get("schema")
        return None if schema is None else [tuple(p) for p in schema]

    def _publish(self, buckets: dict[int, str],
                 schema: list[list[str]] | None = None) -> None:
        v = self.current_version() + 1
        tmp = self._manifest_file(v) + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"key": self.key, "n_buckets": self.n_buckets,
                       "schema": schema,
                       "buckets": {str(k): d for k, d in buckets.items()}}, f)
        os.replace(tmp, self._manifest_file(v))
        ctmp = self._current_file() + ".tmp"
        with open(ctmp, "w") as f:
            f.write(str(v))
        os.replace(ctmp, self._current_file())  # atomic go-live flip
        self._gc(v, buckets)

    def _gc(self, v: int, buckets: dict[int, str]) -> None:
        """Drop version dirs referenced by neither the new manifest nor the
        previous one (readers of v-1 stay valid during the flip)."""
        live = {d.split("/", 1)[0] for d in buckets.values()}
        if v >= 1:
            live |= {d.split("/", 1)[0]
                     for d in self._read_manifest(v - 1).values()}
        for entry in os.listdir(self.path):
            if entry.startswith("v=") and entry not in live:
                shutil.rmtree(os.path.join(self.path, entry), ignore_errors=True)
            if entry.startswith("manifest-"):
                mv = int(entry.split("-")[1].split(".")[0])
                if mv < v - 1:
                    os.remove(os.path.join(self.path, entry))

    # -- read --------------------------------------------------------------

    def _read_dirs(self, dirs: list[str]) -> DataFrame | None:
        if not dirs:
            return None
        # getActiveSession is thread-local; concurrent publish jobs run on
        # sibling threads, where getOrCreate returns the existing default
        # session without creating a new one
        spark = SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()
        # recursiveFileLookup disables partition inference: version/bucket
        # path components never collide with user column names; the bucket
        # of a row is re-derivable from its key when needed
        return (
            spark.read.option("recursiveFileLookup", "true")
            .option("mergeSchema", "true" if self.evolve_schema else "false")
            .parquet(*[os.path.join(self.path, d) for d in sorted(set(dirs))])
        )

    def read(self, spark: SparkSession | None = None) -> DataFrame | None:
        """The full current view."""
        return self._read_dirs(list(self._bucket_dirs().values()))

    def read_buckets(self, buckets: set[int]) -> DataFrame | None:
        dirs = [d for b, d in self._bucket_dirs().items() if b in buckets]
        return self._read_dirs(dirs)

    # -- write -------------------------------------------------------------

    def _write_version(self, df: DataFrame, v: int) -> dict[int, str]:
        """Write df under v=N, one directory per present bucket (the bucket
        is derived from the key here and exists only in the layout, never as
        a data column)."""
        out_dir = os.path.join(self.path, f"v={v}")
        tagged = df.withColumn(BUCKET_COL, self.bucket_of(F.col(self.bucket_field)))
        (
            tagged.repartition(F.col(BUCKET_COL))
            .write.mode("overwrite").partitionBy(BUCKET_COL).parquet(out_dir)
        )
        written = {}
        for entry in os.listdir(out_dir):
            if entry.startswith(f"{BUCKET_COL}="):
                b = int(entry.split("=")[1])
                written[b] = f"v={v}/{entry}"
        return written

    def overwrite(self, df: DataFrame, spark: SparkSession | None = None) -> None:
        """Full rebuild publish (K6)."""
        self._publish(self._write_version(df, self.current_version() + 1),
                      schema=_schema_list(df))

    def compact(self, spark: SparkSession | None = None) -> int:
        """Version-sprawl compaction: after many bucket-granular merges
        the live manifest references bucket dirs scattered across many
        old ``v=N`` dirs (each copy-on-write touched only some buckets;
        GC must keep every dir any live manifest points at).  One full
        rewrite re-homes every bucket into a single fresh version dir,
        letting GC reclaim the old ones — bounded by the VIEW size, and
        the manifest flip stays atomic.  Returns the number of distinct
        version dirs the live manifest referenced before compaction
        (the sprawl it collapsed)."""
        before = {d.split("/", 1)[0] for d in self._bucket_dirs().values()}
        cur = self.read(spark)
        if cur is not None:
            self.overwrite(cur.localCheckpoint(eager=True), spark)
        return len(before)

    def _bucket_values(self, df: DataFrame) -> Column:
        """The bucket of each row of a changed-key frame: taken from the
        bucket_field column when the frame carries it, else from the key
        (only valid when the store buckets by key)."""
        if self.bucket_field in df.columns:
            return self.bucket_of(F.col(self.bucket_field))
        if self.bucket_field != self.key:
            raise ValueError(
                f"changed-key frame must carry bucket column "
                f"{self.bucket_field!r} (store is not bucketed by key)")
        col = self.key if self.key in df.columns else df.columns[0]
        return self.bucket_of(F.col(col))

    def merge(
        self,
        spark: SparkSession | None = None,
        adds: DataFrame | None = None,
        delete_ids: DataFrame | None = None,
        delete_predicates: list[Column] | None = None,
        replace_keys: DataFrame | None = None,
        delete_scope: DataFrame | None = None,
        delete_match: list[DataFrame] | None = None,
        adds_observation=None,
    ) -> None:
        """Bucket-granular MERGE: same contract as IndexStore.merge, but
        only buckets containing changed keys are read and rewritten.

        ``adds_observation``: root-level no-extra-action adds counter —
        see IndexStore.merge / union_adds_observed for why it must sit at
        the root of the written plan.

        ``delete_predicates``/``delete_match`` alone cannot be key-bounded
        (delete-by-query may hit any bucket), so they force a full-view
        rewrite — the reason the reference treats deleteByQuery as the
        heavyweight operation (DirectSolrInputDocumentWriter.java:176-193).
        When the caller DOES know the bound — row-scoped deletes on a
        row-bucketed store — it passes ``delete_scope``: a one-column frame
        of bucket_field values the deletes are confined to, and the merge
        prunes to those buckets like any keyed change.

        ``delete_match``: set-oriented delete-by-query (see
        IndexStore.merge) — anti-join on each frame's columns.
        """
        if self.current_version() < 0:
            if adds is not None:
                if adds_observation is not None:
                    adds = adds.observe(
                        adds_observation, F.count(F.lit(1)).alias("adds"))
                self.overwrite(adds)
            return

        if adds is not None and not self.evolve_schema:
            # drift must fail LOUDLY here: unlike the plain store, adds
            # landing in previously-empty buckets never pass through a
            # unionByName, so without this check a new column would write
            # silently and strict (mergeSchema=false) reads would then
            # drop it depending on which bucket's footer wins.  The
            # reference schema comes from the MANIFEST (recorded at
            # publish), so the check is deterministic even on stores
            # whose buckets hold mixed on-disk schemas, and costs no
            # footer scan; a pre-schema manifest falls back to one read.
            # Comparison is an order-insensitive (name, type) SET by
            # design: the merge unions by NAME, so column order is not
            # part of the contract.
            want = self.expected_schema()
            if want is None:
                cur = self.read()
                want = None if cur is None else _schema_list(cur)
            if want is not None:
                got = _schema_list(adds)
                if set(map(tuple, want)) != set(map(tuple, got)):
                    raise ValueError(
                        "adds schema drift on a non-evolving store: "
                        f"store={sorted(map(tuple, want))} "
                        f"adds={sorted(map(tuple, got))} — pass "
                        "evolve_schema=True to evolve the schema instead")

        def _apply_dbq(df: DataFrame) -> DataFrame:
            for pred in (delete_predicates or []):
                df = df.filter(~F.coalesce(pred, F.lit(False)))
            # unhinted join: AQE broadcasts small match sets, shuffles big
            for m in (delete_match or []):
                df = df.join(m.distinct(), on=list(m.columns), how="left_anti")
            return df

        if (delete_predicates or delete_match) and delete_scope is None:
            # base may be None: a published manifest can be EMPTY (a
            # prior merge deleted every row) — the dbq then has nothing
            # to delete and only the adds (below) matter
            base = self.read()
            if base is not None:
                base = _apply_dbq(base)
            untouched_dirs: dict[int, str] = {}
        else:
            # the changed-key set (small: bounded by the batch) -> touched
            # buckets; everything else keeps its existing files
            changed_buckets = []
            for ks in (adds, delete_ids, replace_keys):
                if ks is not None:
                    changed_buckets.append(
                        ks.select(self._bucket_values(ks).alias("b")))
            if delete_scope is not None:
                # scope frame holds bucket_field VALUES by contract
                changed_buckets.append(delete_scope.select(
                    self.bucket_of(F.col(delete_scope.columns[0])).alias("b")))
            if not changed_buckets:
                return
            allb = changed_buckets[0]
            for extra in changed_buckets[1:]:
                allb = allb.unionByName(extra)
            touched = {r["b"] for r in allb.distinct().collect()}
            dirs = self._bucket_dirs()
            untouched_dirs = {b: d for b, d in dirs.items() if b not in touched}
            base = self.read_buckets(touched)
            if base is not None:
                # deletes are scope-confined, so applying them to only the
                # touched buckets equals applying them to the full view
                base = _apply_dbq(base)

        out = base
        if out is not None:
            del_keys = None
            for ks in (delete_ids, replace_keys,
                       adds.select(self.key) if adds is not None else None):
                if ks is not None:
                    k = ks.select(F.col(ks.columns[0]).alias(self.key))
                    del_keys = k if del_keys is None else del_keys.unionByName(k)
            if del_keys is not None:
                out = out.join(F.broadcast(del_keys.distinct()), self.key, "left_anti")
        if adds is not None:
            if out is None:
                out = adds
                if adds_observation is not None:
                    out = out.observe(
                        adds_observation, F.count(F.lit(1)).alias("adds"))
            else:
                out = union_adds_observed(out, adds, adds_observation,
                                          evolve=self.evolve_schema)
        if out is None:
            return
        written = self._write_version(out, self.current_version() + 1)
        self._publish({**untouched_dirs, **written}, schema=_schema_list(out))
