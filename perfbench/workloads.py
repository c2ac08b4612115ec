"""The benchmark's workloads and its per-layer-only components.  All drive
the indexer only through its public calls, in a closed loop (the next
operation starts when the previous one has completed), and check the
published output against ``oracle``.

A workload (``WORKLOADS``) has ``setup(i)``, which makes the inputs from the
seed in a fresh directory and runs the program's first operations on them
(JIT compilation and first-call caches), returning the time that took; the
last set-up is the one measured.  ``run(seconds, min_ops)`` measures and
returns one record per operation; then come ``final_check()`` and
``layer_metrics(spans)``, which folds the traced spans into the per-layer
metrics.  ``CdcRowStream`` and ``CorpusDedup`` run only inside traced
workload runs.  Input generation and the checks run in ``helper``, a child
process.
"""

from __future__ import annotations

import functools
import glob
import os
import queue
import shutil
import statistics
import time

import gen
import oracle
from spans import Tracer, version_stats

from hbase_indexer_spark.config.indexer_conf import IndexerConf
from hbase_indexer_spark.pipeline.dedup import (
    deduped_corpus,
    exploded_shingles,
    lsh_candidate_pairs,
    minhash_lsh_dedup_pairs,
    sigs_from_shingles,
)
from hbase_indexer_spark.plans.batch import build_index
from hbase_indexer_spark.plans.incremental import IncrementalIndexer
from hbase_indexer_spark.session import get_spark
from hbase_indexer_spark.sinks.index_store import IndexStore
from hbase_indexer_spark.sources.cells import read_cells
from hbase_indexer_spark.streaming.stream import IndexerStreamJob, read_event_stream

# span counter -> metric suffix, per traced layer
_SPAN_FIELDS = {
    "sinks.index_store.overwrite": ("jobs", "tasks", "executor_cpu_ms", "input_records",
                                    "shuffle_write_bytes", "spill_bytes", "gc_ms",
                                    "output_bytes"),
    "plans.incremental.process_batch": ("no_job_s", "py4j_calls", "jobs", "stages", "tasks",
                                        "executor_cpu_ms", "input_records",
                                        "shuffle_read_bytes", "shuffle_write_bytes",
                                        "relevant_events", "docs_upserted"),
    "pipeline.dedup.deduped_corpus": ("py4j_calls", "jobs", "executor_cpu_ms",
                                      "shuffle_read_bytes", "shuffle_write_bytes",
                                      "spill_bytes"),
}
_STORE_FIELDS = ("bytes_written", "files_written", "live_rows", "write_amplification")

WARM_PASSES = 1   # program passes in each set-up, on its fresh inputs


def _median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def _fold(spans: list[dict], span_name: str, prefix: str, time_name: str | None,
          fields, first_ops: int) -> dict:
    """Median over ops of one span kind: duration as ``prefix.time_name`` and
    each counter in ``fields`` as ``prefix.field``.  Only the spans of the
    ``first_ops`` lowest op ids count, so a run that fits more ops in its
    window still reports counts over the same ops."""
    rows = sorted((s for s in spans if s["name"] == span_name and s["op"] >= 0),
                  key=lambda s: s["op"])[:first_ops]
    out = {}
    if time_name is not None:
        out[f"{prefix}.{time_name}"] = _median(s["end"] - s["start"] for s in rows)
    for f in fields:
        out[f"{prefix}.{f}"] = _median(s.get(f, 0) for s in rows)
    return out


def _store_files(store: IndexStore) -> list[str]:
    vdir = os.path.join(store.path, f"v={store.current_version()}")
    return sorted(glob.glob(os.path.join(vdir, "*.parquet")))


# -- batch_reindex ----------------------------------------------------------------

class BatchReindex:
    """Full snapshot reindex: read_cells -> build_index -> IndexStore.overwrite.
    A traced run then drives ``side``, a component measured per layer only."""

    name = "batch_reindex"
    side = "dedup"
    conf = IndexerConf.from_dict({
        "table": gen.REINDEX_TABLE,
        "fields": [{"name": n, "value": f"d:{q}", "type": t} for n, q, t in gen.REINDEX_FIELDS],
    })

    def __init__(self, spark, seed: int, work_dir: str, tracer, layer_ops: int, helper):
        self.spark = spark
        self.seed = seed
        self.work_dir = work_dir
        self.tracer = tracer
        self.layer_ops = layer_ops   # traced ops the per-layer medians use
        self.helper = helper
        self.notes: dict = {}        # figures printed on the report lines only
        self.setup_error = ""        # the first wrong output of a set-up pass

    def setup(self, i: int) -> float:
        """Fresh inputs and store, then WARM_PASSES passes on them; returns
        the seconds taken, the checks left out."""
        d = os.path.join(self.work_dir, f"setup-{i}")
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        t0 = time.perf_counter()
        self.info = self.helper(gen.reindex_snapshot, self.seed, d, self.name)
        self.dir = d
        self.store = IndexStore(os.path.join(d, "index"))
        elapsed = time.perf_counter() - t0
        for k in range(WARM_PASSES):
            latency, ok = self.op(-1 - i * WARM_PASSES - k)
            elapsed += latency
            if not ok and not self.setup_error:
                self.setup_error = f"set-up {i} pass {k}: {self.detail}"
        return elapsed

    def op(self, k: int) -> tuple[float, bool]:
        t0 = time.perf_counter()
        cells = read_cells(self.spark, os.path.join(self.dir, "cells"))
        with self.tracer.span("plans.batch.build_index", k):
            docs = build_index(cells, self.conf)
        with self.tracer.span("sinks.index_store.overwrite", k) as rec:
            self.store.overwrite(docs, self.spark)
        latency = time.perf_counter() - t0
        if self.tracer.enabled:
            st = version_stats(self.store.path)
            rec.update(bytes_written=st["bytes"], files_written=st["files"],
                       live_rows=st["rows"],
                       write_amplification=st["bytes"] / self.info["input_bytes"])
        ok, self.detail = self.helper(oracle.check_reindex, _store_files(self.store),
                                      os.path.join(self.dir, "truth.parquet"))
        return latency, ok

    def run(self, seconds: float, min_ops: int) -> list[dict]:
        """Passes back to back until ``seconds`` have passed and at least
        ``min_ops`` ran; the checks between passes are not timed."""
        records = []
        deadline = time.perf_counter() + seconds
        while time.perf_counter() < deadline or len(records) < min_ops:
            try:
                latency, ok = self.op(len(records))
            except Exception as e:  # a failed pass is counted, and the loop goes on
                latency, ok = float("nan"), False
                self.detail = f"pass {len(records)} raised {type(e).__name__}: {e}"
            records.append({"latency_s": latency, "items": self.info["cells"], "ok": ok})
        self.side_check = (True, "")
        if self.tracer.enabled:
            if self.side == "dedup":
                self.side_run = CorpusDedup(self.spark, self.seed, self.work_dir,
                                            self.tracer, self.helper)
                self.side_check = self.side_run.run(self.layer_ops)
            else:
                self.side_run = CdcRowStream(self.spark, self.seed, self.work_dir,
                                             self.tracer, self.layer_ops, self.helper)
                self.side_check = self.side_run.side_run()
                self.spark = self.side_run.spark   # the local[1] session it left open
            self.notes.update(self.side_run.notes)
        return records

    def final_check(self) -> tuple[bool, str]:
        if self.setup_error:
            return False, self.setup_error
        ok, detail = self.side_check
        if not ok:
            return False, f"{self.side}: {detail}"
        return True, self.detail

    def layer_metrics(self, spans: list[dict]) -> dict:
        m = _fold(spans, "plans.batch.build_index", "plans.batch", "build_s",
                  ("py4j_calls",), self.layer_ops)
        m.update(_fold(spans, "sinks.index_store.overwrite", "sinks.index_store",
                       "overwrite_s", _SPAN_FIELDS["sinks.index_store.overwrite"] + _STORE_FIELDS,
                       self.layer_ops))
        # last: the stream's store figures (state plus index rewritten per
        # batch) replace the reindex publish's
        m.update(self.side_run.layer_metrics(spans, self.layer_ops))
        return m


class BatchReindexVersions(BatchReindex):
    """The same reindex over fewer rows, every cell with 5 older versions, so
    version resolution dominates.  A traced run drives the CDC stream."""

    name = "batch_reindex_versions"
    side = "stream"


# -- cdc_row_stream ---------------------------------------------------------------

class CdcRowStream:
    """Row-mode incremental indexing over Structured Streaming: parquet drops
    of STREAM_BATCH_EVENTS events, maxFilesPerTrigger=1, one drop kept queued
    ahead of the query (a replication backlog being caught up).

    Measured per layer only, from traced ``batch_reindex_versions`` runs: its
    batch latency varied by 30-55% (quartile spread over median) between runs
    on a shared 4-core host, wider than any end-to-end bound, because each
    batch is 19 jobs and ~420 py4j round trips whose wake-ups stall when the
    host is busy."""

    conf = IndexerConf.from_dict({
        "table": gen.STREAM_TABLE,
        "fields": [{"name": n, "value": f"{f}:{q}", "type": t}
                   for n, f, q, t in gen.STREAM_FIELDS],
    })

    def __init__(self, spark, seed: int, work_dir: str, tracer, layer_ops: int, helper):
        self.spark, self.seed, self.tracer = spark, seed, tracer
        self.layer_ops = layer_ops
        self.helper = helper
        self.dir = os.path.join(work_dir, "stream")
        self.notes: dict = {}
        self.query = None
        self.drop_dirs: list[str] = []
        self.next_drop = 0

    def side_run(self) -> tuple[bool, str]:
        """Pre-load, one warm-up batch, ``layer_ops`` traced batches, the
        local[1] baseline, then the check of the final index."""
        try:
            self.preload()
            self._start("main")
            self._drain(1)
            records = self.run(self.layer_ops)
            lat = [r["latency_s"] for r in records]
            self.notes.update(
                stream_batch_latency_p50_s=_median(lat),
                stream_events_per_s=sum(r["items"] for r in records) / records[0]["wall_s"],
                stream_batches=len(lat))
            self.notes.update(self.single_thread_baseline())
            return self.final_check()
        except Exception as e:  # a failed batch stops the query: a wrong output
            return False, f"stream failed: {type(e).__name__}: {e}"
        finally:
            if self.query is not None and self.query.isActive:
                self.query.stop()

    def preload(self) -> None:
        """State and index pre-loaded through one process_batch of the
        snapshot events."""
        shutil.rmtree(self.dir, ignore_errors=True)
        self.helper(gen.stream_snapshot, self.seed, self.dir)
        self.ix = IncrementalIndexer(self.spark, self.conf,
                                     state_path=os.path.join(self.dir, "state"),
                                     index_path=os.path.join(self.dir, "index"))
        self.ix.process_batch(
            self.spark.read.parquet(os.path.join(self.dir, "snapshot.parquet")), batch_id=-1)

    # -- stream plumbing --

    def _start(self, tag: str) -> None:
        """Start a stream query over a new drop directory.  process_batch is
        shadowed on the indexer instance (IndexerStreamJob reads it from
        there) to report each completed batch, and in a traced run to record
        its span."""
        self.drop_dir = os.path.join(self.dir, f"drops-{tag}")
        os.makedirs(self.drop_dir)
        self.drop_dirs.append(self.drop_dir)
        self.done: queue.Queue = queue.Queue()
        ix = self.ix
        inner = functools.partial(IncrementalIndexer.process_batch, ix)
        tracer, done = self.tracer, self.done

        def process_batch(batch, batch_id=None):
            try:
                with tracer.span("plans.incremental.process_batch", batch_id,
                                 parent="streaming.stream.trigger") as rec:
                    inner(batch, batch_id)
                if tracer.enabled:
                    # read here, before the next batch replaces the versions;
                    # the time it takes is kept out of the stream overhead
                    t0 = time.perf_counter()
                    st, si = version_stats(ix.state.path), version_stats(ix.index.path)
                    written = st["bytes"] + si["bytes"]
                    rec.update(relevant_events=ix.metrics.get("relevant_events") or 0,
                               docs_upserted=ix.metrics.get("docs_upserted") or 0,
                               bytes_written=written, files_written=st["files"] + si["files"],
                               live_rows=si["rows"],
                               write_amplification=written / self.batch_bytes[batch_id],
                               stats_s=time.perf_counter() - t0)
            except BaseException as e:
                done.put(e)
                raise
            done.put(batch_id)

        ix.process_batch = process_batch
        self.batch_bytes: dict[int, int] = {}
        self.batches_started = 0
        job = IndexerStreamJob(ix, os.path.join(self.dir, f"checkpoint-{tag}"))
        self.query = job.start(read_event_stream(self.spark, self.drop_dir,
                                                 max_files_per_trigger=1))

    def _drop(self) -> None:
        info = self.helper(gen.stream_drop, self.seed, self.next_drop, self.dir, self.drop_dir)
        # batch ids count from 0 per query; one file per batch
        self.batch_bytes[self.batches_started] = info["bytes"]
        self.batches_started += 1
        self.next_drop += 1

    def _wait(self) -> int:
        got = self.done.get(timeout=150)
        if isinstance(got, BaseException):
            raise got
        return got

    def _drain(self, batches: int) -> tuple[list[int], float]:
        """Closed loop over ``batches`` drops: keep one drop queued behind the
        running batch.  Returns (completed batch ids, wall seconds until the
        last commit)."""
        t0 = time.perf_counter()
        first = self.batches_started
        for _ in range(min(batches, 2)):
            self._drop()
        completed = []
        while len(completed) < self.batches_started - first:
            completed.append(self._wait())
            if self.batches_started - first < batches:
                self._drop()
        self.query.processAllAvailable()
        wall = time.perf_counter() - t0
        # progress is posted right after the commit processAllAvailable waits for
        for _ in range(200):
            seen = {p["batchId"] for p in self.query.recentProgress}
            if seen.issuperset(completed):
                break
            time.sleep(0.05)
        return completed, wall

    def run(self, batches: int) -> list[dict]:
        ids, wall = self._drain(batches)
        self.first_id = ids[0]
        by_id = {p["batchId"]: p for p in self.query.recentProgress}
        self.query.stop()
        progress = [by_id[b] for b in ids]
        if self.tracer.enabled:
            for p in progress:
                end = _progress_end(p)
                self.tracer.add("streaming.stream.trigger", p["batchId"],
                                end - p["durationMs"]["triggerExecution"] / 1000.0, end,
                                input_rows=p["numInputRows"])
        return [{"latency_s": p["durationMs"]["triggerExecution"] / 1000.0,
                 "items": p["numInputRows"], "wall_s": wall}
                for p in progress]

    def single_thread_baseline(self, batches: int = 2) -> dict:
        """Re-run the stream on a local[1] session (same JVM, so JIT is warm)
        over new drops: one warm-up batch, then ``batches`` timed ones."""
        self.spark.stop()
        # what SPARK_GRAFT_CPUS=1 would give: one core, one shuffle partition
        self.spark = get_spark("perfbench-local1", master="local[1]", shuffle_partitions=1)
        self.ix = IncrementalIndexer(self.spark, self.conf,
                                     state_path=self.ix.state.path,
                                     index_path=self.ix.index.path)
        tracer, self.tracer = self.tracer, Tracer(False)
        try:
            self._start("local1")
            self._drain(1)
            ids, _wall = self._drain(batches)
            progress = {p["batchId"]: p for p in self.query.recentProgress}
            self.query.stop()
        finally:
            self.tracer = tracer
        lat = [progress[b]["durationMs"]["triggerExecution"] / 1000.0 for b in ids]
        return {"local1_batch_latency_p50_s": _median(lat), "local1_batches": len(lat)}

    def final_check(self) -> tuple[bool, str]:
        events = [os.path.join(self.dir, "snapshot.parquet")]
        for d in self.drop_dirs:
            events += sorted(glob.glob(os.path.join(d, "*.parquet")))
        truth = sorted(glob.glob(os.path.join(self.dir, "truth", "*.parquet")))
        return self.helper(oracle.check_stream, _store_files(self.ix.index), events, truth)

    def layer_metrics(self, spans: list[dict], ops: int) -> dict:
        spans = [s for s in spans if s["op"] >= self.first_id
                 or not s["name"].startswith(("plans.incremental", "streaming"))]
        m = _fold(spans, "plans.incremental.process_batch", "plans.incremental",
                  "process_batch_s", _SPAN_FIELDS["plans.incremental.process_batch"], ops)
        m.update(_fold(spans, "plans.incremental.process_batch", "sinks.index_store",
                       None, _STORE_FIELDS, ops))
        trig = sorted((s for s in spans if s["name"] == "streaming.stream.trigger"),
                      key=lambda s: s["op"])[:ops]
        pb = {s["op"]: s["end"] - s["start"] + s.get("stats_s", 0.0) for s in spans
              if s["name"] == "plans.incremental.process_batch"}
        m["streaming.stream.trigger_s"] = _median(s["end"] - s["start"] for s in trig)
        m["streaming.stream.overhead_s"] = _median(
            (s["end"] - s["start"]) - pb.get(s["op"], 0.0) for s in trig)
        m["streaming.stream.input_rows"] = _median(s["input_rows"] for s in trig)
        return m


def _progress_end(p: dict) -> float:
    """Wall time at which a trigger ended: its start timestamp (UTC, ms)
    plus the trigger duration."""
    from datetime import datetime, timezone

    start = datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    start = start.replace(tzinfo=timezone.utc).timestamp()
    return start + p["durationMs"]["triggerExecution"] / 1000.0


# -- pipeline.dedup (per layer only) ------------------------------------------

class CorpusDedup:
    """``deduped_corpus`` over a seeded corpus, the kept ids written to
    parquet and checked against ``deduped_corpus_sql``.  Traced
    ``batch_reindex`` runs call it after their window, so ``pipeline.dedup``
    has per-layer figures.  It is not an end-to-end workload: its pass time
    varied 20-35% between JVM runs on a 4-core machine, wider than any bound
    an end-to-end metric may have."""

    def __init__(self, spark, seed: int, work_dir: str, tracer, helper):
        self.spark, self.tracer, self.helper = spark, tracer, helper
        self.notes: dict = {}
        self.latencies: list[float] = []
        self.dir = os.path.join(work_dir, "corpus")
        helper(gen.corpus, seed, self.dir)
        self.expected = helper(oracle.expected_kept_ids,
                               sorted(glob.glob(os.path.join(self.dir, "docs", "*.parquet"))))

    def op(self, k: int) -> tuple[bool, str]:
        out = os.path.join(self.dir, "kept", f"op-{k}")
        t0 = time.perf_counter()
        docs = self.spark.read.parquet(os.path.join(self.dir, "docs"))
        with self.tracer.span("pipeline.dedup.deduped_corpus", k):
            deduped_corpus(docs).write.parquet(out)
        if k >= 0:
            self.latencies.append(time.perf_counter() - t0)
        ok = self.helper(oracle.check_dedup, glob.glob(os.path.join(out, "*.parquet")),
                         self.expected)
        shutil.rmtree(out, ignore_errors=True)
        return ok

    def run(self, ops: int) -> tuple[bool, str]:
        """One untraced warm-up pass, ``ops`` traced passes, then the LSH
        funnel counted outside every span."""
        results = []
        for k in range(-1, ops):
            try:
                results.append(self.op(k))
            except Exception as e:  # a failed pass is a wrong output
                results.append((False, f"pass {k} raised {type(e).__name__}: {e}"))
        docs = self.spark.read.parquet(os.path.join(self.dir, "docs"))
        self.funnel = (
            lsh_candidate_pairs(sigs_from_shingles(exploded_shingles(docs))).count(),
            minhash_lsh_dedup_pairs(docs).count(),
        )
        self.notes["dedup_pass_p50_s"] = _median(self.latencies)
        bad = [detail for ok, detail in results if not ok]
        return (not bad, bad[0] if bad else results[-1][1])

    def layer_metrics(self, spans: list[dict], ops: int) -> dict:
        m = _fold(spans, "pipeline.dedup.deduped_corpus", "pipeline.dedup",
                  "deduped_corpus_s", _SPAN_FIELDS["pipeline.dedup.deduped_corpus"], ops)
        cand, verified = self.funnel
        m["pipeline.dedup.candidate_pairs"] = float(cand)
        m["pipeline.dedup.verified_pairs"] = float(verified)
        m["pipeline.dedup.verify_yield"] = verified / cand if cand else 0.0
        return m


WORKLOADS = {w.name: w for w in (BatchReindex, BatchReindexVersions)}
