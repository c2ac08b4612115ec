"""Self-test of the benchmark itself (no Spark session needed):

1. the same seed gives byte-identical input files, and another seed does not;
2. every correctness check passes on the expected output and fails when that
   output is corrupted: one doc dropped, one value changed.

    python3 perfbench/selftest.py        # exit status 0 when every case holds
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import duckdb  # noqa: E402
import pyarrow as pa  # noqa: E402
import pyarrow.compute as pc  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import gen  # noqa: E402
import oracle  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench", "selftest")


def _digest(d: str) -> dict[str, str]:
    out = {}
    for p in sorted(glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True)):
        with open(p, "rb") as f:
            out[os.path.relpath(p, d)] = hashlib.sha256(f.read()).hexdigest()
    return out


def _make_inputs(seed: int, d: str) -> None:
    for shape in gen.REINDEX_SHAPES:
        gen.reindex_snapshot(seed, os.path.join(d, shape), shape)
    s = os.path.join(d, "stream")
    gen.stream_snapshot(seed, s)
    for k in range(3):
        gen.stream_drop(seed, k, s, os.path.join(s, "drops"))
    gen.corpus(seed, os.path.join(d, "corpus"))


def _write(table: pa.Table, d: str) -> list[str]:
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    path = os.path.join(d, "part-0.parquet")
    pq.write_table(table, path)
    return [path]


def _corruptions(table: pa.Table, column: str) -> dict[str, pa.Table]:
    """The expected table with its first row dropped, and with one value of
    ``column`` changed (the first non-null one)."""
    col = table.column(column).to_pylist()
    i = next(j for j, v in enumerate(col) if v is not None)
    v = col[i]
    col[i] = v + "x" if isinstance(v, str) else (not v if isinstance(v, bool) else v + 1)
    changed = table.set_column(table.schema.get_field_index(column), column,
                               pa.array(col, table.schema.field(column).type))
    return {"one doc dropped": table.slice(1), f"one {column} changed": changed}


def main() -> int:
    shutil.rmtree(WORK, ignore_errors=True)
    cases: list[tuple[str, bool]] = []

    a, b, c = (os.path.join(WORK, n) for n in ("seed7-a", "seed7-b", "seed8"))
    _make_inputs(7, a)
    _make_inputs(7, b)
    _make_inputs(8, c)
    da, db, dc = _digest(a), _digest(b), _digest(c)
    cases.append((f"same seed, byte-identical inputs ({len(da)} files)", da == db and len(da) > 0))
    cases.append(("another seed, different inputs",
                  all(da[k] != dc.get(k) for k in da)))

    # reindex (both shapes share the check): the truth table is the expected index
    truth_file = os.path.join(a, "batch_reindex_versions", "truth.parquet")
    truth = pq.read_table(truth_file)
    out = os.path.join(WORK, "out")
    cases.append(("reindex check passes on expected docs",
                  oracle.check_reindex(_write(truth, out), truth_file)[0]))
    for what, bad in _corruptions(truth, "f_long").items():
        cases.append((f"reindex check fails: {what}",
                      not oracle.check_reindex(_write(bad, out), truth_file)[0]))
    bad_field = truth.set_column(truth.schema.get_field_index("f_bad"), "f_bad",
                                 pc.cast(truth.column("f_long"), pa.int64()))
    cases.append(("reindex check fails: wrong-length field decoded",
                  not oracle.check_reindex(_write(bad_field, out), truth_file)[0]))

    # CDC stream: expected index computed by the oracle itself
    s = os.path.join(a, "stream")
    events = [os.path.join(s, "snapshot.parquet")] + sorted(
        glob.glob(os.path.join(s, "drops", "*.parquet")))
    truths = sorted(glob.glob(os.path.join(s, "truth", "*.parquet")))
    expected = duckdb.connect().execute(
        oracle.expected_stream_sql(events, truths)).arrow()
    if isinstance(expected, pa.RecordBatchReader):
        expected = expected.read_all()
    cases.append(("stream check passes on expected index",
                  oracle.check_stream(_write(expected, out), events, truths)[0]))
    for what, bad in _corruptions(expected, "f_long").items():
        cases.append((f"stream check fails: {what}",
                      not oracle.check_stream(_write(bad, out), events, truths)[0]))

    # pipeline.dedup: the DuckDB oracle's kept ids
    docs = sorted(glob.glob(os.path.join(a, "corpus", "docs", "*.parquet")))
    kept = oracle.expected_kept_ids(docs)
    kept_table = pa.table({"doc_id": pa.array(kept, pa.int64())})
    cases.append(("dedup check passes on oracle ids",
                  oracle.check_dedup(_write(kept_table, out), kept)[0]))
    for what, bad in _corruptions(kept_table, "doc_id").items():
        cases.append((f"dedup check fails: {what}",
                      not oracle.check_dedup(_write(bad, out), kept)[0]))

    for what, ok in cases:
        print(f"{'ok  ' if ok else 'FAIL'} {what}")
    shutil.rmtree(WORK, ignore_errors=True)
    return 0 if all(ok for _w, ok in cases) else 1


if __name__ == "__main__":
    sys.exit(main())
