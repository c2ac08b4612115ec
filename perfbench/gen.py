"""Seeded input generators.  Each writes the program's inputs (parquet in the
canonical cells / events / documents schema) plus a ``truth`` file that only
the correctness checks read: the typed values before encoding.

Everything is derived from ``numpy.random.default_rng`` seeded with
``(seed, stream, index)`` tuples, so the same seed gives byte-identical files
and a drop's content does not depend on how many drops a run ends up making.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# -- sizes (see README.md "Scale") ------------------------------------------

# (rows, share of rows with older versions, older versions per cell); each
# row has 8 qualifiers
REINDEX_SHAPES = {
    "batch_reindex": (40_000, 0.10, 2),
    "batch_reindex_versions": (12_000, 1.0, 5),
}
REINDEX_FILES = 4
STREAM_STATE_ROWS = 10_000     # x 4 qualifiers pre-loaded into state and index
STREAM_BATCH_EVENTS = 2_000
STREAM_DELETE_SHARE = 0.05
STREAM_ZIPF_S = 1.1
CORPUS_DOCS = 3_000
CORPUS_EXACT_SHARE = 0.15
CORPUS_NEAR_SHARE = 0.15

# batch_reindex: one column per HBase type the decode matrix covers; q7 holds
# 5-byte values under a long (8-byte) mapping, so it must index as NULL
REINDEX_FIELDS = [
    ("f_int", "q0", "int"), ("f_long", "q1", "long"),
    ("f_double", "q2", "double"), ("f_float", "q3", "float"),
    ("f_short", "q4", "short"), ("f_bool", "q5", "boolean"),
    ("f_str", "q6", "string"), ("f_bad", "q7", "long"),
]
# cdc_row_stream: two families so row and family scopes differ
STREAM_FIELDS = [
    ("f_long", "d", "q0", "long"), ("f_int", "d", "q1", "int"),
    ("f_double", "e", "q2", "double"), ("f_str", "e", "q3", "string"),
]

REINDEX_TABLE = "snapshot"
STREAM_TABLE = "users"


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def _fixed_binary(values: np.ndarray, big_endian_dtype: str) -> pa.Array:
    """Big-endian bytes of a numeric array as a BINARY array (Bytes.toBytes)."""
    raw = np.ascontiguousarray(values.astype(big_endian_dtype))
    width = raw.dtype.itemsize
    fixed = pa.FixedSizeBinaryArray.from_buffers(
        pa.binary(width), len(raw), [None, pa.py_buffer(raw.tobytes())])
    return fixed.cast(pa.binary())


def _strings(rng: np.random.Generator, n: int) -> np.ndarray:
    return np.char.add("s", rng.integers(0, 10**9, n).astype(str))


def _typed(rng: np.random.Generator, htype: str, n: int) -> np.ndarray:
    if htype == "int":
        return rng.integers(-2**31, 2**31, n, dtype=np.int64).astype(np.int32)
    if htype == "long":
        return rng.integers(-2**62, 2**62, n, dtype=np.int64)
    if htype == "double":
        return rng.uniform(-1e6, 1e6, n)
    if htype == "float":
        return rng.uniform(-1e4, 1e4, n).astype(np.float32)
    if htype == "short":
        return rng.integers(-2**15, 2**15, n).astype(np.int16)
    if htype == "boolean":
        return rng.random(n) < 0.5
    if htype == "string":
        return _strings(rng, n)
    raise ValueError(htype)


def _encode(htype: str, values: np.ndarray) -> pa.Array:
    if htype == "int":
        return _fixed_binary(values, ">i4")
    if htype == "long":
        return _fixed_binary(values, ">i8")
    if htype == "double":
        return _fixed_binary(values, ">f8")
    if htype == "float":
        return _fixed_binary(values, ">f4")
    if htype == "short":
        return _fixed_binary(values, ">i2")
    if htype == "boolean":
        return _fixed_binary(np.where(values, 255, 0), "u1")
    if htype == "string":
        return pa.array(values.tolist(), pa.string()).cast(pa.binary())
    raise ValueError(htype)


def _wrong_length(rng: np.random.Generator, n: int) -> pa.Array:
    """5-byte values: no fixed-width HBase type has that length."""
    raw = rng.integers(0, 256, (n, 5), dtype=np.uint8)
    fixed = pa.FixedSizeBinaryArray.from_buffers(
        pa.binary(5), n, [None, pa.py_buffer(raw.tobytes())])
    return fixed.cast(pa.binary())


def _row_keys(n: int) -> np.ndarray:
    return np.char.add("r", np.char.zfill(np.arange(n).astype(str), 8))


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


# -- batch_reindex -----------------------------------------------------------

def reindex_snapshot(seed: int, out_dir: str, shape: str) -> dict:
    """A cells snapshot of ``REINDEX_SHAPES[shape]``: every row has one put
    per qualifier, and the given share of rows carries older versions of every
    qualifier (lower ts, other values).  Cells are shuffled across
    ``REINDEX_FILES`` files so the scan has no order to lean on.  Returns
    {"cells": n_cells, "input_bytes": parquet bytes}."""
    rng = _rng(seed, 1)
    n, old_share, old_versions = REINDEX_SHAPES[shape]
    rows = _row_keys(n)
    old_rows = np.flatnonzero(rng.random(n) < old_share)
    truth = {"id": pa.array(rows.tolist(), pa.string())}
    parts = []
    for name, qual, htype in REINDEX_FIELDS:
        if name == "f_bad":
            enc = _wrong_length(rng, n)
            truth[name] = pa.nulls(n, pa.int64())
        else:
            latest = _typed(rng, htype, n)
            enc = _encode(htype, latest)
            truth[name] = pa.array(latest)
        parts.append((rows, qual, np.full(n, 1_000 * (old_versions + 1), np.int64), enc))
        for version in range(1, old_versions + 1):
            older = (_wrong_length(rng, len(old_rows)) if name == "f_bad"
                     else _encode(htype, _typed(rng, htype, len(old_rows))))
            parts.append((rows[old_rows], qual,
                          np.full(len(old_rows), 1_000 * version, np.int64), older))
    row_col = np.concatenate([p[0] for p in parts])
    qual_col = np.concatenate([np.full(len(p[0]), p[1]) for p in parts])
    ts_col = np.concatenate([p[2] for p in parts])
    value_col = pa.concat_arrays([p[3] for p in parts])
    total = len(row_col)
    order = rng.permutation(total)
    cells = pa.table({
        "table": pa.array(np.full(total, REINDEX_TABLE).tolist(), pa.string()),
        "row": pa.array(row_col[order].tolist(), pa.string()),
        "family": pa.array(np.full(total, "d").tolist(), pa.string()),
        "qualifier": pa.array(qual_col[order].tolist(), pa.string()),
        "ts": pa.array(ts_col[order], pa.int64()),
        "op": pa.array(np.full(total, "put").tolist(), pa.string()),
        "value": value_col.take(pa.array(order)),
    })
    step = -(-total // REINDEX_FILES)
    for i in range(REINDEX_FILES):
        _write(cells.slice(i * step, step), os.path.join(out_dir, "cells", f"part-{i}.parquet"))
    _write(pa.table(truth), os.path.join(out_dir, "truth.parquet"))
    return {"cells": total, "input_bytes": dir_bytes(os.path.join(out_dir, "cells"))}


# -- cdc_row_stream ----------------------------------------------------------

_TRUTH_TYPES = {"long": pa.int64(), "int": pa.int32(), "double": pa.float64(),
                "string": pa.string()}


def _events(rows: np.ndarray, fam: np.ndarray, qual: np.ndarray, ops: np.ndarray,
            seq0: int, rng: np.random.Generator) -> tuple[pa.Table, pa.Table]:
    """Events + truth for one batch; the typed value of each put depends on
    its qualifier (STREAM_FIELDS); deletes carry no value."""
    n = len(rows)
    seq = np.arange(seq0, seq0 + n, dtype=np.int64)
    value = np.full(n, None, dtype=object)
    truth = {"seq": pa.array(seq)}
    for name, _f, q, htype in STREAM_FIELDS:
        idx = np.flatnonzero((qual == q) & (ops == "put"))
        typed = _typed(rng, htype, len(idx))
        value[idx] = _encode(htype, typed).to_pylist()
        col = np.full(n, None, dtype=object)
        col[idx] = typed.tolist()
        truth[name] = pa.array(col.tolist(), _TRUTH_TYPES[htype])
    events = pa.table({
        "seq": pa.array(seq), "event_ts": pa.array(seq),
        "table": pa.array(np.full(n, STREAM_TABLE).tolist(), pa.string()),
        "row": pa.array(rows.tolist(), pa.string()),
        "family": pa.array(fam.tolist(), pa.string()),
        "qualifier": pa.array(qual.tolist(), pa.string()),
        "ts": pa.array(seq + 1, pa.int64()),
        "op": pa.array(ops.tolist(), pa.string()),
        "value": pa.array(value.tolist(), pa.binary()),
    })
    return events, pa.table(truth)


def stream_snapshot(seed: int, out_dir: str) -> dict:
    """The pre-load: one put per (row, qualifier) for STREAM_STATE_ROWS rows,
    as an event batch (seq 0..).  Returns {"events": n}."""
    rng = _rng(seed, 2)
    n = STREAM_STATE_ROWS
    k = len(STREAM_FIELDS)
    rows = np.repeat(_row_keys(n), k)
    fam = np.tile(np.array([f for _n, f, _q, _t in STREAM_FIELDS]), n)
    qual = np.tile(np.array([q for _n, _f, q, _t in STREAM_FIELDS]), n)
    events, truth = _events(rows, fam, qual, np.full(n * k, "put"), 0, rng)
    _write(events, os.path.join(out_dir, "snapshot.parquet"))
    _write(truth, os.path.join(out_dir, "truth", "snapshot.parquet"))
    return {"events": events.num_rows}


def stream_drop(seed: int, k: int, out_dir: str, drop_dir: str) -> dict:
    """Drop ``k``: STREAM_BATCH_EVENTS events over Zipf-skewed rows (the hot
    rows are a seeded permutation, not the low keys), 5% delete_row.  The
    file is written aside and renamed into ``drop_dir`` so the file source
    never sees a partial file.  Returns {"events": n, "bytes": file size}."""
    rng = _rng(seed, 3, k)
    n_rows = STREAM_STATE_ROWS
    hot = _rng(seed, 4).permutation(n_rows)
    b = STREAM_BATCH_EVENTS
    rows = _row_keys(n_rows)[hot[(rng.zipf(STREAM_ZIPF_S, b) - 1) % n_rows]]
    pick = rng.integers(0, len(STREAM_FIELDS), b)
    fam = np.array([f for _n, f, _q, _t in STREAM_FIELDS])[pick]
    qual = np.array([q for _n, _f, q, _t in STREAM_FIELDS])[pick]
    ops = np.where(rng.random(b) < STREAM_DELETE_SHARE, "delete_row", "put")
    seq0 = STREAM_STATE_ROWS * len(STREAM_FIELDS) + k * b
    events, truth = _events(rows, fam, qual, ops, seq0, rng)
    name = f"drop-{k:06d}.parquet"
    tmp = os.path.join(out_dir, "pending", name)
    _write(events, tmp)
    _write(truth, os.path.join(out_dir, "truth", name))
    size = os.path.getsize(tmp)
    os.makedirs(drop_dir, exist_ok=True)
    os.replace(tmp, os.path.join(drop_dir, name))
    return {"events": events.num_rows, "bytes": size}


# -- near_dup_dedup ----------------------------------------------------------

def corpus(seed: int, out_dir: str) -> dict:
    """Documents: ~15% exact copies and ~15% near copies (one token in 40
    replaced, at least one: Jaccard of word 3-shingles stays far above the
    0.7 threshold, so LSH recall is ~1), the rest unique random text.  Copies
    are made of unique docs only, never of other copies, so duplicate
    clusters stay small and their size, which sets the pair-verification
    cost, does not swing from seed to seed.  Returns {"docs": n}."""
    rng = _rng(seed, 5)
    vocab = np.char.add("w", np.arange(50_000).astype(str))
    texts: list[str] = []
    originals: list[int] = []
    for i in range(CORPUS_DOCS):
        u = rng.random()
        if originals and u < CORPUS_EXACT_SHARE:
            texts.append(texts[originals[rng.integers(0, len(originals))]])
        elif originals and u < CORPUS_EXACT_SHARE + CORPUS_NEAR_SHARE:
            toks = texts[originals[rng.integers(0, len(originals))]].split(" ")
            for pos in rng.choice(len(toks), max(1, len(toks) // 40), replace=False):
                toks[pos] = vocab[rng.integers(0, len(vocab))]
            texts.append(" ".join(toks))
        else:
            originals.append(i)
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), rng.integers(40, 160))]))
    docs = pa.table({"doc_id": pa.array(np.arange(CORPUS_DOCS, dtype=np.int64)),
                     "text": pa.array(texts, pa.string())})
    half = CORPUS_DOCS // 2
    _write(docs.slice(0, half), os.path.join(out_dir, "docs", "part-0.parquet"))
    _write(docs.slice(half), os.path.join(out_dir, "docs", "part-1.parquet"))
    return {"docs": CORPUS_DOCS}


def dir_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total
