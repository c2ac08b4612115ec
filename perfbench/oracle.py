"""Correctness checks, computed in DuckDB independently of the program.

Each check compares the program's published output (parquet files) with an
expected result and returns ``(ok, detail)``.  Tables are compared by row
count plus an order-independent hash: the sum of a per-row hash over every
column, each cast to the type the doc build must produce.
"""

from __future__ import annotations

from gen import REINDEX_FIELDS, STREAM_FIELDS

_DUCK_TYPES = {"int": "INTEGER", "long": "BIGINT", "double": "DOUBLE",
               "float": "FLOAT", "short": "SMALLINT", "boolean": "BOOLEAN",
               "string": "VARCHAR"}

REINDEX_COLUMNS = [("id", "VARCHAR")] + [(n, _DUCK_TYPES[t]) for n, _q, t in REINDEX_FIELDS]
STREAM_COLUMNS = [("id", "VARCHAR")] + [(n, _DUCK_TYPES[t]) for n, _f, _q, t in STREAM_FIELDS]


def _connect():
    # imported here, so importing this module leaves the driver process lean
    import duckdb

    return duckdb.connect()


def _files(paths) -> str:
    if isinstance(paths, str):
        paths = [paths]
    return "[" + ", ".join("'" + p.replace("'", "''") + "'" for p in paths) + "]"


def _digest(con, relation: str, columns) -> tuple:
    cast = ", ".join(f"CAST({c} AS {t})" for c, t in columns)
    return con.execute(
        f"SELECT count(*), coalesce(sum(hash({cast})::HUGEINT), 0) FROM {relation}"
    ).fetchone()


def _compare(con, got_rel: str, exp_rel: str, columns) -> tuple[bool, str]:
    got, exp = _digest(con, got_rel, columns), _digest(con, exp_rel, columns)
    if got == exp:
        return True, f"{got[0]} docs match"
    return False, f"got {got[0]} docs, expected {exp[0]} (hash {got[1]} vs {exp[1]})"


# -- batch_reindex -------------------------------------------------------------

def check_reindex(index_files, truth_file: str) -> tuple[bool, str]:
    """Docs equal the generator's pre-encode typed values joined by id, and
    the wrong-length field is NULL on every doc."""
    con = _connect()
    got = f"read_parquet({_files(index_files)})"
    bad = con.execute(f"SELECT count(f_bad) FROM {got}").fetchone()[0]
    ok, detail = _compare(con, got, f"read_parquet({_files(truth_file)})", REINDEX_COLUMNS)
    if bad:
        return False, f"{bad} docs carry a value for the wrong-length field"
    return ok, detail


# -- cdc_row_stream ----------------------------------------------------------

def expected_stream_sql(event_files, truth_files) -> str:
    """Row-mode index under HBase visibility over the whole event log: per
    column the latest put whose ts is newer than every row, family and column
    tombstone of its scope; one doc per row with at least one visible mapped
    cell, its fields joined to the generator's typed values by seq."""
    ev = f"read_parquet({_files(event_files)})"
    truth = f"read_parquet({_files(truth_files)}, union_by_name = true)"
    fields = ",\n".join(
        f"max(t.{name}) FILTER (WHERE l.family = '{f}' AND l.qualifier = '{q}') AS {name}"
        for name, f, q, _t in STREAM_FIELDS)
    mapped = " OR ".join(f"(p.family = '{f}' AND p.qualifier = '{q}')"
                         for _n, f, q, _t in STREAM_FIELDS)
    return f"""
        WITH ev AS (SELECT * FROM {ev}),
        dr AS (SELECT row, max(ts) AS t FROM ev WHERE op = 'delete_row' GROUP BY row),
        df AS (SELECT row, family, max(ts) AS t FROM ev
               WHERE op = 'delete_family' GROUP BY row, family),
        dc AS (SELECT row, family, qualifier, max(ts) AS t FROM ev
               WHERE op = 'delete_column' GROUP BY row, family, qualifier),
        vis AS (
            SELECT p.row, p.family, p.qualifier, p.ts, p.seq FROM ev p
            LEFT JOIN dr ON dr.row = p.row
            LEFT JOIN df ON df.row = p.row AND df.family = p.family
            LEFT JOIN dc ON dc.row = p.row AND dc.family = p.family
                        AND dc.qualifier = p.qualifier
            WHERE p.op = 'put' AND ({mapped})
              AND p.ts > greatest(coalesce(dr.t, -1), coalesce(df.t, -1), coalesce(dc.t, -1))
        ),
        latest AS (
            SELECT row, family, qualifier, arg_max(seq, ts) AS seq
            FROM vis GROUP BY row, family, qualifier
        )
        SELECT l.row AS id,
        {fields}
        FROM latest l JOIN {truth} t ON t.seq = l.seq
        GROUP BY l.row
    """


def check_stream(index_files, event_files, truth_files) -> tuple[bool, str]:
    con = _connect()
    return _compare(con, f"read_parquet({_files(index_files)})",
                    f"({expected_stream_sql(event_files, truth_files)})",
                    STREAM_COLUMNS)


# -- near_dup_dedup ------------------------------------------------------------

def expected_kept_ids(doc_files) -> list[int]:
    """The repo's ``deduped_corpus_sql`` oracle (exact all-pairs Jaccard)."""
    from hbase_indexer_spark.pipeline.dedup import deduped_corpus_sql

    con = _connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet({_files(doc_files)})")
    return [r[0] for r in con.execute(deduped_corpus_sql()).fetchall()]


def check_dedup(kept_files, expected: list[int]) -> tuple[bool, str]:
    con = _connect()
    got = [r[0] for r in con.execute(
        f"SELECT doc_id FROM read_parquet({_files(kept_files)}) ORDER BY doc_id").fetchall()]
    if got == expected:
        return True, f"{len(got)} kept ids match"
    missing = len(set(expected) - set(got))
    extra = len(got) - len(set(got) & set(expected))
    return False, f"kept {len(got)} ids, expected {len(expected)} ({missing} missing, {extra} extra)"
