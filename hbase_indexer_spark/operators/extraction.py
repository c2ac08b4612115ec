"""Cell -> document extraction operators (reference §2.3 P1-P13).

Operates on the canonical ``cells`` schema (FIXTURES.md §0):

    cells(table STRING, row STRING, family STRING, qualifier STRING,
          ts BIGINT, op STRING, value BINARY)

Extraction compiles an IndexerConf from SQL text: the target predicates,
the cell selection (filter / array_sort / try_element_at over SQL lambdas)
and the built-in decoders (functions/bytes_codec.py) are each rendered as
one string that ``F.expr`` parses in a single py4j round trip.  The decode
step is the only part that may leave SQL: custom U1 mappers (user Column
callables) and bigdecimal (a pandas UDF) are applied as Columns to the
SQL-selected value or array.  Catalyst sees plain expressions either way,
so column pruning and predicate pushdown hold and the row loop stays in
whole-stage codegen.

Reference parity:
- single-cell extract   -> SingleCellExtractor.java:41-48        (P1)
- prefix cell extract   -> AbstractPrefixMatchingExtractor.java:57-71, qualifier-
  sorted via NavigableMap tailSet order -> array_sort here        (P2)
- prefix qualifier extract -> PrefixMatchingQualifierExtractor.java:21-31 (P3)
- type decode           -> ByteArrayValueMappers.java             (P5)
- dynamic output fields -> ExtractHBaseCellsBuilder.java:223-240  (P7)
- doc ids               -> String/HexUniqueKeyFormatter           (P9-P11)
- id injection          -> IdAddingSolrUpdateWriter.java:59-80    (P12)
- row/family injection  -> RowAndFamilyAddingSolrUpdateWriter.java:29-78 (P13)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hbase_indexer_spark.config.indexer_conf import (
    SOURCE_QUALIFIER,
    FieldDef,
    IndexerConf,
)
from hbase_indexer_spark.functions.bytes_codec import (
    decode_bigdecimal_array,
    decode_sql,
    decoder_for,
    is_custom_mapper,
)
from hbase_indexer_spark.functions.colmemo import memo
from hbase_indexer_spark.functions import unique_key as uk

OP_PUT = "put"
DELETE_OPS = ("delete_column", "delete_family", "delete_row")


# ---------------------------------------------------------------------------
# Relevance predicates (F1-F3)
# ---------------------------------------------------------------------------

def table_predicate(conf: IndexerConf, table: Column) -> Column:
    """F1 — table routing: literal name or regex (IndexingEventListener.java:60-97)."""
    pat = conf.table_regex
    if pat is not None:
        return table.rlike(pat)
    return table == F.lit(conf.table)


def qlit(s: str) -> str:
    """Single-quoted SQL string literal.  Spark's parser unescapes
    backslash sequences inside literals, so ``\\`` is escaped first, then
    ``'`` is doubled."""
    return "'" + s.replace("\\", "\\\\").replace("'", "''") + "'"


def _target_sql(family: str, qualifier: str, prefix: bool, x: str = "") -> str:
    """SQL predicate: does the cell (columns ``{x}family`` / ``{x}qualifier``)
    hit the target ``family:qualifier``, or ``family:qualifier*`` when
    ``prefix``?"""
    p = f"({x}family = {qlit(family)})"
    if not prefix:
        return f"({p} AND ({x}qualifier = {qlit(qualifier)}))"
    if qualifier:
        return f"({p} AND startswith({x}qualifier, {qlit(qualifier)}))"
    return p


def target_match_sql(conf: IndexerConf) -> str:
    """Does a cell hit any extractor target? (isRelevantKV,
    DefaultResultToSolrMapper.java:119-126), as SQL text over the canonical
    ``family`` / ``qualifier`` columns."""
    preds = [_target_sql(fam, qual, False) for fam, qual in sorted(conf.exact_targets())]
    preds += [_target_sql(fam, prefix, True) for fam, prefix in sorted(conf.prefix_targets())]
    if not preds:
        return "false"
    out = preds[0]
    for p in preds[1:]:
        out = f"({out} OR {p})"
    return out


def put_relevant_pred(conf: IndexerConf) -> Column:
    """The put-filter of the document builders — op = put AND the cell hits
    an extractor target.  Depends only on ``conf``, so compiled once per
    context (the builders run it per micro-batch), and parsed from SQL text
    in ONE round trip."""
    return memo(("put_relevant", conf), lambda: F.expr(
        f"((op = {qlit(OP_PUT)}) AND {target_match_sql(conf)})"
    ))


# ---------------------------------------------------------------------------
# Version resolution
# ---------------------------------------------------------------------------

def latest_cells(cells: DataFrame, order_cols: tuple[str, ...] = ("ts",)) -> DataFrame:
    """Keep the newest version per (table,row,family,qualifier) — the HBase
    Result contract (one visible cell per column, highest timestamp).  A
    single partial aggregation (max_by) — no window, no second shuffle."""
    aggs = memo(("latest_cells", order_cols), lambda: [
        F.max_by("value", F.struct(*[F.col(c) for c in order_cols])).alias("value"),
        F.max(order_cols[0]).alias("ts"),
    ])
    return cells.groupBy("table", "row", "family", "qualifier").agg(*aggs)


# ---------------------------------------------------------------------------
# Field expression compiler
# ---------------------------------------------------------------------------

def _decode(fd: FieldDef, sel: str, each: str | None = None) -> Column:
    """The decode step over SQL-selected cells, mirroring
    ByteArrayValueMappers.getMapper dispatch.  With ``each`` None, ``sel``
    is SQL text of one raw value; otherwise ``sel`` is an array of matched
    cell structs and ``each`` the raw bytes of its element ``x``.

    Built-in types decode as SQL text.  bigdecimal (a pandas UDF) and custom
    U1 mappers (user Column callables) have no SQL form, so they are
    applied as Columns to the SQL-selected value or array."""
    ds = decode_sql(fd.type, sel if each is None else each)
    if ds is not None:
        return F.expr(ds if each is None else f"transform({sel}, x -> {ds})")
    if each is not None and fd.type == "bigdecimal":
        # a scalar UDF cannot be invoked inside a HOF lambda, so the raw
        # byte arrays are selected in Catalyst and decoded in one Arrow
        # batch (ByteArrayValueMappers.java:92-96: the mapper applies under
        # any extractor, wildcards included)
        return decode_bigdecimal_array(F.expr(f"transform({sel}, x -> {each})"))
    fn = decoder_for(fd.type) if isinstance(fd.type, str) else fd.type
    # U1 Configurable contract: a custom mapper with <param> config is
    # called as fn(col, params_dict) (ConfigureUtil.java:1-33 analog);
    # params on built-in types are config metadata only
    args = (dict(fd.params),) if fd.params and is_custom_mapper(fd.type) else ()
    if each is None:
        return fn(F.expr(sel), *args)
    if fd.source == SOURCE_QUALIFIER:
        return F.transform(F.expr(sel), lambda c: fn(c["qualifier"].cast("binary"), *args))
    return F.transform(F.expr(sel), lambda c: fn(c["value"], *args))


def field_expr(fd: FieldDef, cells: str) -> Column:
    """Compile one FieldDef into an expression over ``cells``, SQL text of a
    per-row array<struct<family,qualifier,value>> (qualifier order restored
    by array_sort, preserving the reference's sorted-prefix contract)."""
    match = _target_sql(fd.family, fd.qualifier, fd.wildcard, "x.")
    if not fd.wildcard:
        # P1 single cell: 0-or-1 value
        return _decode(fd, f"try_element_at(filter({cells}, x -> {match}), 1).value").alias(fd.name)

    matched = f"array_sort(filter({cells}, x -> {match}))"  # struct sort => qualifier order
    # P3 indexes the qualifier bytes themselves, P2 the values of all
    # matching qualifiers, qualifier-sorted
    raw = "CAST(x.qualifier AS BINARY)" if fd.source == SOURCE_QUALIFIER else "x.value"
    values = _decode(fd, matched, raw)
    if fd.dynamic_name:
        # P7: qualifier tail becomes the field name -> closed-form MapType column
        tails = F.expr(f"transform({matched}, x -> substr(x.qualifier,"
                       f" {len(fd.qualifier) + 1}, length(x.qualifier)))")
        return F.map_from_arrays(tails, values).alias(fd.name_stem)
    return values.alias(fd.name or "_positional")


def field_exprs(fd: FieldDef, cells: str) -> list[Column]:
    """Compile one FieldDef into its output column(s).  Normally one column;
    P8 positional output fields (``outputFields: [a,"",c]``,
    ExtractHBaseCellsBuilder.java:210-221) expand the qualifier-sorted
    extracted array into one column per non-empty name — the i-th value
    feeds the i-th name, empty names skip that position."""
    base = field_expr(fd, cells)
    if not fd.output_fields:
        return [base]
    if not fd.wildcard:
        # single-cell extractor feeds at most ONE value, so only the first
        # positional name can be filled; later names stay typed NULLs
        # (ExtractHBaseCellsBuilder.java:208-221: the apply loop stops when
        # the extracted iterator is exhausted)
        return [
            (base if i == 0 else F.when(F.lit(False), base)).alias(name)
            for i, name in enumerate(fd.output_fields)
            if name
        ]
    return [
        F.try_element_at(base, F.lit(i + 1)).alias(name)
        for i, name in enumerate(fd.output_fields)
        if name
    ]


def _resolution_key(conf: IndexerConf) -> tuple:
    """Identity of every runtime-registry callable a compile of ``conf``
    resolves (U1 custom value mappers looked up by name).  Part of each
    memo key: re-registering a name resolves to a different callable, so
    the cached compile is invalidated exactly when resolution would change.

    The key holds the callable OBJECT, not its ``id()`` (ADVICE r9):
    functions hash by identity, and the key tuple's reference keeps the
    resolved callable alive for as long as the memo entry exists — a
    de-registered mapper's address can therefore never be recycled into a
    colliding id while a compile against it is still cached."""
    return tuple(
        decoder_for(fd.type)
        if isinstance(fd.type, str) and is_custom_mapper(fd.type) else None
        for fd in conf.fields
    )


def row_id_expr(conf: IndexerConf, row: Column, table: Column) -> Column:
    fmt = uk.row_formatter(conf.unique_key_formatter)
    out = fmt(row)
    if conf.table_name_field is None and conf.table_regex is not None:
        # multi-table indexers need table-qualified ids to stay unique
        out = uk.with_table(table, out, hex_mode=conf.unique_key_formatter == "hex")
    return out


def keyvalue_id_expr(conf: IndexerConf, row: Column, family: Column,
                     qualifier: Column) -> Column:
    fmt = uk.keyvalue_formatter(conf.unique_key_formatter)
    return fmt(row, family, qualifier)


# ---------------------------------------------------------------------------
# Document builders
# ---------------------------------------------------------------------------

def row_documents(cells: DataFrame, conf: IndexerConf) -> DataFrame:
    """ROW mapping (Indexer.RowBasedIndexer, Indexer.java:222-323): one doc
    per rowkey, built from the latest visible version of each mapped column.

    Scale shape: filter -> single groupBy(row) shuffle -> project.  The
    relevance filter runs before the shuffle (change pruning, Indexer.java:
    297-311) and Catalyst pushes the column prune into the scan.

    When every field is an exact ``cf:qual`` target the plan pivots directly
    in ONE aggregation — ``max(when(match, struct(ts, value)))`` per field —
    which is partially-aggregable (map-side combine collapses each rowkey's
    cells to one pre-aggregated row before the exchange), so the shuffle
    carries one row per key instead of one row per cell, and version
    resolution (latest ts wins) costs no extra shuffle.  Wildcard fields
    need the cell array (qualifier-sorted multi-value contract), so those
    configs fall back to version-dedup + collect_list (two exchanges).
    """
    put_cells = cells.filter(put_relevant_pred(conf))

    def id_cols() -> list[Column]:
        out: list[Column] = [
            row_id_expr(conf, F.col("row"), F.col("table")).alias(conf.unique_key_field)
        ]
        if conf.table_name_field:
            out.append(F.col("table").alias(conf.table_name_field))
        return out

    reskey = _resolution_key(conf)
    if all(not fd.wildcard for fd in conf.fields):
        def build() -> tuple:
            aggs = [
                F.expr(
                    f"max(CASE WHEN {_target_sql(fd.family, fd.qualifier, False)}"
                    f" THEN struct(ts, value) END)"
                ).alias(f"_c{i}")
                for i, fd in enumerate(conf.fields)
            ]
            cols = id_cols() + [_decode(fd, f"_c{i}.value").alias(fd.name)
                                for i, fd in enumerate(conf.fields)]
            return aggs, cols

        aggs, cols = memo(("row_docs_exact", conf, reskey), build)
        return put_cells.groupBy("table", "row").agg(*aggs).select(*cols)

    latest = latest_cells(put_cells)
    agg, cols = memo(("row_docs_wild", conf, reskey), lambda: (
        F.collect_list(F.struct("family", "qualifier", "value")).alias("_cells"),
        id_cols() + [c for fd in conf.fields for c in field_exprs(fd, "_cells")],
    ))
    return latest.groupBy("table", "row").agg(agg).select(*cols)


def column_documents(cells: DataFrame, conf: IndexerConf) -> DataFrame:
    """COLUMN mapping (Indexer.ColumnBasedIndexer, Indexer.java:325-451): one
    doc per matched cell; id = formatted (row, family, qualifier)
    (BaseUniqueKeyFormatter.java:63-66)."""
    put_cells = cells.filter(put_relevant_pred(conf))
    latest = latest_cells(put_cells)

    def build_cols() -> list[Column]:
        cols: list[Column] = [
            keyvalue_id_expr(conf, F.col("row"), F.col("family"), F.col("qualifier"))
            .alias(conf.unique_key_field)
        ]
        if conf.table_name_field:
            cols.append(F.col("table").alias(conf.table_name_field))
        # P13 row/family injection, formatted like the id parts
        fmt = uk.row_formatter(conf.unique_key_formatter)
        if conf.row_field:
            cols.append(fmt(F.col("row")).alias(conf.row_field))
        if conf.column_family_field:
            cols.append(fmt(F.col("family")).alias(conf.column_family_field))
        # evaluate every field def against the single cell
        single = "array(struct(family, qualifier, value))"
        for fd in conf.fields:
            if fd.output_fields:
                # per-cell doc: only position 0 can ever match
                cols.extend(field_exprs(fd, single))
                continue
            fe = field_expr(fd, single)
            if fd.wildcard and not fd.dynamic_name:
                # per-cell doc: a wildcard match yields exactly the one value
                fe = F.try_element_at(fe, F.lit(1)).alias(fd.name)
            cols.append(fe)
        return cols

    cols = memo(("col_docs", conf, _resolution_key(conf)), build_cols)
    return latest.select(*cols)
