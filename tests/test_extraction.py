"""Operator-level tests for extraction (ports of the reference's layer-1 unit
tests: SingleCellExtractorTest, PrefixMatching*ExtractorTest,
RowBasedIndexerTest, ColumnBasedIndexerTest id/field cases)."""

import pytest
from pyspark.sql import functions as F

from hbase_indexer_spark.config.indexer_conf import IndexerConf
from hbase_indexer_spark.functions import bytes_codec as bc
from hbase_indexer_spark.operators.extraction import (
    column_documents,
    latest_cells,
    qlit,
    row_documents,
)
from hbase_indexer_spark.plans.batch import build_index

CELL_SCHEMA = (
    "table string, row string, family string, qualifier string, "
    "ts long, op string, value binary"
)


def cells_df(spark, rows):
    return spark.createDataFrame(rows, CELL_SCHEMA)


def put(row, family, qualifier, value, ts=1, table="t"):
    if isinstance(value, str):
        value = value.encode()
    return (table, row, family, qualifier, ts, "put", value)


def test_single_cell_and_int_decode(spark):
    # SingleCellExtractor.java:41-48 + int mapper
    conf = IndexerConf.from_dict({
        "table": "t",
        "fields": [
            {"name": "name_s", "value": "info:name"},
            {"name": "age_i", "value": "info:age", "type": "int"},
        ],
    })
    df = cells_df(spark, [
        put("r1", "info", "name", "alice"),
        put("r1", "info", "age", (30).to_bytes(4, "big")),
        put("r2", "info", "name", "bob"),
        put("r2", "other", "junk", "x"),
    ])
    out = {r["id"]: r for r in row_documents(df, conf).collect()}
    assert out["r1"]["name_s"] == "alice" and out["r1"]["age_i"] == 30
    assert out["r2"]["name_s"] == "bob" and out["r2"]["age_i"] is None


def test_qlit_escapes_quotes_and_backslashes(spark):
    assert qlit("a'b") == "'a''b'"
    assert qlit("plain") == "'plain'"
    # Spark's parser unescapes backslash sequences inside literals: every
    # family, qualifier and prefix must still parse back to itself
    probes = ["a'b", "plain", "a\\b", "x\\'y", "tail\\", "\\\\n", "'"]
    row = spark.range(1).select(
        *[F.expr(qlit(s)).alias(f"p{i}") for i, s in enumerate(probes)]).first()
    assert [row[f"p{i}"] for i in range(len(probes))] == probes


def test_backslash_targets_match_only_their_own_cells(spark):
    # "a\b" (backslash) must not match "a\x08" (what an unescaped '\b'
    # literal parses to), and the prefix "t\" must not break the parse
    df = cells_df(spark, [
        put("r1", "c\\f", "a\\b", "hit"),
        put("r1", "c\\f", "a\x08", "backspace"),
        put("r1", "c\\f", "t\\1", "p1"),
        put("r1", "c\\f", "t1", "no-backslash"),
        put("r1", "cf", "a\\b", "other-family"),
    ])
    exact = {"name": "exact_s", "value": "c\\f:a\\b"}
    wild = {"name": "wild_ss", "value": "c\\f:t\\*"}
    for mode, fields in (("row", [exact]), ("row", [exact, wild]),
                         ("column", [exact, wild])):
        conf = IndexerConf.from_dict({"table": "t", "mapping_type": mode,
                                      "fields": fields})
        docs = build_index(df, conf).collect()
        got = sorted((name, d[name]) for d in docs for name in d.asDict()
                     if name != "id" and d[name] is not None)
        want = [("exact_s", "hit")]
        if wild in fields:
            want.append(("wild_ss", "p1" if mode == "column" else ["p1"]))
        assert got == sorted(want), (mode, fields, got)


def test_irrelevant_rows_produce_no_doc(spark):
    # relevance filter, Indexer.java:297-311
    conf = IndexerConf.from_dict({
        "table": "t", "fields": [{"name": "n", "value": "info:name"}],
    })
    df = cells_df(spark, [put("r9", "other", "x", "y")])
    assert row_documents(df, conf).count() == 0


def test_prefix_extraction_is_qualifier_sorted(spark):
    # AbstractPrefixMatchingExtractor.java:57-71 — tailSet order contract
    conf = IndexerConf.from_dict({
        "table": "t",
        "fields": [{"name": "vals", "value": "data:d_*"}],
    })
    df = cells_df(spark, [
        put("r1", "data", "d_c", "3"),
        put("r1", "data", "d_a", "1"),
        put("r1", "data", "d_b", "2"),
        put("r1", "data", "zz", "nope"),
    ])
    row = row_documents(df, conf).first()
    assert row["vals"] == ["1", "2", "3"]


def test_wildcard_bigdecimal_decode(spark):
    """ByteArrayValueMappers.java:92-96: the bigDecimal mapper applies under
    ANY extractor, wildcards included (r5 VERDICT #5 closed the declared
    corner) — raw byte arrays extract in Catalyst, one Arrow batch decodes
    the whole array, qualifier order preserved."""
    import decimal

    conf = IndexerConf.from_dict({
        "table": "t",
        "fields": [{"name": "amts", "value": "data:amt_*",
                    "type": "bigdecimal"}],
    })

    def bd(s):
        d = decimal.Decimal(s)
        scale = -d.as_tuple().exponent
        unscaled = int(d.scaleb(scale))
        nbytes = max(1, (unscaled.bit_length() + 8) // 8)
        return (scale.to_bytes(4, "big", signed=True)
                + unscaled.to_bytes(nbytes, "big", signed=True))

    df = cells_df(spark, [
        put("r1", "data", "amt_b", bd("-0.001")),
        put("r1", "data", "amt_a", bd("123.456")),
        put("r1", "data", "amt_c", b"\x00"),  # wrong length -> NULL element
    ])
    row = row_documents(df, conf).first()
    assert row["amts"] == [decimal.Decimal("123.456").scaleb(0),
                           decimal.Decimal("-0.001").scaleb(0), None]


def test_qualifier_source_extraction(spark):
    # PrefixMatchingQualifierExtractor.java:21-31
    conf = IndexerConf.from_dict({
        "table": "t",
        "fields": [{"name": "quals", "value": "data:d_*", "source": "qualifier"}],
    })
    df = cells_df(spark, [
        put("r1", "data", "d_b", "x"),
        put("r1", "data", "d_a", "y"),
    ])
    row = row_documents(df, conf).first()
    assert row["quals"] == ["d_a", "d_b"]


def test_dynamic_output_field(spark):
    # ExtractHBaseCellsBuilder.java:223-240 — tail becomes the field name
    conf = IndexerConf.from_dict({
        "table": "t",
        "fields": [{"name": "out_*", "value": "data:d_*"}],
    })
    df = cells_df(spark, [
        put("r1", "data", "d_x", "1"),
        put("r1", "data", "d_y", "2"),
    ])
    row = row_documents(df, conf).first()
    assert row["out_"] == {"x": "1", "y": "2"}


def test_positional_output_fields(spark):
    # P8, ExtractHBaseCellsBuilder.java:210-221 — i-th sorted value to the
    # i-th name, empty name skips the position, missing position -> NULL
    conf = IndexerConf.from_dict({
        "table": "t",
        "fields": [{"value": "data:d_*",
                    "output_fields": ["first", "", "third"]}],
    })
    df = cells_df(spark, [
        put("r1", "data", "d_a", "va"),
        put("r1", "data", "d_b", "vb"),
        put("r1", "data", "d_c", "vc"),
        put("r2", "data", "d_only", "solo"),
    ])
    out = {r["id"]: r for r in row_documents(df, conf).collect()}
    assert set(out["r1"].asDict()) == {"id", "first", "third"}
    assert out["r1"]["first"] == "va" and out["r1"]["third"] == "vc"
    assert out["r2"]["first"] == "solo" and out["r2"]["third"] is None


def test_positional_output_fields_validation():
    # non-wildcard + output_fields is VALID (ExtractHBaseCellsBuilder
    # .java:128-133): the single extracted value fills the first name
    conf = IndexerConf.from_dict({
        "table": "t",
        "fields": [{"value": "data:d", "output_fields": ["a"]}],
    })
    assert conf.fields[0].output_fields == ("a",)
    with pytest.raises(ValueError, match="name or output_fields"):
        IndexerConf.from_dict({
            "table": "t", "fields": [{"value": "data:d_*"}],
        })
    with pytest.raises(ValueError, match="duplicate"):
        IndexerConf.from_dict({
            "table": "t",
            "fields": [{"name": "a", "value": "info:x"},
                       {"value": "data:d_*", "output_fields": ["", "a"]}],
        })


def test_latest_version_wins(spark):
    conf = IndexerConf.from_dict({
        "table": "t", "fields": [{"name": "n", "value": "info:name"}],
    })
    df = cells_df(spark, [
        put("r1", "info", "name", "old", ts=1),
        put("r1", "info", "name", "new", ts=2),
    ])
    assert row_documents(df, conf).first()["n"] == "new"


def test_column_mode_ids_and_escaping(spark):
    # BaseUniqueKeyFormatter.java:63-66 + hyphen escape
    # StringUniqueKeyFormatter.java:48-56
    conf = IndexerConf.from_dict({
        "table": "t", "mapping_type": "column",
        "row_field": "row_s", "column_family_field": "cf_s",
        "fields": [{"name": "val", "value": "content:*"}],
    })
    df = cells_df(spark, [put("u-1", "content", "msg-7", "hello")])
    row = column_documents(df, conf).first()
    assert row["id"] == r"u\-1-content-msg\-7"
    assert row["row_s"] == "u-1"
    assert row["cf_s"] == "content"
    assert row["val"] == "hello"


def test_hex_formatter(spark):
    # HexUniqueKeyFormatter.java:21-36
    conf = IndexerConf.from_dict({
        "table": "t", "mapping_type": "column",
        "unique_key_formatter": "hex",
        "fields": [{"name": "val", "value": "cf:*"}],
    })
    df = cells_df(spark, [put("ab", "cf", "q", "v")])
    row = column_documents(df, conf).first()
    assert row["id"] == "6162-6366-71"


def test_multi_family_pruning_and_union(spark):
    # DefaultResultToSolrMapperTest-style multi-family fixture (FIXTURES.md §5)
    conf = IndexerConf.from_dict({
        "table": "t",
        "fields": [
            {"name": "a", "value": "cfA:qualifierA"},
            {"name": "bs", "value": "cfB:qual*"},
        ],
    })
    df = cells_df(spark, [
        put("r1", "cfA", "qualifierA", "va"),
        put("r1", "cfB", "qualB1", "v1"),
        put("r1", "cfB", "qualB2", "v2"),
        put("r1", "cfC", "ignored", "x"),
    ])
    row = row_documents(df, conf).first()
    assert row["a"] == "va"
    assert row["bs"] == ["v1", "v2"]


def test_decode_error_drops_value(spark):
    # ByteArrayValueMappers.java:154-164: bad byte length -> no value
    conf = IndexerConf.from_dict({
        "table": "t",
        "fields": [{"name": "age_i", "value": "info:age", "type": "int"}],
    })
    df = cells_df(spark, [put("r1", "info", "age", b"\x01\x02")])
    assert row_documents(df, conf).first()["age_i"] is None


def test_table_regex_routing(spark):
    from hbase_indexer_spark.plans.batch import build_index

    conf = IndexerConf.from_dict({
        "table": "regex:sep-user-.*",
        "fields": [{"name": "n", "value": "info:name"}],
    })
    df = cells_df(spark, [
        put("r1", "info", "name", "a", table="sep-user-demo"),
        put("r2", "info", "name", "b", table="other-table"),
    ])
    out = build_index(df, conf).collect()
    assert len(out) == 1
    # multi-table ids are table-qualified for uniqueness; the table part is
    # hyphen-escaped so unformatTable (UniqueTableKeyFormatter.java:39,
    # interface-only in the reference) stays reversible
    assert out[0]["id"] == r"sep\-user\-demo-r1"


def test_group_events_s3(spark):
    from hbase_indexer_spark.sources.cells import group_events

    cells = spark.createDataFrame(
        [("t", "r1", "f", "b", 2, "put", b"2"),
         ("t", "r1", "f", "a", 1, "put", b"1"),
         ("t", "r2", "f", "a", 3, "put", b"3")],
        "table string, row string, family string, qualifier string, "
        "ts long, op string, value binary",
    )
    out = {r["row"]: r["cells"] for r in group_events(cells).collect()}
    assert [c["qualifier"] for c in out["r1"]] == ["a", "b"]  # ts-sorted
    assert len(out["r2"]) == 1


def test_extract_payload_u5(spark):
    from hbase_indexer_spark.sources.cells import extract_payload

    cells = spark.createDataFrame(
        [("t", "r1", "f", "data", 1, "put", b"x"),
         ("t", "r1", "f", "_payload_", 1, "put", b"p1"),
         ("t", "r1", "f", "_payload_", 2, "put", b"p2"),
         ("t", "r2", "f", "data", 1, "put", b"y")],
        "table string, row string, family string, qualifier string, "
        "ts long, op string, value binary",
    )
    out = {r["row"]: r["payload"] for r in
           extract_payload(cells, "f", "_payload_").collect()}
    assert out == {"r1": b"p2", "r2": None}  # newest version wins


def test_unique_key_roundtrip_with_hyphens(spark):
    """BaseUniqueKeyFormatterTest round-trip: hyphens inside parts escape
    as \\- and split on (?<!\\)- recovers the original parts."""
    from pyspark.sql import functions as F

    from hbase_indexer_spark.functions import unique_key as uk

    df = spark.createDataFrame(
        [("row-1", "fam-x", "qual-y"), ("plain", "f", "q")],
        "row string, family string, qualifier string",
    )
    fmt = df.select(
        "row", "family", "qualifier",
        uk.format_keyvalue_string(
            F.col("row"), F.col("family"), F.col("qualifier")).alias("id_s"),
        uk.format_keyvalue_hex(
            F.col("row"), F.col("family"), F.col("qualifier")).alias("id_h"),
    )
    back = fmt.select(
        "row", "family", "qualifier",
        uk.unformat_keyvalue_string(F.col("id_s")).alias("s"),
        uk.unformat_keyvalue_hex(F.col("id_h")).alias("h"),
    )
    for r in back.collect():
        for part in ("row", "family", "qualifier"):
            assert r["s"][part] == r[part], ("string", part, r)
            assert r["h"][part] == r[part], ("hex", part, r)


def test_unformat_table(spark):
    from pyspark.sql import functions as F

    from hbase_indexer_spark.functions import unique_key as uk

    df = spark.createDataFrame([("my-table", "r1")], "t string, row string")
    qualified = df.select(
        uk.with_table(F.col("t"), uk.format_row_string(F.col("row"))).alias("id")
    )
    assert qualified.select(
        uk.unformat_table(F.col("id")).alias("t")).first()["t"] == "my-table"
