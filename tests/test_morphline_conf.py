"""morphlines.conf ingestion: HOCON-subset parse + Kite-command
translation, checked against the reference's own config files (read from
the reference tree; skipped when absent).

Pins: the reference's hbase-indexer-mr morphlines.conf compiles and runs
end-to-end; ${VAR} substitution matches extractHBaseCellsWithVariables;
multi/positional output fields survive; unknown commands fail with the
register_stage escape hatch, never silently drop.
"""

import os

import pytest

from hbase_indexer_spark.config.morphline_conf import (
    morphline_to_conf,
    parse_hocon,
)

REF = "/root/reference/hbase-indexer-mr/src/test/resources/morphlines.conf"
REF_VARS = ("/root/reference/hbase-indexer-morphlines/src/test/resources/"
            "test-morphlines/extractHBaseCellsWithVariables.conf")
REF_MULTI = ("/root/reference/hbase-indexer-morphlines/src/test/resources/"
             "test-morphlines/extractHBaseCellsWithMultipleOutputFields.conf")

CELLS_SCHEMA = ("table string, row string, family string, qualifier string, "
                "ts long, op string, value binary")


def _cells(spark, rows):
    return spark.createDataFrame(rows, CELLS_SCHEMA)


def test_parse_hocon_subset():
    conf = parse_hocon("""
        # comment
        a : 1
        b : "two words"   // trailing comment
        c { d : [x, y, 3] }
        e : ${SOME_VAR}
        f : true
    """)
    assert conf["a"] == 1
    assert conf["b"] == "two words"
    assert conf["c"]["d"] == ["x", "y", 3]
    assert conf["e"] == "${SOME_VAR}"
    assert conf["f"] is True


@pytest.mark.skipif(not os.path.exists(REF), reason="reference tree absent")
def test_reference_morphlines_conf_end_to_end(spark):
    """The VERDICT-r4 worked example: the reference's own mr test
    morphline (data:* wildcard string extract + logTrace), verbatim."""
    with open(REF, encoding="utf-8") as f:
        text = f.read()
    conf_dict = morphline_to_conf(text, table="record")
    assert conf_dict["fields"] == [
        {"value": "data:*", "name": "data", "type": "string",
         "source": "value"}]
    assert conf_dict["transform_stages"] == [
        {"stage": "log_debug", "name": "logTrace"}]

    from hbase_indexer_spark.lifecycle import IndexerDefinition
    from hbase_indexer_spark.plans.batch import build_index

    conf = IndexerDefinition(name="m", conf=conf_dict).indexer_conf()
    cells = _cells(spark, [
        ("record", "row1", "data", "a", 1, "put", b"va"),
        ("record", "row1", "data", "b", 1, "put", b"vb"),
        ("record", "row2", "data", "a", 1, "put", b"vc"),
        ("other", "row3", "data", "a", 1, "put", b"zz"),
    ])
    docs = {r["id"]: r for r in build_index(cells, conf).collect()}
    assert set(docs) == {"row1", "row2"}  # table routing holds
    assert docs["row1"]["data"] == ["va", "vb"]  # qualifier-sorted multi
    assert docs["row2"]["data"] == ["vc"]


@pytest.mark.skipif(not os.path.exists(REF_VARS),
                    reason="reference tree absent")
def test_reference_variables_conf(spark):
    """${VAR} substitution at load time (the morphlineVariable surface),
    against the reference's extractHBaseCellsWithVariables.conf."""
    with open(REF_VARS, encoding="utf-8") as f:
        text = f.read()
    conf_dict = morphline_to_conf(
        text, table="record",
        variables={"INPUT_COLUMN": "info:name", "OUTPUT_FIELD": "name_s",
                   "TYPE": "string", "SOURCE": "value"})
    assert conf_dict["fields"] == [
        {"value": "info:name", "name": "name_s", "type": "string",
         "source": "value"}]
    # unresolved substitutions survive literally for downstream templating
    half = morphline_to_conf(text, table="record",
                             variables={"INPUT_COLUMN": "info:name"})
    assert half["fields"][0]["name"] == "${OUTPUT_FIELD}"


@pytest.mark.skipif(not os.path.exists(REF_MULTI),
                    reason="reference tree absent")
def test_reference_multiple_output_fields_conf(spark):
    """Positional outputFields (P8) from the reference conf: the i-th
    qualifier-sorted value lands in the i-th name, '' skips."""
    with open(REF_MULTI, encoding="utf-8") as f:
        text = f.read()
    conf_dict = morphline_to_conf(text, table="record")
    by_val = {f["value"]: f for f in conf_dict["fields"]}
    assert by_val["cfB:qualifier*"]["output_fields"] == ["fieldB", "",
                                                         "fieldC"]

    from hbase_indexer_spark.lifecycle import IndexerDefinition
    from hbase_indexer_spark.plans.batch import build_index

    conf = IndexerDefinition(name="m", conf=conf_dict).indexer_conf()
    cells = _cells(spark, [
        ("record", "r1", "cfB", "qualifier1", 1, "put", b"one"),
        ("record", "r1", "cfB", "qualifier2", 1, "put", b"two"),
        ("record", "r1", "cfB", "qualifier3", 1, "put", b"three"),
        # the conf's first mapping: single-cell int -> outputFields [fieldA]
        ("record", "r1", "cfA", "qualifierA", 1, "put",
         (42).to_bytes(4, "big")),
    ])
    (doc,) = build_index(cells, conf).collect()
    assert doc["fieldB"] == "one" and doc["fieldC"] == "three"
    assert doc["fieldA"] == 42  # non-wildcard positional fills first name


def test_unknown_command_fails_with_escape_hatch():
    text = """
    morphlines : [
      { id : m1
        commands : [
          { extractHBaseCells { mappings : [
              { inputColumn : "cf:q", outputField : f } ] } }
          { readSequenceFile { inputField : blob } }
        ] } ]
    """
    with pytest.raises(ValueError, match="register_stage"):
        morphline_to_conf(text, table="t")


def test_registered_custom_command_passes_through(spark):
    from hbase_indexer_spark.operators.transform import (
        STAGE_REGISTRY,
        register_stage,
    )

    @register_stage("reverseField")
    def _reverse(params):
        import pyspark.sql.functions as F
        f = params["field"]
        return lambda df: df.withColumn(f, F.reverse(F.col(f)))

    try:
        text = """
        morphlines : [
          { id : m1
            commands : [
              { extractHBaseCells { mappings : [
                  { inputColumn : "cf:q", outputField : f } ] } }
              { reverseField { field : f } }
            ] } ]
        """
        conf = morphline_to_conf(text, table="t")
        assert conf["transform_stages"] == [
            {"stage": "reverseField", "field": "f"}]
    finally:
        STAGE_REGISTRY.pop("reverseField", None)


def test_kite_command_translations():
    text = """
    morphlines : [
      { id : m1
        commands : [
          { extractHBaseCells { mappings : [
              { inputColumn : "cf:body", outputField : body,
                type : "byte[]" } ] } }
          { setValues { src : web } }
          { toLowerCase { field : body } }
          { split { inputField : body, outputField : parts,
                    separator : "," } }
          { convertTimestamp { field : ts,
                               inputFormats : ["unixTimeInMillis"],
                               outputFormat : "yyyy-MM-dd" } }
          { logDebug { format : "rec: {}", args : ["@{}"] } }
        ] } ]
    """
    conf = morphline_to_conf(text, table="t")
    assert conf["fields"] == [{"value": "cf:body", "name": "body",
                               "type": "bytes"}]
    stages = conf["transform_stages"]
    assert stages[0] == {"stage": "set_field", "field": "src",
                         "value": "web"}
    assert stages[1] == {"stage": "lowercase_field", "field": "body"}
    assert stages[2] == {"stage": "split_field", "field": "body",
                         "into": "parts", "pattern": ","}
    assert stages[3]["stage"] == "convert_timestamp"
    assert stages[3]["input_formats"] == ["unixTimeInMillis"]
    assert stages[4] == {"stage": "log_debug", "name": "logDebug"}


def test_bytes_type_passthrough_roundtrip(spark):
    """type byte[] -> 'bytes' identity decode (ExtractHBaseCellsBuilder
    .java:147-155): the raw cell bytes survive for downstream commands."""
    from hbase_indexer_spark.functions.bytes_codec import decode_sql, encode_bytes
    import pyspark.sql.functions as F

    df = spark.createDataFrame([(b"\x00\x01\xff",)], "b binary")
    assert decode_sql("bytes", "b") == "b"
    out = df.select(encode_bytes(F.col("b")).alias("b"))
    assert out.collect()[0]["b"] == b"\x00\x01\xff"


def test_translate_and_find_replace_stages(spark):
    """Kite translate/findReplace analogs, through the compiler and the
    stage execution (CASE-chain dictionary + fallback; regex replace)."""
    text = """
    morphlines : [
      { id : m1
        commands : [
          { extractHBaseCells { mappings : [
              { inputColumn : "cf:code", outputField : code } ] } }
          { translate { field : code, dictionary : { a : alpha, b : beta },
                        fallback : unknown } }
          { findReplace { field : code, pattern : "ph", replacement : "f" } }
        ] } ]
    """
    conf = morphline_to_conf(text, table="t")
    assert conf["transform_stages"][0]["dictionary"] == {"a": "alpha",
                                                         "b": "beta"}
    from hbase_indexer_spark.operators.transform import TransformChain

    chain = TransformChain.from_config(conf["transform_stages"])
    df = spark.createDataFrame([("a",), ("b",), ("zz",)], "code string")
    got = sorted(r["code"] for r in chain(df).collect())
    assert got == ["alfa", "beta", "unknown"]  # translate then ph->f


def test_grok_dictionary_expansion(spark):
    """Kite grok with %{NAME:field} references: builtins + an inline
    dictionaryString expand to named groups, executed JVM-side."""
    text = r"""
    morphlines : [
      { id : m1
        commands : [
          { extractHBaseCells { mappings : [
              { inputColumn : "cf:line", outputField : line } ] } }
          { grok {
              dictionaryString : "REQID req-%{INT}"
              expressions : { line : "%{LOGLEVEL:level} %{IP:ip} %{REQID:rid}" }
          } }
        ] } ]
    """
    conf = morphline_to_conf(text, table="t")
    (stage,) = conf["transform_stages"]
    assert stage["stage"] == "regex_extract"

    from hbase_indexer_spark.operators.transform import TransformChain

    chain = TransformChain.from_config(conf["transform_stages"])
    df = spark.createDataFrame(
        [("INFO 10.0.0.7 req-42",), ("not a log line",)], "line string")
    rows = chain(df).collect()
    assert len(rows) == 1  # drop_unmatched, grok's record-drop behavior
    r = rows[0]
    assert (r["level"], r["ip"], r["rid"]) == ("INFO", "10.0.0.7", "req-42")


def test_grok_unknown_pattern_fails():
    from hbase_indexer_spark.config.morphline_conf import expand_grok

    import pytest as _pytest
    with _pytest.raises(ValueError, match="unknown grok pattern"):
        expand_grok("%{NOSUCHPATTERN:x}")


def test_case_trim_base64_stages(spark):
    """toUpperCase / trim / decodeBase64 analogs through the compiler."""
    text = """
    morphlines : [
      { id : m1
        commands : [
          { extractHBaseCells { mappings : [
              { inputColumn : "cf:code", outputField : code } ] } }
          { trim { field : code } }
          { toUpperCase { field : code } }
          { decodeBase64 { inputField : b64, outputField : raw } }
        ] } ]
    """
    conf = morphline_to_conf(text, table="t")
    from hbase_indexer_spark.operators.transform import TransformChain

    chain = TransformChain.from_config(conf["transform_stages"])
    df = spark.createDataFrame([("  ab ", "aGk=")], "code string, b64 string")
    row = chain(df).collect()[0]
    assert row["code"] == "AB"
    assert bytes(row["raw"]) == b"hi"


def test_read_csv_stage(spark):
    """readCSV analog: positional split, skip-position, trim, NULL pad."""
    text = """
    morphlines : [
      { id : m1
        commands : [
          { extractHBaseCells { mappings : [
              { inputColumn : "cf:line", outputField : line } ] } }
          { readCSV { inputField : line, separator : ";",
                      columns : [first, "", third, missing] } }
        ] } ]
    """
    conf = morphline_to_conf(text, table="t")
    from hbase_indexer_spark.operators.transform import TransformChain

    chain = TransformChain.from_config(conf["transform_stages"])
    df = spark.createDataFrame([(" a ;skipme; c ",)], "line string")
    row = chain(df).collect()[0]
    assert row["first"] == "a" and row["third"] == "c"
    assert row["missing"] is None
    assert "skipme" not in row.asDict().values()


def test_extract_uri_components_stage(spark):
    text = """
    morphlines : [
      { id : m1
        commands : [
          { extractHBaseCells { mappings : [
              { inputColumn : "cf:url", outputField : url } ] } }
          { extractURIComponents { inputField : url,
                                   outputFieldPrefix : "u_" } }
        ] } ]
    """
    conf = morphline_to_conf(text, table="t")
    from hbase_indexer_spark.operators.transform import TransformChain

    chain = TransformChain.from_config(conf["transform_stages"])
    df = spark.createDataFrame(
        [("https://example.com:8443/a/b?x=1&y=2#frag",),
         ("not a url",)], "url string")
    rows = chain(df).collect()
    ok = rows[0]
    assert ok["u_scheme"] == "https"
    assert ok["u_host"] == "example.com"
    assert ok["u_port"] == 8443
    assert ok["u_path"] == "/a/b"
    assert ok["u_query"] == "x=1&y=2"
    assert ok["u_fragment"] == "frag"
    assert rows[1]["u_host"] is None


def test_read_line_stage(spark):
    """readLine analog: one row per line, ignoreFirstLine + commentPrefix."""
    text = """
    morphlines : [
      { id : m1
        commands : [
          { extractHBaseCells { mappings : [
              { inputColumn : "cf:blob", outputField : blob } ] } }
          { readLine { inputField : blob, outputField : ln,
                       ignoreFirstLine : true, commentPrefix : "#" } }
        ] } ]
    """
    conf = morphline_to_conf(text, table="t")
    from hbase_indexer_spark.operators.transform import TransformChain

    chain = TransformChain.from_config(conf["transform_stages"])
    df = spark.createDataFrame(
        [("header\r\nfirst\n# a comment\nsecond",)], "blob string")
    rows = [r["ln"] for r in chain(df).collect()]
    assert rows == ["first", "second"]
    assert "blob" not in chain(df).columns


def test_read_json_stage_multiplies_arrays(spark):
    """readJson analog: top-level array -> one row per element; a bare
    object passes through; drop_invalid filters garbage."""
    from hbase_indexer_spark.operators.transform import TransformChain

    chain = TransformChain.from_config([
        {"stage": "read_json", "field": "raw", "into": "j",
         "drop_invalid": True},
        {"stage": "extract_json_paths", "field": "j",
         "paths": {"a": "$.a"}},
    ])
    df = spark.createDataFrame(
        [(1, '[{"a":1},{"a":2}]'), (2, '{"a":3}'), (3, "not json")],
        "k int, raw string")
    got = sorted((r["k"], r["a"]) for r in chain(df).collect())
    assert got == [(1, "1"), (1, "2"), (2, "3")]


def test_generate_uuid_stage(spark):
    """generateUUID analog: deterministic name-based ids, preserveExisting,
    prefix; compiler rejects the random (fromFields-less) form."""
    import re as _re

    import pytest

    from hbase_indexer_spark.config.morphline_conf import morphline_to_conf
    from hbase_indexer_spark.operators.transform import TransformChain

    text = """
    morphlines : [
      { id : m1
        commands : [
          { extractHBaseCells { mappings : [
              { inputColumn : "cf:k", outputField : k } ] } }
          { generateUUID { field : doc_id, fromFields : [k],
                           prefix : "u-" } }
        ] } ]
    """
    conf = morphline_to_conf(text, table="t")
    chain = TransformChain.from_config(conf["transform_stages"])
    df = spark.createDataFrame([("x",), ("y",), ("x",)], "k string")
    rows = [r["doc_id"] for r in chain(df).collect()]
    assert rows[0] == rows[2] != rows[1]
    assert all(_re.fullmatch(
        r"u-[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", r) for r in rows)

    # preserve_existing keeps non-null ids
    chain2 = TransformChain.from_config([
        {"stage": "generate_uuid", "field": "doc_id", "from_fields": ["k"]}])
    df2 = spark.createDataFrame(
        [("x", "keep-me"), ("y", None)], "k string, doc_id string")
    got = {r["k"]: r["doc_id"] for r in chain2(df2).collect()}
    assert got["x"] == "keep-me"
    assert _re.fullmatch(r"[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}",
                         got["y"])

    with pytest.raises(ValueError, match="fromFields"):
        morphline_to_conf("""
        morphlines : [
          { id : m1
            commands : [
              { extractHBaseCells { mappings : [
                  { inputColumn : "cf:k", outputField : k } ] } }
              { generateUUID { field : doc_id } }
            ] } ]
        """, table="t")


def test_geo_ip_stage(spark):
    """geoIP analog: CIDR dictionary lookup, longest prefix wins,
    fallback on miss/garbage."""
    text = """
    morphlines : [
      { id : m1
        commands : [
          { extractHBaseCells { mappings : [
              { inputColumn : "cf:ip", outputField : ip } ] } }
          { geoIP { inputField : ip, outputField : cc,
                    ranges : { "10.0.0.0/8" : "corp",
                               "10.1.2.0/24" : "lab",
                               "192.168.1.5/32" : "router" },
                    fallback : "??" } }
        ] } ]
    """
    conf = morphline_to_conf(text, table="t")
    from hbase_indexer_spark.operators.transform import TransformChain

    chain = TransformChain.from_config(conf["transform_stages"])
    df = spark.createDataFrame(
        [("10.5.5.5",), ("10.1.2.77",), ("192.168.1.5",),
         ("8.8.8.8",), ("999.1.2.3",), ("not an ip",)],
        "ip string")
    got = [r["cc"] for r in chain(df).collect()]
    assert got == ["corp", "lab", "router", "??", "??", "??"]


def test_sample_stage_deterministic(spark):
    """sample analog: hash-keyed keep/drop — identical subset on replay,
    probability 0/1 degenerate cases exact."""
    text = """
    morphlines : [
      { id : m1
        commands : [
          { extractHBaseCells { mappings : [
              { inputColumn : "cf:k", outputField : k } ] } }
          { sample { probability : 0.5, keyFields : [k] } }
        ] } ]
    """
    conf = morphline_to_conf(text, table="t")
    from hbase_indexer_spark.operators.transform import TransformChain

    chain = TransformChain.from_config(conf["transform_stages"])
    df = spark.createDataFrame([(f"k{i}",) for i in range(200)],
                               "k string")
    kept1 = sorted(r["k"] for r in chain(df).collect())
    kept2 = sorted(r["k"] for r in chain(df.repartition(7)).collect())
    assert kept1 == kept2                      # replay-identical
    assert 60 <= len(kept1) <= 140             # ~p=0.5 of 200
    none = TransformChain.from_config(
        [{"stage": "sample", "probability": 0.0, "key_fields": ["k"]}])
    every = TransformChain.from_config(
        [{"stage": "sample", "probability": 1.0, "key_fields": ["k"]}])
    assert none(df).count() == 0
    assert every(df).count() == 200


def test_sample_without_key_fields_fails():
    text = """
    morphlines : [
      { id : m1
        commands : [
          { extractHBaseCells { mappings : [
              { inputColumn : "cf:k", outputField : k } ] } }
          { sample { probability : 0.5 } } ] } ]
    """
    import pytest

    with pytest.raises(ValueError, match="keyFields"):
        morphline_to_conf(text, table="t")


def test_tokenize_text_stage(spark):
    text = """
    morphlines : [
      { id : m1
        commands : [
          { extractHBaseCells { mappings : [
              { inputColumn : "cf:body", outputField : body } ] } }
          { tokenizeText { inputField : body, outputField : toks,
                           lowercase : true } }
        ] } ]
    """
    conf = morphline_to_conf(text, table="t")
    from hbase_indexer_spark.operators.transform import TransformChain

    chain = TransformChain.from_config(conf["transform_stages"])
    df = spark.createDataFrame(
        [("Hello  World",), ("  one two ",), ("",)], "body string")
    got = [r["toks"] for r in chain(df).collect()]
    assert got == [["hello", "world"], ["one", "two"], []]


def test_xquery_xpath_stage(spark):
    text = """
    morphlines : [
      { id : m1
        commands : [
          { extractHBaseCells { mappings : [
              { inputColumn : "cf:xml", outputField : xml } ] } }
          { xquery { inputField : xml,
                     paths : { title : "/doc/title/text()",
                               author : "/doc/meta/@author" } } }
        ] } ]
    """
    conf = morphline_to_conf(text, table="t")
    from hbase_indexer_spark.operators.transform import TransformChain

    chain = TransformChain.from_config(conf["transform_stages"])
    df = spark.createDataFrame(
        [('<doc><title>T1</title><meta author="ann"/></doc>',),
         ("<doc><title>T2</title><meta/></doc>",)], "xml string")
    rows = chain(df).collect()
    assert [(r["title"], r["author"]) for r in rows] == \
        [("T1", "ann"), ("T2", "")]


def test_xquery_without_paths_fails():
    import pytest

    with pytest.raises(ValueError, match="paths"):
        morphline_to_conf("""
        morphlines : [
          { id : m1, commands : [
            { extractHBaseCells { mappings : [
                { inputColumn : "cf:xml", outputField : xml } ] } }
            { xquery { inputField : xml } } ] } ]
        """, table="t")


def test_grok_dictionary_files(spark, tmp_path):
    """r9: Kite ``dictionaryFiles`` — pattern files (and directories of
    them) load at conf-compile time; later files and dictionaryString
    override earlier definitions, Kite's merge order."""
    d = tmp_path / "patterns"
    d.mkdir()
    (d / "a_base.grok").write_text(
        "REQID req-%{INT}\nHOSTPORT %{IP}:%{POSINT:port}\n")
    (d / "b_override.grok").write_text(
        "# comment lines are skipped\nREQID REQ/%{INT}\n")
    single = tmp_path / "extra.grok"
    single.write_text("SESSION sess_%{WORD}\n")

    text = f"""
    morphlines : [
      {{ id : m1
        commands : [
          {{ extractHBaseCells {{ mappings : [
              {{ inputColumn : "cf:line", outputField : line }} ] }} }}
          {{ grok {{
              dictionaryFiles : ["{d}", "{single}"]
              expressions : {{ line : "%{{REQID:rid}} %{{HOSTPORT}} %{{SESSION:sid}}" }}
          }} }}
        ] }} ]
    """
    conf = morphline_to_conf(text, table="t")
    from hbase_indexer_spark.operators.transform import TransformChain

    chain = TransformChain.from_config(conf["transform_stages"])
    df = spark.createDataFrame(
        [("REQ/77 10.0.0.1:8080 sess_ab12",),   # b_override REQID wins
         ("req-77 10.0.0.1:8080 sess_ab12",)],  # a_base form must NOT match
        "line string")
    rows = chain(df).collect()
    assert [(r["rid"], r["port"], r["sid"]) for r in rows] == \
        [("REQ/77", "8080", "sess_ab12")]


def test_grok_dictionary_string_overrides_files(tmp_path):
    from hbase_indexer_spark.config.morphline_conf import (
        _load_dictionary_files, _parse_dictionary_string, expand_grok)

    f = tmp_path / "p.grok"
    f.write_text("TOK file-%{INT}\n")
    extra = _load_dictionary_files([str(f)])
    extra.update(_parse_dictionary_string("TOK inline-%{INT}"))
    assert expand_grok("%{TOK:t}", extra) == "(?<t>inline-(?:[+-]?[0-9]+))"


def test_grok_missing_dictionary_file_fails(tmp_path):
    from hbase_indexer_spark.config.morphline_conf import (
        _load_dictionary_files)

    with pytest.raises(FileNotFoundError):
        _load_dictionary_files([str(tmp_path / "nope.grok")])


def test_convert_timestamp_timezones(spark):
    """r9: Kite inputTimezone/outputTimezone — wall-clock
    reinterpretation on parse and display, session pinned UTC."""
    text = """
    morphlines : [
      { id : m1
        commands : [
          { extractHBaseCells { mappings : [
              { inputColumn : "cf:ts", outputField : ts } ] } }
          { convertTimestamp { field : ts
              inputFormats : ["yyyy-MM-dd HH:mm:ss"]
              inputTimezone : "America/New_York"
              outputFormat : "yyyy-MM-dd'T'HH:mm:ss"
              outputTimezone : "Asia/Tokyo"
          } }
        ] } ]
    """
    conf = morphline_to_conf(text, table="t")
    (stage,) = conf["transform_stages"]
    assert stage["input_timezone"] == "America/New_York"
    from hbase_indexer_spark.operators.transform import TransformChain

    chain = TransformChain.from_config(conf["transform_stages"])
    df = spark.createDataFrame(
        [("2024-01-15 12:00:00",),   # EST (UTC-5) -> 17:00Z -> JST 02:00+1d
         ("2024-07-15 12:00:00",)],  # EDT (UTC-4) -> 16:00Z -> JST 01:00+1d
        "ts string")
    got = [r["ts"] for r in chain(df).collect()]
    assert got == ["2024-01-16T02:00:00", "2024-07-16T01:00:00"]


def test_convert_timestamp_epoch_ignores_zones(spark):
    """Epoch in/out tokens are zone-independent (SimpleDateFormat
    parity): zones only shape pattern text."""
    text = """
    morphlines : [
      { id : m1
        commands : [
          { extractHBaseCells { mappings : [
              { inputColumn : "cf:ts", outputField : ts } ] } }
          { convertTimestamp { field : ts
              inputFormats : ["unixTimeInSeconds"]
              inputTimezone : "America/New_York"
              outputFormat : "unixTimeInMillis"
              outputTimezone : "Asia/Tokyo"
          } }
        ] } ]
    """
    conf = morphline_to_conf(text, table="t")
    from hbase_indexer_spark.operators.transform import TransformChain

    chain = TransformChain.from_config(conf["transform_stages"])
    df = spark.createDataFrame([("1700000000",)], "ts string")
    assert [r["ts"] for r in chain(df).collect()] == [1700000000000]


def test_convert_timestamp_locale_rejected():
    with pytest.raises(ValueError, match="inputLocale"):
        morphline_to_conf("""
        morphlines : [
          { id : m1, commands : [
            { extractHBaseCells { mappings : [
                { inputColumn : "cf:ts", outputField : ts } ] } }
            { convertTimestamp { field : ts, inputLocale : "FRENCH" } } ] } ]
        """, table="t")
