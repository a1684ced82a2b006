"""S3-S9: input parsing — URL+ragged-TSV and JSON-lines request specs.

Semantics pinned by reference parser/parser_test.go:70-331.
"""

from __future__ import annotations

import pytest

from ganda_spark.config import EngineConfig
from ganda_spark.sources.json_lines import (
    decode_body,
    parse_json_lines,
    sniff_file_is_json_lines,
    sniff_is_json_lines,
)
from ganda_spark.sources.url_lines import parse_url_lines

import pyspark.sql.functions as F


def _lines_df(spark, lines):
    return spark.createDataFrame([(l,) for l in lines], "value string")


# --- URL + ragged TSV (parser/parser_test.go:70-105) ---

def test_url_only_has_nil_context(spark):
    df = parse_url_lines(spark, _lines_df(spark, ["http://a.test/1"]))
    row = df.collect()[0]
    assert row["url"] == "http://a.test/1" and row["context"] is None


def test_ragged_context_fields(spark):
    df = parse_url_lines(
        spark,
        _lines_df(
            spark,
            [
                "http://a.test/1\tctx1",
                "http://a.test/2\tctx1\tctx2\tctx3",
                "http://a.test/3",
            ],
        ),
    )
    rows = {r["url"]: r["context"] for r in df.collect()}
    assert rows["http://a.test/1"] == ["ctx1"]
    assert rows["http://a.test/2"] == ["ctx1", "ctx2", "ctx3"]
    assert rows["http://a.test/3"] is None


def test_rfc4180_quoted_context(spark):
    # quoted field containing a tab and an escaped quote
    # (parser/parser_test.go:78-95)
    df = parse_url_lines(
        spark,
        _lines_df(spark, ['http://a.test/1\t"has\ttab"\t"say ""hi"""']),
    )
    row = df.collect()[0]
    assert row["context"] == ["has\ttab", 'say "hi"']


def test_empty_input_is_noop(spark):
    # P2: EOF on first peek ⇒ clean no-op (parser/parser_test.go:299-307)
    df = parse_url_lines(spark, _lines_df(spark, []).where(F.lit(False)))
    assert df.count() == 0


# --- JSON lines (parser/parser_test.go:121-297, request.schema.json) ---

def test_json_line_basics(spark):
    cfg = EngineConfig(request_method="GET")
    df = parse_json_lines(
        _lines_df(
            spark,
            [
                '{"url": "http://a.test/1"}',
                '{"url": "http://a.test/2", "method": "POST"}',
            ],
        ),
        cfg,
    )
    rows = {r["url"]: r for r in df.collect()}
    assert rows["http://a.test/1"]["method"] == "GET"  # default (config.go:35)
    assert rows["http://a.test/2"]["method"] == "POST"  # override (parser.go:123-127)


def test_json_line_missing_url_fails(spark):
    cfg = EngineConfig()
    df = parse_json_lines(_lines_df(spark, ['{"method": "POST"}']), cfg)
    with pytest.raises(Exception, match="missing url property"):
        df.collect()


def test_header_merge_per_line_wins(spark):
    # parser/parser_test.go:213-236
    cfg = EngineConfig(request_headers={"x-a": "static", "x-b": "static"})
    df = parse_json_lines(
        _lines_df(
            spark,
            ['{"url": "http://a.test/1", "headers": {"x-b": "line", "x-c": "line"}}'],
        ),
        cfg,
    )
    h = df.collect()[0]["headers"]
    assert h == {"x-a": "static", "x-b": "line", "x-c": "line"}


def test_header_merge_under_vanilla_dedup_policy(spark):
    # Driver regression (CORRECTNESS_r01 s5_json_parse): the merge must not
    # depend on spark.sql.mapKeyDedupPolicy=LAST_WIN — the driver runs a
    # vanilla session where the default EXCEPTION policy throws on a plain
    # map_concat with a colliding key.
    prev = spark.conf.get("spark.sql.mapKeyDedupPolicy", "EXCEPTION")
    spark.conf.set("spark.sql.mapKeyDedupPolicy", "EXCEPTION")
    try:
        cfg = EngineConfig(request_headers={"x-static": "from-config"})
        df = parse_json_lines(
            _lines_df(
                spark,
                ['{"url": "http://a.test/1", "headers": {"x-static": "line-wins"}}'],
            ),
            cfg,
        )
        assert df.collect()[0]["headers"] == {"x-static": "line-wins"}
    finally:
        spark.conf.set("spark.sql.mapKeyDedupPolicy", prev)


def test_context_round_trip(spark):
    cfg = EngineConfig()
    df = parse_json_lines(
        _lines_df(
            spark,
            [
                '{"url": "http://a.test/1", "context": ["foo", "quoted content"]}',
                '{"url": "http://a.test/2", "context": "baz"}',
                '{"url": "http://a.test/3"}',
            ],
        ),
        cfg,
    )
    rows = {r["url"]: r["context_json"] for r in df.collect()}
    assert rows["http://a.test/1"] == '["foo","quoted content"]'
    assert rows["http://a.test/2"] == '"baz"'
    assert rows["http://a.test/3"] is None


def test_body_decode_modes(spark):
    # parser/parser_test.go:261-297 (S6). decode_body takes the DECODED
    # string value — what from_json yields for a STRING schema field.
    df = spark.createDataFrame(
        [
            ("aGVsbG8=", "base64", "hello"),
            ('say "hi"', "escaped", 'say "hi"'),
            ('{"a": 1}', "json", '{"a": 1}'),
            ('{"a": 1}', None, '{"a": 1}'),
        ],
        "body string, bodyType string, expected string",
    )
    out = df.select(
        decode_body(F.col("body"), F.col("bodyType")).alias("got"), "expected"
    ).collect()
    for r in out:
        assert r["got"] == r["expected"]


def test_parse_json_lines_body_end_to_end(spark):
    # Regression: decode_body used to re-unquote values that from_json had
    # already decoded, silently NULLing every base64/escaped request body
    # that came through parse_json_lines (ADVICE r1; parser.go:167-184).
    cfg = EngineConfig()
    df = parse_json_lines(
        _lines_df(
            spark,
            [
                '{"url": "http://a.test/1", "body": "aGVsbG8=", "bodyType": "base64"}',
                '{"url": "http://a.test/2", "body": "say \\"hi\\"", "bodyType": "escaped"}',
                '{"url": "http://a.test/3", "body": {"a": 1}, "bodyType": "json"}',
                '{"url": "http://a.test/4", "body": "plain str", "bodyType": "json"}',
                '{"url": "http://a.test/5"}',
            ],
        ),
        cfg,
    )
    rows = {r["url"]: r["body"] for r in df.collect()}
    assert rows["http://a.test/1"] == "hello"
    assert rows["http://a.test/2"] == 'say "hi"'
    assert rows["http://a.test/3"] == '{"a":1}'
    # bodyType json with a scalar-string body: raw JSON bytes keep quotes
    assert rows["http://a.test/4"] == '"plain str"'
    assert rows["http://a.test/5"] is None


def test_body_string_detection_is_field_anchored(spark):
    """ADVICE r2: the scalar-string-body test must anchor to the TOP-LEVEL
    body field. A `"body":"` substring inside context/headers/url must not
    wrap an object/number body in quotes (reference parseBody sends
    json.RawMessage verbatim, parser/parser.go:167-191)."""
    cfg = EngineConfig()
    df = parse_json_lines(
        _lines_df(
            spark,
            [
                # context contains the trap substring; body is an OBJECT
                '{"url": "http://a.test/1", "context": {"body": "x"}, '
                '"body": {"k": 1}, "bodyType": "json"}',
                # header value contains the trap; body is a NUMBER
                '{"url": "http://a.test/2", "headers": {"X-Trap": "{\\"body\\":\\"y\\"}"}, '
                '"body": 42, "bodyType": "json"}',
                # url contains the trap; no bodyType (defaults to json)
                '{"url": "http://a.test/?q=%7B%22body%22%3A%22z%22%7D&raw={\\"body\\":\\"z\\"}", '
                '"body": [1, 2]}',
                # trap in context AND the body IS a string — still quoted
                '{"url": "http://a.test/4", "context": {"body": "x"}, '
                '"body": "real", "bodyType": "json"}',
                # context is a plain STRING while body is an object: the
                # context must round-trip re-quoted, the body verbatim
                '{"url": "http://a.test/5", "context": "has \\"body\\": \\"t\\" inside", '
                '"body": {"n": true}}',
            ],
        ),
        cfg,
    )
    rows = {r["url"]: r for r in df.collect()}
    assert rows["http://a.test/1"]["body"] == '{"k":1}'
    assert rows["http://a.test/2"]["body"] == "42"
    arr = [r for u, r in rows.items() if u.startswith("http://a.test/?")][0]
    assert arr["body"] == "[1,2]"
    assert rows["http://a.test/4"]["body"] == '"real"'
    r5 = rows["http://a.test/5"]
    assert r5["body"] == '{"n":true}'
    assert r5["context_json"] == '"has \\"body\\": \\"t\\" inside"'


def test_max_line_guard(spark):
    # parser/parser.go:105 — a >1 MB line fails the stream fast
    from ganda_spark.sources.url_lines import parse_url_lines

    big = "http://a.test/" + "x" * (1 << 20)
    with pytest.raises(Exception, match="exceeds"):
        parse_url_lines(spark, _lines_df(spark, [big])).collect()
    with pytest.raises(Exception, match="exceeds"):
        parse_json_lines(
            _lines_df(spark, ['{"url": "' + big + '"}']), EngineConfig()
        ).collect()


def test_body_decode_unknown_type_fails(spark):
    df = spark.createDataFrame([('"x"', "nope")], "body string, bodyType string")
    with pytest.raises(Exception, match="unsupported body type"):
        df.select(decode_body(F.col("body"), F.col("bodyType"))).collect()


def test_input_sniff(spark):
    # S3: first byte '{' ⇒ JSON lines (parser/parser.go:194-207)
    assert sniff_is_json_lines(_lines_df(spark, ['{"url": "x"}']))
    assert not sniff_is_json_lines(_lines_df(spark, ["http://a.test/1"]))


# first lines that decide the sniff: blank per Spark's trim (spaces only),
# tab-only (not blank), each line end, a '{' after a space (not JSON)
SNIFF_CASES = [
    b'{"url": "x"}\n',
    b"http://a.test/1\n",
    b'   \n{"url": "x"}\n',
    b'\t\n{"url": "x"}\n',
    b'\r\n  \r\n{"url": "x"}\r\n',
    b'  \r{"url": "x"}\r',
    b'\n\n {"url": "x"}\n',
    b'   {"url": "x"}',
    b"  \n\r\n \r",
    b"\x00{\n",
    b"",
]


@pytest.mark.parametrize("data", SNIFF_CASES, ids=repr)
def test_file_sniff_matches_spark_sniff(spark, tmp_path, data):
    """The CLI sniffs its stdin spool file in the driver; that must give
    the Spark path's answer over the same bytes (None = no non-blank line),
    whatever the read chunk size."""
    path = tmp_path / "in.txt"
    path.write_bytes(data)
    lines = spark.read.text(str(path)).where(F.trim("value") != "")
    want = None if lines.isEmpty() else sniff_is_json_lines(lines)
    for chunk_bytes in (1, 2, 3, 1 << 16):
        assert sniff_file_is_json_lines(str(path), chunk_bytes) == want
