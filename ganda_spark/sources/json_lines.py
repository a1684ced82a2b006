"""S5-S9: JSON-lines request specs.

Schema per reference request.schema.json:1-30 — url required; method enum
(overrides the static default, parser/parser.go:123-127); headers merged
over static headers with per-line winning (parser/parser.go:145-165,
pinned parser/parser_test.go:213-236); body decoded per bodyType
(parser/parser.go:167-191); context is any JSON value carried verbatim.

Spark-first: from_json for the spec, a policy-independent
map_filter+map_concat for the header merge (works under ANY
spark.sql.mapKeyDedupPolicy — the driver's vanilla session runs the
default EXCEPTION policy), a when/otherwise ladder for body decode — all
JVM-side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ganda_spark.config import EngineConfig

REQUEST_SPEC_DDL = (
    "url STRING, method STRING, headers MAP<STRING,STRING>, "
    "body STRING, bodyType STRING"
)


def decode_body(body: Column, body_type: Column, raw: Column | None = None) -> Column:
    """S6 — reference parser/parser.go:167-191.

    `body` is the DECODED string value of the body field — exactly what
    from_json yields for a STRING schema field (already strconv.Unquote'd
    for JSON strings; raw JSON text for object/array values). So:
    escaped ⇒ body as-is (the unquote already happened); base64 ⇒ decode;
    json/'' ⇒ the raw JSON bytes (`raw` when provided — preserves quoting
    for scalar-string bodies — else body); anything else ⇒ error
    (fail-fast parity).
    """
    bt = F.coalesce(body_type, F.lit(""))
    raw_json = raw if raw is not None else body
    return (
        F.when(body.isNull(), F.lit(None).cast("string"))
        .when(bt == "escaped", body)
        .when(bt == "base64", F.unbase64(body).cast("string"))
        .when((bt == "json") | (bt == ""), raw_json)
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        'unsupported body type: '
                    ),
                    bt,
                    F.lit(', valid values: "json", "base64", "escaped"'),
                )
            )
        )
    )


def parse_json_lines(lines: DataFrame, cfg: EngineConfig) -> DataFrame:
    """DataFrame(value: string) → request DataFrame
    (seq, url, method, headers, body, context_json).

    - missing url ⇒ raise_error (parser/parser.go:114-116 fail-fast)
    - method: per-line overrides cfg default (parser/parser.go:123-127)
    - headers: static ∪ per-line, per-line wins (LAST_WIN map_concat)
    - context_json: raw JSON text of the context value (round-trip parity;
      numbers/ordering normalized at envelope time, see functions.goexact)
    """
    static_headers = F.create_map(
        *[x for kv in cfg.request_headers.items() for x in (F.lit(kv[0]), F.lit(kv[1]))]
    ) if cfg.request_headers else F.expr("CAST(map() AS MAP<STRING,STRING>)")

    from ganda_spark.config import MAX_LINE_BYTES

    # 1 MB max-line guard: the reference's bufio.Scanner buffer fails fast
    # on oversized lines (parser/parser.go:105) instead of parsing them
    checked_line = F.when(
        F.length("value") > MAX_LINE_BYTES,
        F.raise_error(
            F.concat(
                F.lit(f"input line exceeds {MAX_LINE_BYTES} bytes: "),
                F.substring("value", 1, 80),
            )
        ),
    ).otherwise(F.col("value"))

    # Typed view of each field: from_json's STRING fields lose the
    # distinction "was this a JSON string or an object/number?" — and a
    # line-wide regex for `"body"\s*:\s*"` false-positives on the substring
    # appearing inside ANY other field (context {"body":"x"}, a header
    # value, a URL — ADVICE r2). VARIANT answers the question exactly:
    # schema_of_variant(try_variant_get($.field)) == 'STRING' iff the
    # TOP-LEVEL field itself is a JSON string. JVM-side, one parse.
    parsed = lines.select(
        F.monotonically_increasing_id().alias("seq"),
        checked_line.alias("value"),
        F.from_json(checked_line, REQUEST_SPEC_DDL).alias("r"),
        F.try_parse_json(checked_line).alias("_v"),
        F.get_json_object(checked_line, "$.context").alias("_ctx_extracted"),
    )

    def _field_is_json_string(path: str) -> Column:
        vf = F.try_variant_get(F.col("_v"), path, "variant")
        return F.schema_of_variant(vf) == F.lit("STRING")

    # get_json_object unquotes scalar strings; recover raw JSON for strings
    # by re-quoting when the spec's context was a JSON string.
    from ganda_spark.functions.transforms import go_json_escape

    ctx_raw = F.when(
        F.col("_ctx_extracted").isNull(), F.lit(None).cast("string")
    ).otherwise(
        F.when(
            _field_is_json_string("$.context"),
            F.concat(F.lit('"'), go_json_escape(F.col("_ctx_extracted")), F.lit('"')),
        ).otherwise(F.col("_ctx_extracted"))
    )

    url = F.col("r.url")
    checked_url = F.when(
        url.isNull() | (F.length(url) == 0),
        F.raise_error(F.concat(F.lit("missing url property: "), F.col("value"))),
    ).otherwise(url)

    return parsed.select(
        "seq",
        checked_url.alias("url"),
        F.coalesce(
            F.when(F.length(F.col("r.method")) > 0, F.col("r.method")),
            F.lit(cfg.request_method),
        ).alias("method"),
        F.when(
            F.col("r.headers").isNotNull(),
            # per-line wins: drop static keys the line overrides BEFORE the
            # concat — correct under any mapKeyDedupPolicy (the driver's
            # vanilla session runs EXCEPTION, where a plain map_concat with
            # a colliding key throws DUPLICATED_MAP_KEY)
            F.map_concat(
                F.map_filter(
                    static_headers,
                    lambda k, _: ~F.array_contains(
                        F.map_keys(F.col("r.headers")), k
                    ),
                ),
                F.col("r.headers"),
            ),
        )
        .otherwise(static_headers)
        .alias("headers"),
        decode_body(
            F.col("r.body"),
            F.col("r.bodyType"),
            # raw JSON text of the body field for bodyType json/'': re-quote
            # ONLY when the top-level body field itself is a JSON string
            # (variant type test — a substring match would false-positive on
            # `"body":"` inside context/header/url values, ADVICE r2)
            raw=F.when(
                _field_is_json_string("$.body"),
                F.concat(
                    F.lit('"'), go_json_escape(F.col("r.body")), F.lit('"')
                ),
            ).otherwise(F.col("r.body")),
        ).alias("body"),
        ctx_raw.alias("context_json"),
    )


def sniff_is_json_lines(lines: DataFrame) -> bool:
    """S3 — first byte '{' ⇒ JSON lines (parser/parser.go:194-207)."""
    first = lines.select("value").limit(1).collect()
    return bool(first) and (first[0][0] or "")[:1] == "{"


def sniff_file_is_json_lines(path: str, chunk_bytes: int = 1 << 16) -> bool | None:
    r"""S3 on a local file without a Spark job: the answer sniff_is_json_lines
    gives for `spark.read.text(path).where(trim(value) != '')`, or None when
    that DataFrame is empty (no non-blank line).

    Same semantics as that Spark path: lines end at \n, \r\n or \r; a
    line is blank when it holds only spaces (Spark's trim strips spaces,
    not tabs); the first non-blank line's first character is tested
    unstripped. So the first byte that is not a space or a line end decides:
    JSON lines iff it is '{' and it starts its line."""
    prev = b"\n"
    with open(path, "rb") as f:
        while chunk := f.read(chunk_bytes):
            rest = chunk.lstrip(b" \r\n")
            if rest:
                i = len(chunk) - len(rest)
                before = chunk[i - 1:i] if i else prev
                return rest[:1] == b"{" and before in (b"\r", b"\n")
            prev = chunk[-1:]
    return None
