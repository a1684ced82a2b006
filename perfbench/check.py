"""Output checks. Each returns (attempted, failures) where failures is a
list of human-readable mismatch descriptions; failed_share is
len(failures) / attempted and must be 0.

The expected outcome of every URL is computed here, independently of the
program: CLI fetches from the origin's pure status/body functions, the
mock-fetch crawl from a pandas model of the generation loop.
"""

from __future__ import annotations

import hashlib
import json
from collections import Counter
from urllib.parse import urlsplit

import origin as web

MAX_SHOWN = 20


def _sha256(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()


def expected_live(path: str, retries: int) -> tuple[int, str | None, int]:
    """(final status, sha256 of the body or None for an error row,
    attempts) of one fetch of `path` against the origin."""
    kind = web.outcome(path)
    if kind == web.OK:
        return 200, _sha256(web.page_body(path)), 1
    if kind == web.NOT_FOUND:
        return 404, _sha256(web.ERROR_BODY[404]), 1
    if kind == web.TRANSIENT and retries >= 1:
        return 200, _sha256(web.page_body(path)), 2
    return 500, None, retries + 1


def check_conservation(gens: list[dict]) -> list[str]:
    """released = results + errors in every generation."""
    return [
        f"generation {m['generation']}: released {m['released']} != "
        f"results {m['results']} + errors {m['errors']}"
        for m in gens
        if m["released"] != m["results"] + m["errors"]
    ]


# ---------------------------------------------------------------------------
# mock-fetch crawl model (frontier_scale)
# ---------------------------------------------------------------------------


def mock_dropped(url: str) -> bool:
    """The mock fetch's retry-exhausted rows with retries=1:
    d = int(md5(url)[0:4], 16) % 100 >= 99 (ganda_spark/spec.py)."""
    return int(hashlib.md5(url.encode()).hexdigest()[:4], 16) % 100 >= web.PCT_TRANSIENT


def model_crawl(seed, generations: int, global_budget: int, max_redelivery: int):
    """Reference model of CrawlDriver generations over the mock fetch with
    retries=1, an unlimited per-host budget, a global release cap and the
    benchmark's discover (every 10th seq links one `/next` child, every
    4th seq from 1 links back to its own URL).

    seed: pandas DataFrame(seq, url, priority). Returns (per-generation
    (released, results, errors), sorted seen URLs)."""
    import pandas as pd

    frontier = seed[["seq", "url", "priority"]].assign(attempt=0, not_before=0)
    seen: set[str] = set()
    per_gen = []
    for g in range(generations):
        eligible = frontier[frontier["not_before"] <= g]
        held = frontier[frontier["not_before"] > g]
        unseen = eligible[~eligible["url"].isin(seen)]
        ordered = unseen.sort_values(["priority", "seq"], kind="stable")
        released = ordered.iloc[:global_budget]
        deferred = ordered.iloc[global_budget:]
        dropped = released["url"].map(mock_dropped).to_numpy(dtype=bool)
        results = released[~dropped]
        errors = released[dropped]
        redeliver = errors[errors["attempt"] + 1 <= max_redelivery].assign(
            attempt=lambda d: d["attempt"] + 1, not_before=g + 2
        )
        perma = errors[errors["attempt"] + 1 > max_redelivery]
        parents = results[
            (results["seq"] % 10 == 0) & ~results["url"].str.contains("/next", regex=False)
        ]
        back = results[results["seq"] % 4 == 1]
        discovered = pd.DataFrame({
            "seq": pd.concat([parents["seq"] + 1_000_000_000, back["seq"] + 2_000_000_000]),
            "url": pd.concat([parents["url"] + "/next", back["url"]]),
            "priority": pd.concat([parents["priority"], back["priority"]]),
            "attempt": 0,
            "not_before": 0,
        })
        seen.update(results["url"])
        seen.update(perma["url"])
        per_gen.append((len(released), len(results), len(errors)))
        frontier = pd.concat([deferred, held, redeliver, discovered], ignore_index=True)
    return per_gen, sorted(seen)


def seen_digest(urls) -> str:
    return _sha256("\n".join(sorted(urls)))


def check_model_crawl(gens: list[dict], seen_urls: list[str], model) -> tuple[int, list[str]]:
    per_gen, model_seen = model
    failures = []
    attempted = 0
    for m, (rel, res, err) in zip(gens, per_gen):
        attempted += m["released"]
        got = (m["released"], m["results"], m["errors"])
        if got != (rel, res, err):
            failures.append(
                f"generation {m['generation']}: (released, results, errors) "
                f"{got} != model {(rel, res, err)}"
            )
    if len(gens) != len(per_gen):
        failures.append(f"{len(gens)} generations ran, model has {len(per_gen)}")
    got, want = seen_digest(seen_urls), seen_digest(model_seen)
    if got != want:
        failures.append(
            f"seen digest {got[:16]} ({len(seen_urls)} URLs) != model {want[:16]} "
            f"({len(model_seen)} URLs)"
        )
        # one failure per URL whose seen membership differs
        failures += [f"{u}: seen by the program, not the model"
                     for u in sorted(set(seen_urls) - set(model_seen))]
        failures += [f"{u}: seen by the model, not the program"
                     for u in sorted(set(model_seen) - set(seen_urls))]
    return max(attempted, 1), failures


# ---------------------------------------------------------------------------
# CLI envelope stream (cli_pipe)
# ---------------------------------------------------------------------------


def check_cli_output(
    inputs: list[tuple[str, list[str]]], stdout_lines: list[str],
    hits: dict[str, int], retries: int,
) -> tuple[int, list[str]]:
    """inputs: (url, context) per input line, in input order. Every URL
    whose final status is below 500 must be emitted once, in input order,
    as a JSON envelope with the right code, body digest and context;
    the origin must have seen exactly the expected attempts per path.
    hits: origin requests per path made during this CLI invocation."""
    failures: list[str] = []
    order = {url: i for i, (url, _) in enumerate(inputs)}
    context = dict(inputs)
    emitted = []
    for line in stdout_lines:
        try:
            env = json.loads(line)
        except json.JSONDecodeError:
            failures.append(f"not a JSON envelope: {line[:120]!r}")
            continue
        if set(env) - {"context"} != {"url", "code", "body"}:
            failures.append(f"envelope keys {sorted(env)}: {line[:120]!r}")
            continue
        url = env["url"]
        if url not in order:
            failures.append(f"unexpected url {url}")
            continue
        emitted.append(url)
        status, sha, _ = expected_live(urlsplit(url).path, retries)
        if (env["code"], env["body"]) != (status, sha):
            failures.append(f"{url}: got {(env['code'], env['body'])}, want {(status, sha)}")
        if env.get("context") != context[url]:
            failures.append(f"{url}: context {env.get('context')} != {context[url]}")
    idx = [order[u] for u in emitted]
    failures += [f"{emitted[i]}: emitted after a later input line"
                 for i in range(1, len(idx)) if idx[i] < idx[i - 1]]
    dup = [u for u, n in Counter(emitted).items() if n > 1]
    if dup:
        failures.append(f"{len(dup)} URLs emitted more than once, e.g. {dup[0]}")
    want_hits = {}
    emitted_set = set(emitted)
    for url, _ in inputs:
        path = urlsplit(url).path
        status, _, attempts = expected_live(path, retries)
        want_hits[path] = attempts
        if status < 500 and url not in emitted_set:
            failures.append(f"{url}: expected status {status}, not emitted")
    for path in set(want_hits) | set(hits):
        if hits.get(path, 0) != want_hits.get(path, 0):
            failures.append(
                f"{path}: origin saw {hits.get(path, 0)} requests, want {want_hits.get(path, 0)}"
            )
    return len(inputs), failures
