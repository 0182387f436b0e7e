"""Correctness check of one crawl against its oracle expectation.

A crawl record is plain Python data collected from the catalog after
the crawl (``run.collect_record``) — the check itself needs no Spark, so
``selftest.py`` can feed it doctored records.

Record / expectation keys:

- ``rounds``: per-round manifest counts (selected, success, empty,
  error, robots, discovered, seen_total), rounds 1..N in order;
- ``fetch_log``: rows ``{round_id, url, host, status}``;
- ``seen``: URLs in state ``fetched`` after the last round;
- ``order_per_host``: fetched/attempted URLs per host in crawl order;
- ``text_sha256``: ``{url: sha256(extracted text)}``.

The expectation also carries ``host_budget`` and ``global_budget``.
"""

from __future__ import annotations

from collections import Counter

__all__ = ["COUNT_KEYS", "check_invariants", "check_against_oracle", "check_crawl"]

COUNT_KEYS = ("selected", "success", "empty", "error", "robots", "discovered", "seen_total")
_FETCHED = ("success", "empty")


def check_invariants(record: dict, host_budget: dict, global_budget: int) -> list[str]:
    """Seed-independent fetch-log invariants: no URL is fetched
    (success/empty) twice, no host exceeds its per-round budget and no
    round exceeds the global budget."""
    failures = []
    fetched = Counter(r["url"] for r in record["fetch_log"] if r["status"] in _FETCHED)
    twice = sorted(u for u, n in fetched.items() if n > 1)
    if twice:
        failures.append(f"fetched in two rounds: {len(twice)} URLs, e.g. {twice[0]}")
    selected = [r for r in record["fetch_log"] if r["status"] != "robots"]
    per_host = Counter((r["round_id"], r["host"]) for r in selected)
    for (rid, host), n in sorted(per_host.items()):
        budget = host_budget.get(host)
        if budget is not None and n > budget:
            failures.append(f"round {rid}: host {host} selected {n} > budget {budget}")
    for rid, n in sorted(Counter(r["round_id"] for r in selected).items()):
        if n > global_budget:
            failures.append(f"round {rid}: selected {n} > global budget {global_budget}")
    return failures


def check_against_oracle(record: dict, expected: dict) -> list[str]:
    """Per-round counts, fetch-log rows, URL-seen set, per-host crawl
    order and byte-identical extracted text (by digest) equal the
    oracle's."""
    failures = []
    got_rounds, want_rounds = record["rounds"], expected["rounds"]
    if len(got_rounds) != len(want_rounds):
        failures.append(f"rounds committed {len(got_rounds)} != {len(want_rounds)}")
    for got, want in zip(got_rounds, want_rounds):
        diff = {k: (got.get(k), want[k]) for k in COUNT_KEYS if got.get(k) != want[k]}
        if diff:
            failures.append(f"round {want['round_id']} counts (engine, oracle): {diff}")
    got_log = {(r["round_id"], r["url"], r["status"]) for r in record["fetch_log"]}
    want_log = {(r["round_id"], r["url"], r["status"]) for r in expected["fetch_log"]}
    if got_log != want_log:
        failures.append(
            f"fetch log (round, url, status): {len(got_log - want_log)} extra, "
            f"{len(want_log - got_log)} missing"
        )
    got_seen, want_seen = set(record["seen"]), set(expected["seen"])
    if got_seen != want_seen:
        failures.append(
            f"seen set: {len(got_seen - want_seen)} extra, {len(want_seen - got_seen)} missing"
        )
    got_order, want_order = record["order_per_host"], expected["order_per_host"]
    bad_hosts = sorted(h for h in set(got_order) | set(want_order) if got_order.get(h) != want_order.get(h))
    if bad_hosts:
        failures.append(f"per-host order differs on {len(bad_hosts)} hosts, e.g. {bad_hosts[0]}")
    got_text, want_text = record["text_sha256"], expected["text_sha256"]
    bad_text = sorted(u for u in set(got_text) | set(want_text) if got_text.get(u) != want_text.get(u))
    if bad_text:
        failures.append(f"extracted text differs on {len(bad_text)} URLs, e.g. {bad_text[0]}")
    return failures


def check_crawl(record: dict, expected: dict) -> list[str]:
    """Every failure found; an empty list means the crawl is correct."""
    return check_invariants(
        record, expected["host_budget"], expected["global_budget"]
    ) + check_against_oracle(record, expected)
