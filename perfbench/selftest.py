#!/usr/bin/env python3
"""Self-test of the output checks: every check passes a correct output
and fires on each deliberately corrupted one. No Spark needed.

    python3 perfbench/selftest.py

Exits 0 when every check behaves, 1 otherwise.
"""

from __future__ import annotations

import os
import sys
import tempfile

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from checks import (  # noqa: E402
    check_corpus,
    check_recrawl,
    check_repeatable,
    check_round,
    counts_digest,
)

SNAP = {
    "https://a.example.com/x": "alpha",
    "https://a.example.com/y": "bravo",
    "https://b.example.org/z": "charlie",
}
BUDGETS = {"a.example.com": 2, "b.example.org": 1}
DISALLOW = {"a.example.com": ["/private"], "b.example.org": []}


def good_round():
    sched = pd.DataFrame({
        "url": ["https://a.example.com/x", "https://a.example.com/y",
                "https://b.example.org/z", "https://dead.example.com/q"],
        "host": ["a.example.com", "a.example.com", "b.example.org",
                 "dead.example.com"],
        "url_hash_hi": [1, 2, 3, 4],
        "url_hash_lo": [10, 20, 30, 40],
    })
    fetched = pd.DataFrame({
        "url": list(sched["url"]),
        "fetched": [True, True, True, False],
        "text": ["alpha", "bravo", "charlie", None],
    })
    counts = {"scheduled": 4, "fetched": 3}
    return counts, sched, fetched, set()


def round_cases():
    yield "correct", good_round(), False
    c, s, f, seen = good_round()
    yield "key scheduled in an earlier round", (c, s, f, {(1, 10)}), True
    c, s, f, seen = good_round()
    s.loc[1, ["url_hash_hi", "url_hash_lo"]] = [1, 10]
    yield "key scheduled twice in a round", (c, s, f, seen), True
    c, s, f, seen = good_round()
    s = pd.concat([s, s.iloc[[2]].assign(url_hash_hi=9, url="https://b.example.org/w")],
                  ignore_index=True)
    f = pd.concat([f, pd.DataFrame({"url": ["https://b.example.org/w"],
                                    "fetched": [False], "text": [None]})],
                  ignore_index=True)
    c = {"scheduled": 5, "fetched": 3}
    yield "host over budget", (c, s, f, seen), True
    c, s, f, seen = good_round()
    s.loc[0, "url"] = "https://a.example.com/private/x"
    yield "robots-disallowed url scheduled", (c, s, f, seen), True
    c, s, f, seen = good_round()
    f.loc[1, "text"] = "bravo "
    yield "fetched text differs from oracle", (c, s, f, seen), True
    c, s, f, seen = good_round()
    f.loc[2, ["fetched", "text"]] = [False, None]
    c = {"scheduled": 4, "fetched": 2}
    yield "live page reported unfetched", (c, s, f, seen), True
    c, s, f, seen = good_round()
    yield "reported count disagrees with table", ({"scheduled": 4, "fetched": 2},
                                                  s, f, seen), True
    c, s, f, seen = good_round()
    yield "empty round", ({"scheduled": 0, "fetched": 0}, s.iloc[:0],
                          f.iloc[:0], seen), True


def recrawl_cases():
    due = {"u1", "u2", "u3", "u4"}
    good = ({"not_modified": 2, "modified": 1, "gone": 1}, {"u2"}, {"u2"},
            {"u4"}, due)
    yield "correct", good, False
    yield "modified set misses a mutated url", (
        {"not_modified": 3, "modified": 0, "gone": 1}, set(), {"u2"}, {"u4"},
        due), True
    yield "unmutated url reported modified", (
        {"not_modified": 1, "modified": 2, "gone": 1}, {"u1", "u2"}, {"u2"},
        {"u4"}, due), True
    yield "removed page not reported gone", (
        {"not_modified": 3, "modified": 1}, {"u2"}, {"u2"}, {"u4"}, due), True
    yield "due set incomplete", (
        {"not_modified": 1, "modified": 1, "gone": 1}, {"u2"}, {"u2"},
        {"u4"}, due), True
    yield "empty due set", ({}, set(), set(), set(), set()), True


def corpus_cases():
    inputs = {0, 1, 2, 1_000_000}
    dups = {1_000_000}
    yield "correct", ({0, 1, 2}, {"input": 4}, inputs, dups), False
    yield "exact duplicate survived", ({0, 1, 1_000_000}, {"input": 4},
                                       inputs, dups), True
    yield "empty output", (set(), {"input": 4}, inputs, dups), True
    yield "ingest kept nothing", ({0}, {"input": 0}, inputs, dups), True
    yield "unknown id in output", ({0, 7}, {"input": 4}, inputs, dups), True


def main() -> int:
    ok = True

    def expect(name: str, bad: list[str], should_fire: bool) -> None:
        nonlocal ok
        fired = bool(bad)
        status = "ok " if fired == should_fire else "BAD"
        ok &= fired == should_fire
        what = "fires" if fired else "passes"
        print(f"{status} {name}: {what}" + (f" ({bad[0]})" if bad else ""))

    for name, (c, s, f, seen), fire in round_cases():
        expect(f"round / {name}",
               check_round("r", c, s, f, seen, SNAP, BUDGETS, DISALLOW, 8),
               fire)
    for name, args, fire in recrawl_cases():
        expect(f"recrawl / {name}", check_recrawl("p", *args), fire)
    for name, args, fire in corpus_cases():
        expect(f"corpus / {name}", check_corpus("c", *args), fire)

    rounds = [{"round": 0, "frontier_in": 5, "deduped": 5, "scheduled": 3,
               "fetched": 3, "frontier_next": 9, "wall_s": 1.0}]
    with tempfile.TemporaryDirectory() as d:
        state = os.path.join(d, "digest")
        expect("repeatable / first run records",
               check_repeatable("d", state, counts_digest(rounds)), False)
        expect("repeatable / same counts, other walls",
               check_repeatable("d", state, counts_digest(
                   [{**rounds[0], "wall_s": 2.0}])), False)
        expect("repeatable / counts differ",
               check_repeatable("d", state, counts_digest(
                   [{**rounds[0], "scheduled": 4}])), True)
    print("selftest", "passed" if ok else "FAILED")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
