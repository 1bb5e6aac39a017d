"""Output checks. Each returns a list of failure messages; empty = pass.

They take plain Python/pandas values read back from the committed
tables, so they run without Spark and ``selftest.py`` can feed them
deliberately corrupted outputs.
"""

from __future__ import annotations

import hashlib
import json
import os
import re

import pandas as pd

_ORIGIN_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/]*")


def url_path(url: str) -> str:
    """Path+query of a url, the string robots rules are matched against."""
    return _ORIGIN_RE.sub("", url)


def check_round(
    label: str,
    counts: dict,
    scheduled: pd.DataFrame,
    fetched: pd.DataFrame,
    seen_keys: set,
    snap_text: dict[str, str],
    budgets: dict[str, int],
    disallow: dict[str, list[str]],
    default_budget: int,
) -> list[str]:
    """One committed crawl round: ``scheduled`` has (url, host,
    url_hash_hi, url_hash_lo); ``fetched`` has (url, fetched, text).
    ``seen_keys`` holds the keys scheduled by earlier rounds."""
    bad: list[str] = []
    n_fetched = int(fetched["fetched"].sum()) if len(fetched) else 0
    if len(scheduled) == 0 or n_fetched == 0:
        bad.append(f"{label}: empty output (scheduled={len(scheduled)}, "
                   f"fetched={n_fetched})")
    if counts.get("scheduled") != len(scheduled):
        bad.append(f"{label}: reported scheduled={counts.get('scheduled')} "
                   f"but the table holds {len(scheduled)} rows")
    if counts.get("fetched") != n_fetched:
        bad.append(f"{label}: reported fetched={counts.get('fetched')} "
                   f"but the table holds {n_fetched} fetched rows")
    keys = list(zip(scheduled["url_hash_hi"], scheduled["url_hash_lo"]))
    if len(set(keys)) != len(keys):
        bad.append(f"{label}: a url key is scheduled twice in one round")
    again = seen_keys.intersection(keys)
    if again:
        bad.append(f"{label}: {len(again)} url keys were scheduled in an "
                   "earlier round")
    per_host = scheduled.groupby("host").size()
    over = [h for h, n in per_host.items()
            if n > budgets.get(h, default_budget)]
    if over:
        bad.append(f"{label}: {len(over)} hosts over budget, e.g. {over[0]}")
    blocked = [
        u for u, h in zip(scheduled["url"], scheduled["host"])
        if any(url_path(u).startswith(d) for d in disallow.get(h, ()))
    ]
    if blocked:
        bad.append(f"{label}: {len(blocked)} scheduled urls are robots-"
                   f"disallowed, e.g. {blocked[0]}")
    hits = fetched[fetched["fetched"]]
    wrong = [u for u, t in zip(hits["url"], hits["text"])
             if snap_text.get(u) != t]
    if wrong:
        bad.append(f"{label}: {len(wrong)} fetched texts differ from the "
                   f"oracle, e.g. {wrong[0]}")
    missed = [u for u in fetched.loc[~fetched["fetched"], "url"]
              if u in snap_text]
    if missed:
        bad.append(f"{label}: {len(missed)} urls present in pages were "
                   f"reported unfetched, e.g. {missed[0]}")
    return bad


def check_recrawl(
    label: str,
    report: dict[str, int],
    changed_urls: set[str],
    expected_modified: set[str],
    expected_gone: set[str],
    due: set[str],
) -> list[str]:
    """One recrawl pass: ``report`` is status -> url count,
    ``changed_urls`` the urls the pass's checks table marks changed."""
    bad: list[str] = []
    total = sum(report.values())
    if total == 0:
        bad.append(f"{label}: empty due set")
    if total != len(due):
        bad.append(f"{label}: classified {total} urls, expected {len(due)} due")
    if changed_urls != expected_modified:
        extra = len(changed_urls - expected_modified)
        lost = len(expected_modified - changed_urls)
        bad.append(f"{label}: modified set differs from mutated ∩ due "
                   f"({extra} unexpected, {lost} missing)")
    if report.get("modified", 0) != len(expected_modified):
        bad.append(f"{label}: reported modified={report.get('modified', 0)}, "
                   f"expected {len(expected_modified)}")
    if report.get("gone", 0) != len(expected_gone):
        bad.append(f"{label}: reported gone={report.get('gone', 0)}, "
                   f"expected {len(expected_gone)}")
    return bad


def check_corpus(
    label: str,
    out_ids: set[int],
    stage_counts: dict[str, int],
    input_ids: set[int],
    exact_dup_ids: set[int],
) -> list[str]:
    """One ingest + clean_corpus run."""
    bad: list[str] = []
    if stage_counts.get("input", 0) == 0:
        bad.append(f"{label}: ingest kept no documents")
    if not out_ids:
        bad.append(f"{label}: cleaned corpus is empty")
    if not out_ids <= input_ids:
        bad.append(f"{label}: output holds ids that were never input")
    kept_dups = out_ids & exact_dup_ids
    if kept_dups:
        bad.append(f"{label}: {len(kept_dups)} injected exact duplicates "
                   "survived")
    return bad


def counts_digest(per_round: list[dict]) -> str:
    """Digest of the deterministic per-round counts (walls excluded)."""
    keep = ("round", "frontier_in", "deduped", "scheduled", "fetched",
            "frontier_next")
    rows = [{k: r[k] for k in keep} for r in per_round]
    return hashlib.sha256(json.dumps(rows, sort_keys=True).encode()).hexdigest()


def check_repeatable(label: str, state_file: str, digest: str) -> list[str]:
    """Per-round counts must be identical across runs of one seed: the
    first run in a checkout records the digest, later runs compare."""
    if os.path.exists(state_file):
        with open(state_file) as fh:
            before = fh.read().strip()
        if before != digest:
            return [f"{label}: per-round counts differ from an earlier run "
                    "with the same seed"]
        return []
    os.makedirs(os.path.dirname(state_file), exist_ok=True)
    with open(state_file, "w") as fh:
        fh.write(digest)
    return []
