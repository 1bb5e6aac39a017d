"""Seeded benchmark inputs and their oracles.

Everything the program sees is written here as parquet before the Spark
session starts; the program receives only these tables. The same
``seed`` always yields byte-identical tables.

- the fixture tables (``pages``, ``seeds``, ``robots``, ``hosts``,
  ``canon``) come from the package's own deterministic generator
  (``sources.fixtures.write_fixtures``) at its fixed fixture seed, so the
  crawl input of a workload is the same on every run;
- the benchmark seed drives the two seeded generators below;
- ``pages_v2`` is a mutated snapshot of ``pages`` for the recrawl
  phase: a seeded ~20% of pages get an extra paragraph, a seeded ~3%
  disappear;
- ``corpus`` is the corpus-cleaning input: a seeded sample of page html
  plus injected exact duplicates (same html, new id) and near-duplicates
  (one extra word), the same injection pattern as the q56 entry query.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

MUTATE_FRAC = 0.20
REMOVE_FRAC = 0.03
EXACT_DUP_FRAC = 0.05
NEAR_DUP_FRAC = 0.05
EXACT_DUP_BASE = 1_000_000
NEAR_DUP_BASE = 2_000_000

_PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)


@dataclass
class Inputs:
    """Paths of one generated input set plus the oracles the checks use."""

    paths: dict[str, str]
    #: canonical url -> oracle text of the latest page (crawl snapshot)
    snap_text: dict[str, str]
    #: canonical url -> html length of the latest page
    snap_html_len: dict[str, int]
    #: canonical url -> text in the mutated snapshot (absent = removed)
    snap_text_v2: dict[str, str]
    #: host -> per-round budget
    budgets: dict[str, int]
    #: host -> robots disallow prefixes
    disallow: dict[str, list[str]]
    #: every corpus document id, and the injected exact duplicates among them
    corpus_ids: set[int]
    exact_dup_ids: set[int]


def _snapshot(pages: pd.DataFrame, canon: dict[str, str]) -> pd.DataFrame:
    """Latest page per canonical url: newest ``warc_ts``, ties to the
    smallest raw url (the program's documented snapshot rule)."""
    df = pages.assign(canon_url=pages["url"].map(canon))
    df = df.sort_values(["canon_url", "warc_ts", "url"],
                        ascending=[True, False, True], kind="mergesort")
    return df.drop_duplicates("canon_url", keep="first")


def _mutate(pages: pd.DataFrame, rng: np.random.Generator, words: list[str]):
    """Seeded pages_v2: append a paragraph to MUTATE_FRAC of the pages and
    drop REMOVE_FRAC of them."""
    from metadata_crawler_spark.functions.text import extract_text_py

    n = len(pages)
    mutated = rng.random(n) < MUTATE_FRAC
    keep = rng.random(n) >= REMOVE_FRAC
    extra = rng.integers(0, len(words), size=(n, 3))
    v2 = pages.copy()
    html = v2["html"].tolist()
    text = v2["text"].tolist()
    for i in np.flatnonzero(mutated):
        para = " ".join(words[j] for j in extra[i])
        html[i] = html[i].replace(b"</body>", f"<p>{para}</p></body>".encode())
        text[i] = extract_text_py(html[i])
    v2["html"] = html
    v2["text"] = text
    return v2[keep].reset_index(drop=True)


def _corpus(pages: pd.DataFrame, n_docs: int, rng: np.random.Generator):
    """(url, html, id) corpus input with injected exact and near dups."""
    idx = np.sort(rng.choice(len(pages), size=min(n_docs, len(pages)),
                             replace=False))
    base = pd.DataFrame({
        "url": pages["url"].to_numpy()[idx],
        "html": pages["html"].to_numpy()[idx],
    }).drop_duplicates("url", ignore_index=True)
    base["id"] = np.arange(len(base), dtype=np.int64)
    n = len(base)
    ex = np.sort(rng.choice(n, size=max(1, int(n * EXACT_DUP_FRAC)), replace=False))
    nd = np.sort(rng.choice(n, size=max(1, int(n * NEAR_DUP_FRAC)), replace=False))
    exact = pd.DataFrame({
        "url": [f"{base['url'][i]}#exact-dup-{j}" for j, i in enumerate(ex)],
        "html": base["html"].to_numpy()[ex],
        "id": EXACT_DUP_BASE + np.arange(len(ex), dtype=np.int64),
    })
    near = pd.DataFrame({
        "url": [f"{base['url'][i]}#near-dup-{j}" for j, i in enumerate(nd)],
        "html": [h.replace(b"</p>", b" extraword</p>", 1)
                 for h in base["html"].to_numpy()[nd]],
        "id": NEAR_DUP_BASE + np.arange(len(nd), dtype=np.int64),
    })
    return pd.concat([base, exact, near], ignore_index=True), set(exact["id"])


def generate(cache_dir: str, out_dir: str, n_pages: int, n_corpus_docs: int,
             seed: int) -> Inputs:
    """Write the seeded tables of one input set under ``out_dir``. The
    seed-independent fixture tables are written once per size under
    ``cache_dir`` (``write_fixtures`` skips tables it already wrote)."""
    from metadata_crawler_spark.sources.fixtures import WORDS, write_fixtures

    os.makedirs(out_dir, exist_ok=True)
    paths = write_fixtures(os.path.join(cache_dir, f"fixtures-{n_pages}"),
                           n_pages)
    pages = pq.read_table(paths["pages"]).to_pandas()
    canon_df = pq.read_table(paths["canon"]).to_pandas()
    canon = dict(zip(canon_df["url"], canon_df["canon_url"]))
    rng = np.random.default_rng([seed, 0x5EC0])

    v2 = _mutate(pages, rng, WORDS)
    paths["pages_v2"] = os.path.join(out_dir, "pages_v2.parquet")
    pq.write_table(pa.Table.from_pandas(v2, schema=_PAGES_SCHEMA,
                                        preserve_index=False),
                   paths["pages_v2"], row_group_size=8192)

    corpus, exact_ids = _corpus(pages, n_corpus_docs, rng)
    paths["corpus"] = os.path.join(out_dir, "corpus.parquet")
    pq.write_table(pa.Table.from_pandas(corpus, preserve_index=False),
                   paths["corpus"], row_group_size=4096)

    snap = _snapshot(pages, canon)
    snap_v2 = _snapshot(v2, canon)
    hosts = pq.read_table(paths["hosts"]).to_pandas()
    robots = pq.read_table(paths["robots"]).to_pandas()
    return Inputs(
        paths=paths,
        snap_text=dict(zip(snap["canon_url"], snap["text"])),
        snap_html_len=dict(zip(snap["canon_url"], snap["html"].map(len))),
        snap_text_v2=dict(zip(snap_v2["canon_url"], snap_v2["text"])),
        budgets=dict(zip(hosts["host"], hosts["budget"].astype(int))),
        disallow={h: list(d) for h, d in zip(robots["host"], robots["disallow"])},
        corpus_ids={int(i) for i in corpus["id"]},
        exact_dup_ids=exact_ids,
    )
