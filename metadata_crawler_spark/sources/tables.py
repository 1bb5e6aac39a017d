"""Table + atomic-manifest (checkpoint) layer.

Reference parity: the catalogue — batched writes to latest/files stores,
finalized by writing an intake-YAML descriptor with schema+counts
(/root/reference/src/metadata_crawler/api/metadata_stores.py:447-477,
api/stores/base.py:63-77) — and resumability via the crawl epoch.

Spark realization: Iceberg would give us snapshots + MERGE + row-level
deletes natively; the sandbox has no Iceberg jars, so the same contract is
kept behind a thin layer (SURVEY §7.6): parquet directories written
per-round plus ONE manifest JSON whose atomic rename is the commit point
(os.replace). Replays are safe because every round's writes land under
round-scoped paths and the manifest pointer flips last — an uncommitted
round is invisible, an idempotent re-run overwrites the same paths
(SURVEY §7 hard part d). Like an Iceberg snapshot, the manifest also
lists WHICH tables are committed (:func:`committed_rounds`): storage is
never probed, so orphan tables stay invisible and a lost committed table
fails its read. It also records each table's schema
(:func:`table_schema`), so a read never infers one from parquet footers
(a Spark job per read).
"""

from __future__ import annotations

import json
import os
import time
from typing import Any, Sequence
from urllib.parse import urlparse

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


class ManifestLog:
    """Atomic JSON manifest: the commit pointer for the round loop.

    The commit uses local file operations, so ``root`` must be a local
    path or a ``file://`` URI (mapped to its local path). Any other
    scheme raises instead of committing on the Spark driver's disk while
    the round's data goes to the store."""

    def __init__(self, root: str):
        scheme, sep, _ = root.partition("://")
        if sep:
            if scheme != "file":
                raise ValueError(
                    f"manifest root {root!r}: the manifest commit needs a "
                    "local or file:// checkpoint; commits on other "
                    "filesystems are not supported yet"
                )
            root = urlparse(root).path
        self.root = root
        os.makedirs(root, exist_ok=True)
        self.path = os.path.join(root, "manifest.json")

    def read(self) -> dict[str, Any] | None:
        if not os.path.exists(self.path):
            return None
        with open(self.path) as fh:
            return json.load(fh)

    def commit(self, state: dict[str, Any]) -> None:
        """Write-then-rename: readers see the old state or the new state,
        never a torn one. This is the single commit point of a round."""
        state = dict(state)
        state["committed_at"] = time.time()
        tmp = self.path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(state, fh, indent=1, sort_keys=True)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, self.path)


#: tables every committed crawl round / recrawl pass writes; any other
#: round table is config-gated, listed in its round's ``optional_tables``
REQUIRED_TABLES = ("scheduled", "bloom", "fetched", "metrics", "frontier_next")
RECRAWL_TABLES = ("recrawl_checks", "recrawl_refreshed", "recrawl_report")


def table_path(root: str, round_no: int, name: str) -> str:
    """THE checkpoint layout: round ``round_no``'s table ``name``."""
    return os.path.join(root, f"round={round_no:05d}", name)


def file_round() -> Column:
    """:func:`table_path`'s inverse, as a column: the round of the round
    table each row was scanned from (``input_file_name()``). A row with
    no round table directly behind it (``createDataFrame``, a cache, or
    anything past a shuffle reads an empty file name) fails the query
    when it is evaluated, instead of reading as round NULL."""
    captured = F.regexp_extract(F.input_file_name(), r"/round=(\d+)/", 1)
    return F.when(
        captured == "",
        F.raise_error(F.lit(
            "row is not from a direct scan of committed round=NNNNN "
            "tables (sources.tables.read_rounds): its round is unknown"
        )),
    ).otherwise(captured.cast("int"))


def committed_rounds(
    state: dict[str, Any], name: str, upto: int, from_round: int = 0
) -> list[int]:
    """The rounds in [from_round, upto] whose table ``name`` the manifest
    ``state`` names as committed. ``upto`` past ``last_recrawl`` (recrawl
    tables) or ``last_round`` raises ValueError: a round that crashed
    before its manifest flip left orphan tables, not data. An optional
    table is named where its round's ``optional_tables`` lists it; an
    entry without that record (written before it existed) raises."""
    bound = "last_recrawl" if name in RECRAWL_TABLES else "last_round"
    if upto > state.get(bound, -1):
        raise ValueError(
            f"round {upto} of {name!r} is not committed ({bound}: "
            f"{state.get(bound, -1)})"
        )
    rounds = range(max(from_round, 0), upto + 1)
    if name in REQUIRED_TABLES + RECRAWL_TABLES:
        return list(rounds)
    named = []
    for r in rounds:
        tables = state.get(f"r{r}", {}).get("optional_tables")
        if tables is None:
            raise ValueError(
                f"round {r}'s manifest entry has no optional_tables record "
                f"(written before it existed): its {name!r} table is unknown"
            )
        if name in tables:
            named.append(r)
    return named


def write_round_table(
    df: DataFrame, root: str, round_no: int, name: str,
    state: dict[str, Any] | None = None,
) -> str:
    """Round-scoped parquet write (overwrite => replay-idempotent). The
    written schema is recorded in the manifest ``state`` the write is
    committed by, once per table name (from ``df.schema`` on the
    driver: no job); None for a write no manifest will name."""
    path = table_path(root, round_no, name)
    if state is not None:
        state.setdefault("schemas", {})[name] = df.schema.jsonValue()
    df.write.mode("overwrite").parquet(path)
    return path


def table_schema(state: dict[str, Any], name: str) -> StructType:
    """The schema the manifest ``state`` records for table ``name``, as
    its newest write recorded it. One record per name serves a read of
    several rounds: every round of a checkpoint is written by one engine
    version (old checkpoints do not outlive an engine change), and the
    seen filter, whose schema follows its tier, is only read at its
    newest round. A table without a record raises ValueError: there is
    no inference fallback."""
    recorded = state.get("schemas", {}).get(name)
    if recorded is None:
        raise ValueError(
            f"the manifest records no schema for table {name!r} "
            "(written before schemas were recorded, or not by the engine)"
        )
    return StructType.fromJson(recorded)


def read_rounds(
    spark: SparkSession, root: str, name: str, rounds: Sequence[int],
    state: dict[str, Any],
) -> DataFrame | None:
    """Union of table ``name``'s deltas for exactly ``rounds`` (from
    :func:`committed_rounds`), None for no rounds; a missing one fails
    the read (Spark's PATH_NOT_FOUND names it). Read with the schema the
    manifest ``state`` records (:func:`table_schema`): no footer job."""
    if not rounds:
        return None
    return spark.read.schema(table_schema(state, name)).parquet(
        *(table_path(root, r, name) for r in rounds)
    )


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    n_buckets: int = 64,
    mode: str = "overwrite",
) -> None:
    """Persist a table bucketed on a join key (Iceberg analog:
    ``PARTITIONED BY bucket(n, col)``). A later equi-join on
    ``bucket_col`` reads the bucketed side WITHOUT an Exchange — at
    100 TB this is what keeps the per-round fetch join from shuffling
    the pages table when the scheduled side outgrows broadcast; Spark
    shuffles only the small side into the existing bucket layout."""
    (
        df.write.mode(mode)
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .format("parquet")
        .saveAsTable(table_name)
    )
