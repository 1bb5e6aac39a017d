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
(SURVEY §7 hard part d).
"""

from __future__ import annotations

import json
import os
import time
from typing import Any
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession


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


def require_committed(log: ManifestLog, upto_round: int) -> None:
    """Raise ValueError unless rounds through ``upto_round`` are
    committed in ``log``'s manifest. A round that crashed after its
    table writes but before its manifest flip left round dirs on disk;
    a reader that probes paths up to a caller-given round would read
    them as committed data."""
    last = (log.read() or {}).get("last_round", -1)
    if upto_round > last:
        raise ValueError(
            f"round {upto_round} is not committed under {log.root!r} "
            f"(last committed round: {last})"
        )


def write_round_table(df: DataFrame, root: str, round_no: int, name: str) -> str:
    """Round-scoped parquet write (overwrite => replay-idempotent)."""
    path = os.path.join(root, f"round={round_no:05d}", name)
    df.write.mode("overwrite").parquet(path)
    return path


def path_exists(p: str) -> bool:
    """Existence check that works wherever the WRITES work: driver-local
    os.path for plain paths, the Hadoop FileSystem API for any
    scheme-qualified root (hdfs://, s3a://, file://...) — os.path.exists
    on an object-store URI is silently always-False, which would make
    every committed round read back as 'no data' (the micro_batch
    _list_epoch_dirs lesson, ADVICE r2)."""
    if "://" not in p:
        return os.path.exists(p)
    spark = SparkSession.getActiveSession()
    if spark is None:
        raise ValueError(
            f"existence check on {p!r} needs an active SparkSession "
            "(Hadoop FileSystem API)"
        )
    jpath = spark._jvm.org.apache.hadoop.fs.Path(p)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(jpath))


def round_table_paths(
    root: str, name: str, upto_round: int, from_round: int = 0
) -> list[str]:
    """Existing per-round paths of a table in [from_round, upto_round]."""
    return [
        os.path.join(root, f"round={r:05d}", name)
        for r in range(from_round, upto_round + 1)
        if path_exists(os.path.join(root, f"round={r:05d}", name))
    ]


def read_rounds(
    spark: SparkSession, root: str, name: str, upto_round: int,
    from_round: int = 0,
    merge_schema: bool = False,
) -> DataFrame | None:
    """Union of a table's committed per-round deltas (snapshot read).
    ``from_round`` lets a compacted reader skip already-consolidated
    rounds (snapshot-expiry analog, VERDICT r3 item 4).
    ``merge_schema`` is for tables whose schema gained columns across
    engine versions (e.g. recrawl_refreshed's recrawl_pass): without it
    Spark infers the union's schema from ONE footer, so a mixed old/new
    checkpoint would silently drop the new column (or read old rounds'
    values as garbage) depending on which file it sampled."""
    paths = round_table_paths(root, name, upto_round, from_round)
    if not paths:
        return None
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    return reader.parquet(*paths)


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
