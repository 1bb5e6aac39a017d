"""Stage-2: catalogue -> index (the reference's ``mdc <backend> index``)
and facet deletes — as table reads/writes.

Reference parity:
- ``async_index`` streams catalogue batches into Solr/Mongo with bounded
  HTTP workers (/root/reference/src/metadata_crawler/run.py:137-254,
  ingester/solr.py:146-215). Spark: read committed rounds -> one
  ``df.write`` — the sink's parallelism is the write tasks.
- latest/files dual index (api/stores/base.py:124-136): ``files`` is every
  committed fetch; ``latest`` is the newest record per canonical URL.
- ``delete`` by facet globs (run.py:257-302; ingester/mongo.py:159-217
  glob->anchored regex): filtered rewrite (DELETE WHERE with a row-level
  format).
- the intake-YAML catalogue descriptor with schema + counts
  (api/metadata_stores.py:447-477): a JSON descriptor next to the data.
"""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.versioning import latest_per_key
from .tables import ManifestLog, committed_rounds, read_rounds


def read_catalogue(
    spark: SparkSession, checkpoint_dir: str, upto_round: int
) -> DataFrame:
    """The ``files`` index: every committed fetched record through round
    ``upto_round``, which must be committed in the checkpoint's
    manifest (ValueError otherwise)."""
    state = ManifestLog(checkpoint_dir).read() or {}
    df = read_rounds(
        spark, checkpoint_dir, "fetched",
        committed_rounds(state, "fetched", upto_round), state,
    )
    if df is None:
        raise FileNotFoundError(f"no committed rounds under {checkpoint_dir}")
    return df


def latest_view(files: DataFrame) -> DataFrame:
    """The ``latest`` index (newest per canonical URL; rank-0 semantics)."""
    return latest_per_key(
        files.filter(F.col("fetched")), "url", "warc_ts", tiebreak="url"
    )


def index_catalogue(
    spark: SparkSession,
    checkpoint_dir: str,
    upto_round: int,
    out_dir: str,
    partition_by: str = "lang",
    fmt: str = "parquet",
) -> dict:
    """Write both indexes, partitioned for downstream pruning (the analog
    of Solr cores / Mongo collections). Returns the catalogue descriptor.

    The write itself is the parallel 'HTTP worker pool': every task posts
    its partition; ``partitionBy`` gives the reader partition pruning on
    the facet (the reference's per-core routing, A6).
    """
    from pyspark.sql import Observation

    files = read_catalogue(spark, checkpoint_dir, upto_round)
    # each count rides its own write (an Observation bound to that
    # action): the descriptor re-runs neither the catalogue read nor the
    # latest window
    counts = {}
    for name, df in (("files", files), ("latest", latest_view(files))):
        obs = Observation(f"catalogue_{name}")
        (df.observe(obs, F.count(F.lit(1)).alias("n")).write
         .mode("overwrite").partitionBy(partition_by)
         .format(fmt).save(os.path.join(out_dir, name)))
        counts[name] = obs.get["n"]
    descriptor = {
        "schema": files.schema.jsonValue(),
        "counts": counts,
        "upto_round": upto_round,
        "partition_by": partition_by,
        "format": fmt,
    }
    with open(os.path.join(out_dir, "catalogue.json"), "w") as fh:
        json.dump(descriptor, fh, indent=1)
    return descriptor


def glob_to_regex(glob: str) -> str:
    """The reference's glob->anchored-regex translation
    (ingester/mongo.py:201-206): * -> .*, ? -> ., anchored both ends."""
    return "^" + re.escape(glob).replace(r"\*", ".*").replace(r"\?", ".") + "$"


def delete_by_facets(df: DataFrame, facets: dict[str, str]) -> DataFrame:
    """DELETE WHERE facet matches every glob — returned as the surviving
    rewrite (with Iceberg/Delta this is a row-level DELETE)."""
    cond = None
    for col, glob in facets.items():
        c = F.col(col).rlike(glob_to_regex(glob))
        cond = c if cond is None else (cond & c)
    return df.filter(~cond) if cond is not None else df
