"""spark-submit entry point for the crawl (north rule: run via
``spark-submit --py-files``).

    zip -r mcs.zip metadata_crawler_spark
    spark-submit --py-files mcs.zip -m ...   # or:
    spark-submit --py-files mcs.zip run_crawl.py \
        --pages s3://bucket/pages --seeds s3://bucket/seeds \
        --robots ... --hosts ... --checkpoint file:///shared/ck --rounds 10

Input tables may live on any Spark filesystem. The checkpoint must be a
local path or a ``file://`` URI (on a cluster: a shared mount), because
its manifest commit uses local file operations.

Also runnable locally: ``python -m metadata_crawler_spark.plans.run_crawl
--fixtures 2000 --rounds 3`` (self-generates a fixture corpus).
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="run the crawl round loop")
    ap.add_argument("--pages", help="pages table path (parquet)")
    ap.add_argument("--seeds", help="seeds table path (parquet)")
    ap.add_argument("--robots", help="robots table path (parquet)")
    ap.add_argument("--hosts", help="hosts table path (parquet)")
    ap.add_argument("--checkpoint", required=False, help="checkpoint dir")
    ap.add_argument("--rounds", type=int, default=3)
    ap.add_argument("--cores", type=int, default=None)
    ap.add_argument("--n-shards", type=int, default=32)
    ap.add_argument("--max-urls-per-round", type=int, default=None)
    ap.add_argument("--fail-under", type=int, default=None)
    ap.add_argument(
        "--fixtures", type=int, default=None,
        help="generate an N-page fixture corpus instead of --pages/...",
    )
    args = ap.parse_args(argv)

    from ..session import get_spark
    from .round_loop import CrawlConfig, Crawler

    spark = get_spark("mcs-crawl", cores=args.cores)
    if args.fixtures:
        import tempfile

        from ..sources.fixtures import write_fixtures

        d = tempfile.mkdtemp(prefix="mcs_crawl_fx_")
        paths = write_fixtures(d, args.fixtures)
        args.pages = paths["pages"]
        args.seeds = paths["seeds"]
        args.robots = paths["robots"]
        args.hosts = paths["hosts"]
        args.checkpoint = args.checkpoint or tempfile.mkdtemp(prefix="mcs_ck_")
    if not all([args.pages, args.seeds, args.robots, args.hosts, args.checkpoint]):
        ap.error("--pages/--seeds/--robots/--hosts/--checkpoint or --fixtures")

    crawler = Crawler(
        spark=spark,
        pages_path=args.pages,
        robots=spark.read.parquet(args.robots),
        hosts=spark.read.parquet(args.hosts),
        checkpoint_dir=args.checkpoint,
        config=CrawlConfig(
            n_shards=args.n_shards,
            max_urls_per_round=args.max_urls_per_round,
            fail_under=args.fail_under,
        ),
    )
    results = crawler.run(spark.read.parquet(args.seeds), rounds=args.rounds)
    for r in results:
        print(json.dumps(r))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
