"""SparkSession construction tuned for the crawl-frontier workload.

The reference hand-tunes parallelism (64 async scanners, min(cpu,15)
consumer processes, bounded queues — /root/reference/src/metadata_crawler/
data_collector.py:74-78, api/metadata_stores.py:255,281-285). On Spark the
analogous knobs are shuffle partitions, AQE, and Arrow batch size; everything
else (backpressure, work stealing, spill) is the engine's job.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Runtime-settable confs we also re-assert on sessions we did not build
#: (e.g. the driver-owned session passed to ``__spark_entry__.queries()``).
RUNTIME_CONFS = {
    # Oracle comparisons (DuckDB) assume UTC-naive timestamps.
    "spark.sql.session.timeZone": "UTC",
    # Arrow transfer for every pandas UDF in the hot path.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # 10k-row Arrow batches keep the canonicalize/extract UDFs cache-friendly
    # (analog of the reference's 25_000 crawl batch, run.py:313).
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # AQE: runtime coalesce + skew-join splitting (the reference has NO skew
    # handling — one hot directory serializes on one worker; see SURVEY §4).
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
}


_PKG_DIR = os.path.dirname(os.path.abspath(__file__))
_REPO_ROOT = os.path.dirname(_PKG_DIR)


def build_pyfiles_zip(zpath: str) -> str:
    """Zip the package for ``--py-files`` / ``addPyFile``. ONE builder so
    ship_package and the spark-submit parity test ship the identical
    artifact shape (arcnames relative to the repo root, ``.py`` only)."""
    import zipfile

    with zipfile.ZipFile(zpath, "w") as zf:
        for root, _dirs, files in os.walk(_PKG_DIR):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    zf.write(full, os.path.relpath(full, _REPO_ROOT))
    return zpath


def ship_package(spark: SparkSession) -> SparkSession:
    """Ship this package to executors — ``spark-submit --py-files`` parity.

    Our pandas UDFs are module-level functions; cloudpickle serializes them
    by reference, so worker processes must be able to *import*
    ``metadata_crawler_spark``. On a real cluster that's
    ``spark-submit --py-files mcs.zip`` (north rule); here we zip the
    package once per session and ``addPyFile`` it, which covers
    driver-owned sessions (e.g. the grading harness) whose CWD/PYTHONPATH
    we don't control. The zip lives in a directory private to the
    session, so concurrent drivers never overwrite each other's zip.
    """
    sc = spark.sparkContext
    # marked per context: its file server refuses a second zip of the
    # same name from another directory
    if getattr(sc, "_mcs_shipped", False):
        return spark
    import atexit
    import shutil
    import tempfile

    zdir = tempfile.mkdtemp(prefix="mcs_pyfiles_")
    atexit.register(shutil.rmtree, zdir, True)
    zpath = build_pyfiles_zip(
        os.path.join(zdir, "metadata_crawler_spark_pyfiles.zip")
    )
    sc.addPyFile(zpath)
    sc._mcs_shipped = True
    return spark


def tune(spark: SparkSession) -> SparkSession:
    """Re-assert runtime-settable confs on an externally built session."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - conf locked by the host
            pass
    return ship_package(spark)


def _default_driver_memory(phys_bytes: int) -> str:
    """``spark.driver.memory`` for a machine with ``phys_bytes`` of RAM:
    half of it, at least Spark's own 1g default. The other half stays for
    the pandas-UDF Python workers and the OS."""
    return f"{max(1024, phys_bytes // 2 // 2**20)}m"


def get_spark(
    app: str = "metadata_crawler_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    """Build a local session; ``cores`` drives master + shuffle width.

    In local mode one JVM hosts driver+executors, so driver memory is the
    only memory knob (``SPARK_DRIVER_MEM``, else half the machine's RAM).
    shuffle.partitions defaults to the core count —
    the 200 default over-parallelizes small rounds and under-parallelizes
    100 TB ones; on a real cluster this would be set per-round from the
    frontier size (see plans/round_loop.py).
    """
    caller_set_cores = cores is not None
    caller_set_shuffle = shuffle_partitions is not None
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or cores
    # Local-mode workers are fresh interpreters: make the package importable
    # regardless of the launch directory (cluster equivalent: --py-files).
    pp = os.environ.get("PYTHONPATH", "")
    if os.path.isdir(os.path.join(_REPO_ROOT, "metadata_crawler_spark")) and (
        _REPO_ROOT not in pp.split(os.pathsep)
    ):
        os.environ["PYTHONPATH"] = (
            _REPO_ROOT + (os.pathsep + pp if pp else "")
        )
    # Master resolution (north rule: the crawl runs via spark-submit on a
    # real cluster): SPARK_GRAFT_MASTER overrides explicitly; under
    # spark-submit the driver attaches to an existing JVM gateway
    # (PYSPARK_GATEWAY_PORT) whose --master must NOT be clobbered by a
    # hardcoded local[N] — only a standalone python launch defaults to
    # local mode.
    master = os.environ.get("SPARK_GRAFT_MASTER")
    under_gateway = "PYSPARK_GATEWAY_PORT" in os.environ
    b = SparkSession.builder.appName(app)
    if master:
        b = b.master(master)
    elif not under_gateway:
        b = b.master(f"local[{cores}]")
    # Parallelism knobs: when attached to a spark-submit gateway and the
    # caller asked for nothing specific, the submitted ``--conf`` values
    # are the operator's cluster tuning — overriding them with the
    # local-mode default (32) is the same clobber class as the fixed
    # hardcoded-master bug, one knob over (a 100 TB shuffle forced to 32
    # partitions). Only set a knob when we own the session (local mode /
    # explicit SPARK_GRAFT_MASTER) or the caller passed THAT knob
    # explicitly — passing only one must not clobber the submitted
    # --conf for the other (get_spark(shuffle_partitions=256) under a
    # gateway used to force spark.default.parallelism down to the
    # local default, the same clobber class one knob over).
    own_session = bool(master) or not under_gateway
    if own_session or caller_set_shuffle:
        b = b.config(
            "spark.sql.shuffle.partitions", str(shuffle_partitions)
        )
    if own_session or caller_set_cores:
        b = b.config("spark.default.parallelism", str(cores))
    driver_mem = os.environ.get("SPARK_DRIVER_MEM") or _default_driver_memory(
        os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    )
    b = (
        b
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    # single-node shuffle through ext4 serializes on disk I/O and hides CPU
    # scaling; tmpfs shuffle is the honest local stand-in for a cluster's
    # distributed shuffle service (each executor has its own local NVMe)
    if os.path.isdir("/dev/shm"):
        shm = "/dev/shm/mcs-spark-local"
        os.makedirs(shm, exist_ok=True)
        b = b.config("spark.local.dir", shm)
    for k, v in RUNTIME_CONFS.items():
        b = b.config(k, v)
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return ship_package(spark)
