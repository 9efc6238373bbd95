"""SparkSession factory + package shipping for workers.

Scale stance (SURVEY.md §4.2): AQE on (coalesce + skew join), Arrow for
every pandas interchange, shuffle partitions sized to the core count (not
the 200 default), and the ``sparkextract`` package shipped to executors as
a zip via ``addPyFile`` — the same mechanism ``spark-submit --py-files``
uses on a real cluster, so local tests exercise the cluster packaging
path.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import zipfile

from pyspark.sql import SparkSession

_PKG_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))  # .../src/sparkextract
_SRC_DIR = os.path.dirname(_PKG_DIR)                                    # .../src


def build_pyfiles_zip(dest_dir: str | None = None) -> str:
    """Zip the package for --py-files / addPyFile shipping. Without a
    ``dest_dir`` the zip goes to a fresh temp dir that is removed when
    the interpreter exits."""
    if dest_dir is None:
        dest_dir = tempfile.mkdtemp(prefix="sparkextract_pyfiles_")
        atexit.register(shutil.rmtree, dest_dir, ignore_errors=True)
    zip_path = os.path.join(dest_dir, "sparkextract.zip")
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, _dirs, files in os.walk(_PKG_DIR):
            if "__pycache__" in root:
                continue
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    zf.write(full, os.path.relpath(full, _SRC_DIR))
    return zip_path


def ensure_workers_can_import(spark: SparkSession) -> None:
    """Ship the sparkextract zip to executors of an externally-created
    session (the driver contract hands us ITS session — worker Python
    processes won't have our src/ on sys.path). Idempotent per session;
    equivalent to `spark-submit --py-files sparkextract.zip`."""
    sc = spark.sparkContext
    if getattr(sc, "_sparkextract_pyfiles_added", False):
        return

    def _shipped() -> bool:
        # ground truth, not message matching: error strings like
        # "file ... does not exist" would false-positive a substring test
        # and permanently suppress the retry
        try:
            return any(
                f.rsplit("/", 1)[-1] == "sparkextract.zip" for f in sc.listFiles
            )
        except Exception:
            return False

    if not _shipped():
        try:
            sc.addPyFile(build_pyfiles_zip())
        except Exception:
            # any failure (temp-dir/IO error building the zip, a racing
            # duplicate add) must stay retryable unless the zip verifiably
            # made it aboard — otherwise every pandas-UDF stage hits
            # executor-side ModuleNotFoundError for the rest of the app
            if not _shipped():
                return
    sc._sparkextract_pyfiles_added = True


def get_spark(
    app_name: str = "sparkextract",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Session tuned for the extraction workload.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (driver contract)
    or ``local[*]``. On a real cluster, pass ``master=None`` and let
    spark-submit supply it.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    ncores = os.cpu_count() or 8
    if master.startswith("local["):
        inner = master[6:-1]
        if inner != "*":
            ncores = int(inner)
    shuffle_partitions = shuffle_partitions or max(ncores * 2, 8)

    # ship the package exactly as --py-files would
    os.environ.setdefault("PYTHONPATH", _SRC_DIR)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # one Arrow batch ~ a few thousand docs of span payload; bounded so
        # a batch of mega-doc spans stays ~10-50 MB (SURVEY.md §4.2)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.driver.memory", os.environ.get("SPARKEXTRACT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.net.preferIPv4Stack=true")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, str(v))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # ship via the same idempotent path the job modules use: a session
    # must only ever hold ONE sparkextract.zip — addPyFile registers by
    # basename, so adding a second (rebuilt) zip whose bytes differ
    # makes every executor fail its fetch-consistency check ("exists and
    # does not match contents") for the rest of the app's lifetime
    ensure_workers_can_import(spark)
    return spark
