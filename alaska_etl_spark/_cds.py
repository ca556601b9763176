"""Class-data sharing (dynamic AppCDS) for the gateway JVM ``get_spark``
starts.

Every cold start loads and verifies the same few thousand Spark classes.
A dynamic CDS archive maps them from one file instead: session start and
the first jobs get seconds faster. ``launch`` builds the archive once per
classpath, in a child process that runs ``warm_up`` under
``-XX:ArchiveClassesAtExit``, and starts every later gateway from it.

The cache directory (``$XDG_CACHE_HOME/alaska_etl_spark``, by default
``~/.cache/alaska_etl_spark``) holds:

  conf/                  an empty directory, ``SPARK_CONF_DIR`` while a
                         gateway launches. The dump refuses a non-empty
                         directory on the classpath, and the JVM rejects
                         an archive whose classpath differs, so build and
                         use launch with this same path.
  <digest>-<bytes>.jsa   the archive. The digest covers the JDK and the
                         Spark jars; the byte count is checked before each
                         use, because the JVM crashes (SIGBUS) on a
                         truncated archive instead of falling back.
  <digest>.failed        a build that failed, or an archive the JVM
                         refused right after it was built. CDS stays off
                         for this classpath until the file is removed.
  build.log              stdout and stderr of the last build.

A launch reports one state: ``active`` (the archive was mapped),
``built`` (built by this start, then mapped), ``rejected`` (the JVM would
not map it; the archive is deleted so the next start rebuilds it, unless
it was just built) or ``skipped:<reason>``.
"""

import contextlib
import hashlib
import logging
import os
import shutil
import subprocess
import sys
import tempfile

import pyspark
from pyspark.find_spark_home import _find_spark_home

log = logging.getLogger(__name__)

#: JVM flags that mean the caller manages class-data sharing themselves
OWN_FLAGS = ("-Xshare", "SharedArchiveFile", "ArchiveClassesAtExit")
#: the JVM's cds log line for a dynamic archive it mapped; a later line
#: with one of ``REFUSED`` means it was validated after mapping and failed
MAPPED = "Mapped dynamic region"
REFUSED = ("UseSharedSpaces", "Unable to use shared archive")
#: a build takes about 40 s; one that hangs must not hang ``get_spark``
BUILD_TIMEOUT_S = 900


def cache_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(base, "alaska_etl_spark")


def java_home() -> str | None:
    """The JDK the Spark launcher runs: ``JAVA_HOME``, else the ``java``
    on ``PATH``."""
    home = os.environ.get("JAVA_HOME")
    if not home:
        java = shutil.which("java")
        if java is None:
            return None
        home = os.path.dirname(os.path.dirname(os.path.realpath(java)))
    return os.path.realpath(home)


def classpath_digest(jdk: str) -> str:
    """Digest of what the archive's classes come from: the JDK (its real
    path and ``release`` file), each Spark jar's name, size and mtime, and
    the pyspark version."""
    h = hashlib.sha256(jdk.encode())
    with contextlib.suppress(OSError), open(os.path.join(jdk, "release"), "rb") as f:
        h.update(f.read())
    jars = os.path.join(_find_spark_home(), "jars")
    if os.path.isdir(jars):
        for entry in sorted(os.scandir(jars), key=lambda e: e.name):
            st = entry.stat()
            h.update(f"\0{entry.name}\0{st.st_size}\0{st.st_mtime_ns}".encode())
    h.update(pyspark.__version__.encode())
    return h.hexdigest()[:20]


def skip_reason(extra_conf: dict[str, str]) -> str | None:
    """Why a launch with ``extra_conf`` must not use CDS, or None."""
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(_find_spark_home(), "conf")
    if os.path.isdir(conf_dir) and any(
        not name.endswith(".template") for name in os.listdir(conf_dir)
    ):
        return "conf_dir"
    if "spark.driver.defaultJavaOptions" in extra_conf:
        return "default_java_options"
    if extra_conf.get("spark.driver.extraClassPath"):
        return "class_path"  # it heads the classpath, which the archive pins
    extra = extra_conf.get("spark.driver.extraJavaOptions", "")
    if any(flag in extra for flag in OWN_FLAGS):
        return "java_options"
    return None


def _remove(path: str) -> None:
    with contextlib.suppress(FileNotFoundError):
        os.remove(path)


def _mark_failed(stem: str) -> None:
    open(f"{stem}.failed", "w").close()


def published(cache: str, digest: str) -> str | None:
    """The archive for ``digest`` if its size is the recorded one. An
    archive of any other size is deleted: it must never reach the JVM."""
    found = None
    for name in os.listdir(cache):
        stem, ext = os.path.splitext(name)
        prefix, _, size = stem.rpartition("-")
        if ext != ".jsa" or prefix != digest:
            continue
        path = os.path.join(cache, name)
        if found is None and size.isdigit() and os.path.getsize(path) == int(size):
            found = path
        else:
            _remove(path)
    return found


def build(cache: str, digest: str) -> str | None:
    """Run ``warm_up`` in a child process whose JVM dumps its loaded
    classes at exit, and publish the archive if the child exited 0.
    Returns the archive's path, or None (and a ``.failed`` marker) if the
    build failed."""
    tmp = os.path.join(cache, f"{digest}.{os.getpid()}.tmp")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(
        os.environ,
        SPARK_CONF_DIR=os.path.join(cache, "conf"),
        PYTHONPATH=os.pathsep.join(filter(None, (root, os.environ.get("PYTHONPATH")))),
    )
    work = tempfile.mkdtemp(dir=cache, prefix="build-")
    try:
        with open(os.path.join(cache, "build.log"), "wb") as out:
            rc = subprocess.run(
                [sys.executable, "-m", __name__, tmp],
                cwd=work, env=env, stdin=subprocess.DEVNULL, stdout=out, stderr=subprocess.STDOUT,
                timeout=BUILD_TIMEOUT_S,
            ).returncode
    except subprocess.TimeoutExpired:
        rc = "timeout"
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not os.path.isfile(tmp):
        _remove(tmp)
        _mark_failed(os.path.join(cache, digest))
        log.warning("CDS archive build failed (exit %s); see %s", rc, os.path.join(cache, "build.log"))
        return None
    path = os.path.join(cache, f"{digest}-{os.path.getsize(tmp)}.jsa")
    os.replace(tmp, path)
    for name in os.listdir(cache):
        if name.endswith(".jsa") and not name.startswith(f"{digest}-"):
            _remove(os.path.join(cache, name))
    return path


def archive(extra_conf: dict[str, str]) -> tuple[str | None, str | None]:
    """The archive to launch with (building it on a miss) and the state
    if it is not plain ``active``: ``built`` or ``skipped:<reason>``."""
    reason = skip_reason(extra_conf)
    if reason:
        return None, f"skipped:{reason}"
    jdk = java_home()
    if jdk is None:
        return None, "skipped:java_home"
    cache = cache_dir()
    os.makedirs(os.path.join(cache, "conf"), exist_ok=True)
    digest = classpath_digest(jdk)
    if os.path.exists(os.path.join(cache, f"{digest}.failed")):
        return None, "skipped:build_failed"
    path = published(cache, digest)
    if path is not None:
        return path, None
    path = build(cache, digest)
    return (path, "built") if path else (None, "skipped:build_failed")


@contextlib.contextmanager
def _env(key: str, value: str):
    old = os.environ.get(key)
    os.environ[key] = value
    try:
        yield
    finally:
        if old is None:
            os.environ.pop(key, None)
        else:
            os.environ[key] = old


def launch(builder, extra_conf: dict[str, str]):
    """``builder.getOrCreate()`` for a call that launches the gateway
    JVM, from the CDS archive where one applies. Returns the session and
    the start's CDS state."""
    try:
        path, state = archive(extra_conf)
    except OSError as e:  # the cache cannot be created or written
        log.warning("CDS off: %s", e)
        path, state = None, "skipped:cache_dir"
    if path is None:
        return builder.getOrCreate(), state
    cache = os.path.dirname(path)
    start_log = os.path.join(cache, f"start-{os.getpid()}.log")
    _remove(start_log)
    builder.config(
        "spark.driver.defaultJavaOptions",
        f"-XX:SharedArchiveFile={path} "
        f"-Xlog:cds=info,cds+dynamic=info:file={start_log}::filecount=0",
    )
    with _env("SPARK_CONF_DIR", os.path.join(cache, "conf")):
        spark = builder.getOrCreate()
    try:
        with open(start_log, errors="replace") as f:
            text = f.read()
    except OSError:
        text = ""
    _remove(start_log)
    why = [line for line in text.splitlines() if any(r in line for r in REFUSED)]
    if MAPPED in text and not why:
        return spark, state or "active"
    _remove(path)
    log.warning("CDS archive %s rejected by the JVM, deleted: %s", path, " | ".join(why) or "no cds log")
    if state == "built":
        # refused fresh (say, a heap over 32 GB turns compressed oops off):
        # a rebuild on every start would not help, so stop building
        _mark_failed(path.rpartition("-")[0])
    return spark, "rejected"


def warm_up(spark, root: str) -> None:
    """A small generic job mix whose classes the archive keeps: a
    partitioned parquet write and a read with a schema, a broadcast and a
    sort-merge join, an aggregate, a window, a text read, one
    availableNow stream, a ``pandas_udf`` and ``toPandas``."""
    # pandas_udf reads the hints below when it decorates, which is why
    # this module does without ``from __future__ import annotations``
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    facts = spark.range(3000).select(
        (F.col("id") % 7).alias("k"),
        (F.col("id") * 0.5).alias("v"),
        F.date_add(F.lit("2024-01-01").cast("date"), (F.col("id") % 3).cast("int")).alias("day"),
    )
    parquet = os.path.join(root, "facts")
    facts.write.partitionBy("day").parquet(parquet)
    back = spark.read.schema(facts.schema).parquet(parquet)
    dims = spark.createDataFrame([(i, f"k{i}") for i in range(7)], "k bigint, name string")
    per_day = (
        back.join(dims, "k")
        .join(back.select("k", "day").distinct().hint("merge"), ["k", "day"])
        .groupBy("name", "day")
        .agg(F.sum("v").alias("v"), F.count("*").alias("n"))
    )
    ranked = per_day.withColumn(
        "r", F.row_number().over(Window.partitionBy("name").orderBy(F.col("day").desc()))
    )

    @F.pandas_udf("double")
    def doubled(v: pd.Series) -> pd.Series:
        return v * 2

    ranked.select("name", "day", doubled("v").alias("v2")).toPandas()

    text = os.path.join(root, "text")
    os.makedirs(text)
    with open(os.path.join(text, "part-0.txt"), "w") as f:
        f.write("".join(f"line {i}\n" for i in range(100)))
    spark.read.text(text).filter(F.col("value").contains("1")).count()
    (
        spark.readStream.text(text)
        .writeStream.trigger(availableNow=True)
        .format("parquet")
        .option("checkpointLocation", os.path.join(root, "checkpoint"))
        .start(os.path.join(root, "stream"))
        .awaitTermination()
    )


def _dump(out: str) -> int:
    """Child side of ``build``: start a gateway that archives its classes
    into ``out`` at exit, run the warm-up, and wait for that JVM to exit
    (the dump runs at exit and takes seconds)."""
    from pyspark import SparkContext

    from alaska_etl_spark.session import get_spark

    spark = get_spark(
        "cds-build",
        master="local[2]",
        extra_conf={"spark.driver.defaultJavaOptions": f"-XX:ArchiveClassesAtExit={out}"},
    )
    warm_up(spark, os.getcwd())
    spark.stop()
    jvm = SparkContext._gateway.proc
    jvm.stdin.close()  # the gateway exits on EOF
    return jvm.wait()


if __name__ == "__main__":
    sys.exit(_dump(sys.argv[1]))
