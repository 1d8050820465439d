"""SparkSession factory.

The reference builds its AWS clients once per warm Lambda container and
reuses them across invocations (Handler.java:46-57); the Spark analog is a
single long-lived SparkSession, created here with the settings every part
of the engine relies on:

* AQE on (runtime coalescing / skew-join handling — our stand-in for the
  reference's hand-rolled batching heuristics),
* UTC session timezone (the reference treats all timestamps as ISO-8601
  UTC strings, Handler.java:86),
* Arrow execution for the few pandas-UDF operators,
* ``spark.sql.legacy.parquet.nanosAsLong`` because the driver-generated
  ``events`` table stores TIMESTAMP(NANOS), which Spark 4 otherwise
  rejects; ``sources.tables`` converts the raw nanos back to a timestamp.

A session this module starts also swaps Hadoop's local FileSystem
(``fs.file.impl`` and its FileContext twin) for
``jvm/ForkFreeLocalFileSystem.java``.  Structured Streaming's
write-ahead log (``offsets/N``, ``commits/N``, the file-source log) and
every file sink go through that FileSystem, which forks ``readlink``
four times per ``FileContext.rename`` and, without ``libhadoop``,
``chmod`` for each file and directory it creates: tens of process
starts on each replication trigger's critical path.  The replacement
sets the same nine mode bits with ``java.nio`` and answers a non-link's
link status with ``getFileStatus``, as Hadoop does.  Everything else is
Hadoop's code: the ``.crc`` checksum layer, the no-overwrite rename
checks, and sticky bits and symlinks, which go to the stock methods.
The jar is compiled once per source, ``hadoop-client-api`` jar and
``javac`` into the per-user cache (``$XDG_CACHE_HOME`` or
``~/.cache``), which lies outside any work directory a caller sets up
(perfbench's ``.work/`` included).  Without ``javac``, or if the build
fails, a warning is logged and the session keeps stock Hadoop.  So
does a session handed in through ``__spark_entry__.entry(spark)``: a
running JVM cannot gain a classpath, the same limit as for static
confs.

Scale notes (100 TB): everything here is also what you'd set on a real
cluster, except ``master``/memory sizing which would come from the
cluster manager.  Shuffle partitions default from ``SPARK_GRAFT_CPUS``
locally; at cluster scale you'd size them to ~128 MB per shuffle block or
rely on AQE coalescing from a high initial value.
"""

from __future__ import annotations

import glob
import hashlib
import logging
import os
import shutil
import subprocess
import tempfile
import uuid
import zipfile

import pyspark
from pyspark import SparkContext
from pyspark.sql import SparkSession

_PYSPARK_JARS = os.path.join(os.path.dirname(pyspark.__file__), "jars")
_FS_SOURCE = os.path.join(os.path.dirname(__file__), "jvm", "ForkFreeLocalFileSystem.java")
_FS_CLASS = "akr.fs.ForkFreeLocalFileSystem"

log = logging.getLogger(__name__)


def fork_free_fs_jar() -> str | None:
    """The compiled ``ForkFreeLocalFileSystem`` jar, built on first use
    and cached by the sha256 of the source, the ``hadoop-client-api``
    jar's name and the resolved ``javac`` path, so another Hadoop or JDK
    builds its own; None, with a warning, when it cannot be built."""
    javac = shutil.which("javac")
    api = sorted(glob.glob(os.path.join(_PYSPARK_JARS, "hadoop-client-api-*.jar")))
    if not javac or not api:
        log.warning("no javac or hadoop-client-api jar: keeping Hadoop's forking local FileSystem")
        return None
    h = hashlib.sha256()
    with open(_FS_SOURCE, "rb") as f:
        h.update(f.read())
    for part in (os.path.basename(api[0]), os.path.realpath(javac)):
        h.update(b"\0" + part.encode())
    cache = os.path.join(
        os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache"),
        "aws-kinesis-data-streams-replicator-spark",
    )
    jar = os.path.join(cache, f"fork-free-fs-{h.hexdigest()[:16]}.jar")
    if os.path.exists(jar):
        return jar
    with tempfile.TemporaryDirectory() as out:
        try:
            subprocess.run(
                [javac, "--release", "17", "-nowarn", "-cp", api[0], "-d", out, _FS_SOURCE],
                check=True, capture_output=True, text=True, timeout=300,
            )
            os.makedirs(cache, exist_ok=True)
            tmp = f"{jar}.{uuid.uuid4().hex}.tmp"
            try:
                with zipfile.ZipFile(tmp, "w") as z:
                    for path in glob.glob(os.path.join(out, "akr", "fs", "*.class")):
                        z.write(path, os.path.relpath(path, out))
                os.replace(tmp, jar)
            finally:
                if os.path.exists(tmp):
                    os.remove(tmp)
        except (OSError, subprocess.SubprocessError) as e:
            log.warning(
                "building %s failed, keeping Hadoop's forking local FileSystem: %s %s",
                _FS_SOURCE, e, getattr(e, "stderr", None) or "",
            )
            return None
    return jar


def get_spark(
    app_name: str = "aws-kinesis-data-streams-replicator-spark",
    cpus: str | int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Reuses an existing active session when present — the driver may hand
    us one — but still applies runtime-settable confs so behavior is
    consistent either way.
    """
    cpus = str(cpus or os.environ.get("SPARK_GRAFT_CPUS", "*"))
    n_shuffle = int(
        shuffle_partitions
        or os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", 0)
        or (32 if cpus in ("*", "") else max(int(cpus), 8))
    )

    runtime_conf = {
        # Correctness-critical: ISO-8601 UTC end-to-end (Handler.java:86).
        "spark.sql.session.timeZone": "UTC",
        # The events fixture is TIMESTAMP(NANOS); read as long, convert in loader.
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.shuffle.partitions": str(n_shuffle),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Dim tables (region/nation/supplier/config) are tiny at any SF —
        # make sure they broadcast rather than shuffle the fact side.
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.sql.parquet.compression.codec": "snappy",
    }
    if extra_conf:
        runtime_conf.update(extra_conf)

    active = SparkSession.getActiveSession()
    if active is not None:
        for k, v in runtime_conf.items():
            try:
                active.conf.set(k, v)
            except Exception:
                pass  # static conf on a running session — keep going
        return active

    builder = SparkSession.builder.master(f"local[{cpus}]").appName(app_name)
    for k, v in runtime_conf.items():
        builder = builder.config(k, v)
    # Like a static conf, a classpath only takes at JVM launch: a session
    # on a JVM started elsewhere keeps stock Hadoop.
    jar = fork_free_fs_jar() if SparkContext._jvm is None else None
    if jar:
        class_path = runtime_conf.get("spark.driver.extraClassPath")
        builder = builder.config(
            "spark.driver.extraClassPath", os.pathsep.join(p for p in (class_path, jar) if p)
        )
        builder = builder.config("spark.hadoop.fs.file.impl", _FS_CLASS)
        builder = builder.config("spark.hadoop.fs.AbstractFileSystem.file.impl", _FS_CLASS + "$Fs")
    builder = builder.config("spark.ui.enabled", "false")
    builder = builder.config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    # bucketed-table storage (co-located joins); keep out of the repo tree
    builder = builder.config(
        "spark.sql.warehouse.dir",
        os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/akr-warehouse"),
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
