"""The engine's local Hadoop FileSystem (session.py,
jvm/ForkFreeLocalFileSystem.java): Spark's local file I/O starts no
process, and the FileSystem behaves as stock Hadoop's does — the same
mode bits, the same .crc checks, the same rename and link-status
answers."""

from __future__ import annotations

import logging
import os
import stat
import zipfile

import pytest
from py4j.protocol import Py4JJavaError

from aws_kinesis_data_streams_replicator_spark import session

FS_CLASS = "akr.fs.ForkFreeLocalFileSystem"


@pytest.fixture(scope="module")
def hadoop(spark):
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    assert (
        jvm.org.apache.hadoop.fs.FileSystem.get(jvm.java.net.URI("file:///"), conf)
        .getClass()
        .getName()
        == FS_CLASS
    )
    return jvm, conf


def _raw_pair(jvm, conf):
    """(stock RawLocalFileSystem, the engine's Raw), both initialized."""
    uri = jvm.java.net.URI("file:///")
    stock = jvm.org.apache.hadoop.fs.RawLocalFileSystem()
    ours = getattr(jvm.akr.fs, "ForkFreeLocalFileSystem$Raw")()
    for fs in (stock, ours):
        fs.initialize(uri, conf)
    return stock, ours


def _java_error(call) -> str:
    """Class name of the Java exception ``call()`` raises, or None."""
    try:
        call()
    except Py4JJavaError as e:
        return e.java_exception.getClass().getName()
    return None


def test_spark_file_io_starts_no_process(spark, hadoop, tmp_path):
    """A parquet append and one trigger of a file-source stream (its
    offsets/commits WAL, the file-source log and the sink's committer)
    under a JFR recording of jdk.ProcessStart: nothing Hadoop runs
    forks.  Stock Hadoop without libhadoop forks chmod per created file
    and directory and readlink per FileContext rename link lookup."""
    jvm, _ = hadoop
    d = str(tmp_path)

    def work() -> None:
        spark.range(10).write.mode("append").parquet(f"{d}/src")
        q = (
            spark.readStream.schema("id LONG")
            .parquet(f"{d}/src")
            .writeStream.format("parquet")
            .option("checkpointLocation", f"{d}/wal")
            .trigger(availableNow=True)
            .start(f"{d}/out")
        )
        q.awaitTermination()

    work()  # class loading and one-off set-up happen outside the recording
    recording = jvm.jdk.jfr.Recording()
    recording.enable("jdk.ProcessStart")
    recording.start()
    try:
        work()
    finally:
        recording.stop()
    dump = jvm.java.io.File(f"{d}/process-start.jfr").toPath()
    recording.dump(dump)
    recording.close()
    events = list(jvm.jdk.jfr.consumer.RecordingFile.readAllEvents(dump))

    def from_hadoop(event) -> bool:
        trace = event.getStackTrace()
        return trace is not None and any(
            f.getMethod().getType().getName().startswith("org.apache.hadoop.")
            for f in trace.getFrames()
        )

    # Spark's own housekeeping (an `rm -rf` of a collected session's
    # artifact directory on the Cleaner thread) may land in the window.
    forked = [str(e.getString("command")) for e in events if from_hadoop(e)]
    assert forked == []
    assert spark.read.parquet(f"{d}/out").count() == 20


def test_mode_bits_match_stock(hadoop, tmp_path):
    jvm, conf = hadoop
    Path = jvm.org.apache.hadoop.fs.Path
    FsPermission = jvm.org.apache.hadoop.fs.permission.FsPermission

    def modes(fs, root: str) -> dict:
        os.makedirs(root)
        fs.create(Path(f"{root}/created")).close()
        fs.mkdirs(Path(f"{root}/made/nested"))
        fs.mkdirs(Path(f"{root}/made750"), FsPermission("750"))
        for name, mode in (("f640", "640"), ("f007", "007"), ("dsticky", "1777")):
            target = f"{root}/{name}"
            os.mkdir(target) if name.startswith("d") else open(target, "w").close()
            fs.setPermission(Path(target), FsPermission(mode))
        return {
            os.path.relpath(os.path.join(p, n), root): stat.S_IMODE(
                os.stat(os.path.join(p, n)).st_mode
            )
            for p, dirs, files in os.walk(root)
            for n in dirs + files
        }

    stock, ours = _raw_pair(jvm, conf)
    expected = modes(stock, str(tmp_path / "stock"))
    assert modes(ours, str(tmp_path / "ours")) == expected
    assert expected["f640"] == 0o640 and expected["dsticky"] == 0o1777


def test_checksum_layer_is_kept(hadoop, tmp_path):
    jvm, conf = hadoop
    Path = jvm.org.apache.hadoop.fs.Path
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(jvm.java.net.URI("file:///"), conf)
    target = str(tmp_path / "data.bin")
    out = fs.create(Path(target))
    out.write(b"0123456789" * 20)
    out.close()
    assert os.path.exists(str(tmp_path / ".data.bin.crc"))
    assert fs.open(Path(target)).read() == ord("0")

    with open(target, "r+b") as f:
        f.seek(100)
        f.write(b"X")
    assert _java_error(lambda: fs.open(Path(target)).read()) == (
        "org.apache.hadoop.fs.ChecksumException"
    )


def test_rename_checks_match_stock(spark, hadoop, tmp_path):
    """FileContext.rename (the WAL's commit) refuses to overwrite
    without Rename.OVERWRITE, exactly as stock LocalFs does."""
    jvm, conf = hadoop
    fc_class = jvm.org.apache.hadoop.fs.FileContext
    stock_conf = jvm.org.apache.hadoop.conf.Configuration(conf)
    stock_conf.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    ours_fc, stock_fc = fc_class.getFileContext(conf), fc_class.getFileContext(stock_conf)
    assert ours_fc.getDefaultFileSystem().getClass().getName() == FS_CLASS + "$Fs"
    rename_enum = getattr(jvm.org.apache.hadoop.fs, "Options$Rename")

    def outcomes(fc, root: str) -> list:
        os.makedirs(root)
        for name in ("a", "b", "c"):
            with open(f"{root}/{name}", "w") as f:
                f.write(name)
        Path = jvm.org.apache.hadoop.fs.Path
        got = []
        for src, dst, mode in (("a", "b", "NONE"), ("a", "new", "NONE"), ("c", "b", "OVERWRITE")):
            opts = spark.sparkContext._gateway.new_array(rename_enum, 1)
            opts[0] = getattr(rename_enum, mode)
            got.append(
                _java_error(lambda: fc.rename(Path(f"{root}/{src}"), Path(f"{root}/{dst}"), opts))
            )
        got.append(sorted(os.listdir(root)))
        got.append(open(f"{root}/b").read())
        return got

    expected = outcomes(stock_fc, str(tmp_path / "stock"))
    assert outcomes(ours_fc, str(tmp_path / "ours")) == expected
    assert expected[:3] == ["org.apache.hadoop.fs.FileAlreadyExistsException", None, None]


def test_link_status_matches_stock(hadoop, tmp_path):
    jvm, conf = hadoop
    Path = jvm.org.apache.hadoop.fs.Path
    target = tmp_path / "file"
    target.write_text("x")
    (tmp_path / "link").symlink_to(target)
    stock, ours = _raw_pair(jvm, conf)

    def status(fs, name: str):
        try:
            return fs.getFileLinkStatus(Path(str(tmp_path / name))).toString()
        except Py4JJavaError as e:
            return e.java_exception.getClass().getName()

    for name in ("file", "link", "missing"):
        assert status(ours, name) == status(stock, name)
    assert "isSymlink=true" in status(ours, "link")
    assert status(ours, "missing") == "java.io.FileNotFoundException"


def test_jar_is_built_once_per_source_and_hadoop(tmp_path, monkeypatch):
    """A second call runs no javac; another Hadoop API jar gets its own
    build, so a jar linked against one Hadoop is never reused with
    another."""
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    runs = []
    real_run = session.subprocess.run
    monkeypatch.setattr(
        session.subprocess, "run", lambda cmd, **kw: runs.append(cmd[0]) or real_run(cmd, **kw)
    )
    jar = session.fork_free_fs_jar()
    assert len(runs) == 1 and runs[0].endswith("javac")
    assert jar.startswith(str(tmp_path)) and os.listdir(os.path.dirname(jar)) == [
        os.path.basename(jar)
    ]
    with zipfile.ZipFile(jar) as z:
        assert "akr/fs/ForkFreeLocalFileSystem$Raw.class" in z.namelist()
    assert session.fork_free_fs_jar() == jar
    assert len(runs) == 1

    (api,) = [
        n for n in os.listdir(session._PYSPARK_JARS) if n.startswith("hadoop-client-api-")
    ]
    other = tmp_path / "jars"
    other.mkdir()
    (other / "hadoop-client-api-0.0.0.jar").symlink_to(os.path.join(session._PYSPARK_JARS, api))
    monkeypatch.setattr(session, "_PYSPARK_JARS", str(other))
    other_jar = session.fork_free_fs_jar()
    assert len(runs) == 2 and other_jar not in (None, jar)
    assert sorted(os.listdir(os.path.dirname(jar))) == sorted(
        os.path.basename(j) for j in (jar, other_jar)
    )


def test_without_javac_the_build_warns_and_returns_none(tmp_path, monkeypatch, caplog):
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    monkeypatch.setattr(session.shutil, "which", lambda name: None)
    with caplog.at_level(logging.WARNING, logger=session.__name__):
        assert session.fork_free_fs_jar() is None
    assert "keeping Hadoop's forking local FileSystem" in caplog.text
    assert os.listdir(tmp_path) == []
