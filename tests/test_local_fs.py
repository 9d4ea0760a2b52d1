"""The java.nio local file system (jvm/src/quacfka/jvm/LocalFs.scala).

Without libhadoop, Hadoop's ``RawLocalFileSystem`` starts a ``chmod``
process per permission it sets and a ``readlink`` process per link
status it asks for. ``session.get_spark`` registers java.nio twins for
``file:`` paths. These tests pin that the twins are what Spark resolves,
that they set and read exactly what Hadoop's shell path does, that an
ingest pipeline runs without starting those processes on its output
tree, and that the committed jar holds every class its sources declare.
"""

from __future__ import annotations

import os
import re
import shutil
import subprocess
import sys
import zipfile

import pytest
from py4j.protocol import Py4JJavaError

from quacfka_spark.session import JAR_PATH

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPIED = ("chmod", "readlink", "ls", "stat")


def _jvm_fs(spark):
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    return jvm, conf, jvm.java.net.URI("file:///")


def test_file_scheme_resolves_to_nio_classes(spark):
    jvm, conf, uri = _jvm_fs(spark)
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(uri, conf)
    assert fs.getClass().getName() == "quacfka.jvm.NioLocalFileSystem"
    assert fs.getRaw().getClass().getName() == "quacfka.jvm.NioRawLocalFileSystem"
    fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(uri, conf)
    assert fc.getDefaultFileSystem().getClass().getName() == "quacfka.jvm.NioLocalFs"


@pytest.mark.parametrize("mode", [0o644, 0o755, 0o600, 0o750, 0o1777])
def test_set_permission_matches_os_chmod(spark, tmp_path, mode):
    """0o1777 carries the sticky bit, which goes to Hadoop's own path."""
    jvm, conf, uri = _jvm_fs(spark)
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(uri, conf)
    perm = jvm.org.apache.hadoop.fs.permission.FsPermission(f"{mode:o}")
    for kind in ("file", "dir"):
        ours, twin = tmp_path / f"{kind}_nio", tmp_path / f"{kind}_os"
        for p in (ours, twin):
            p.mkdir() if kind == "dir" else p.write_bytes(b"x")
        fs.setPermission(jvm.org.apache.hadoop.fs.Path(str(ours)), perm)
        os.chmod(twin, mode)
        assert os.stat(ours).st_mode == os.stat(twin).st_mode, kind
        assert os.stat(ours).st_mode & 0o7777 == mode, kind


def _link_status(fs, path):
    st = fs.getFileLinkStatus(path)
    return (
        st.getPath().toString(), st.isFile(), st.isDirectory(), st.isSymlink(),
        st.getLen(), st.getModificationTime(),
        st.getSymlink().toString() if st.isSymlink() else None,
    )


def test_file_link_status_matches_hadoop(spark, tmp_path):
    jvm, conf, uri = _jvm_fs(spark)
    hadoop = jvm.org.apache.hadoop.fs.RawLocalFileSystem()
    hadoop.initialize(uri, conf)
    ours = jvm.org.apache.hadoop.fs.FileSystem.get(uri, conf).getRaw()
    target = tmp_path / "target"
    target.write_bytes(b"payload")
    (tmp_path / "link").symlink_to(target)
    (tmp_path / "dir").mkdir()
    for name in ("link", "target", "dir"):
        path = jvm.org.apache.hadoop.fs.Path(str(tmp_path / name))
        assert _link_status(ours, path) == _link_status(hadoop, path), name
    link = _link_status(ours, jvm.org.apache.hadoop.fs.Path(str(tmp_path / "link")))
    assert link[3] and link[6].endswith(str(target))

    missing = jvm.org.apache.hadoop.fs.Path(str(tmp_path / "missing"))
    for fs in (ours, hadoop):
        with pytest.raises(Py4JJavaError) as err:
            fs.getFileLinkStatus(missing)
        assert err.value.java_exception.getClass().getName() == "java.io.FileNotFoundException"


def test_committed_jar_holds_every_declared_class():
    """A jvm/src edit must be followed by tools/build_jvm.sh: every class
    and object the sources declare has its .class in the committed jar."""
    decl = re.compile(r"^(\s*)(?:(?:final|private|sealed|abstract|case)\s+)*(class|object)\s+(\w+)")
    want = set()
    for dirpath, _, files in os.walk(os.path.join(ROOT, "jvm", "src")):
        for f in files:
            if not f.endswith(".scala"):
                continue
            pkg, outer = "", ""
            with open(os.path.join(dirpath, f)) as fh:
                for line in fh:
                    if line.startswith("package "):
                        pkg = line.split()[1].replace(".", "/") + "/"
                    m = decl.match(line)
                    if not m:
                        continue
                    indent, kind, name = m.groups()
                    if not indent:
                        outer = name + "$"
                    prefix = pkg + (outer if indent else "")
                    want.add(prefix + name + ("$" if kind == "object" else "") + ".class")
    assert {"quacfka/jvm/NioLocalFs.class", "quacfka/jvm/ProtoWire$Reader.class"} <= want
    with zipfile.ZipFile(JAR_PATH) as jar:
        missing = want - set(jar.namelist())
    assert not missing, f"rebuild the jar with tools/build_jvm.sh: {sorted(missing)}"


_SPY_SCRIPT = r"""
import sys
from pyspark.sql import functions as F
from quacfka_spark.plans.normalizer import NormalizerSpec
from quacfka_spark.session import get_spark
from quacfka_spark.sources.kafka import decode_json
from quacfka_spark.sources.mock import NESTED_SCHEMA, nested_payload
from quacfka_spark.streaming import PipelineConfig, SQLRunner, StreamingPipeline

src, out = sys.argv[1], sys.argv[2]
spark = get_spark("fork-spy", {"spark.sql.warehouse.dir": sys.argv[3]})
for lo, hi in [(0, 100), (50, 150), (100, 200)]:
    (spark.range(lo, hi)
     .select(F.encode(F.to_json(nested_payload(F.col("id"))), "utf-8").alias("value"))
     .coalesce(1).write.mode("append").parquet(src))
pipe = StreamingPipeline(
    spark,
    spark.readStream.schema("value binary").option("maxFilesPerTrigger", "1").parquet(src),
    PipelineConfig(output_dir=out, dest_table="messages", available_now=True,
                   dedup_keys=["r.user_id", "r.amount"]),
    decode=lambda df: decode_json(df, NESTED_SCHEMA),
    normalizer=NormalizerSpec(fields=["r.site.id", "r.user_id"], aliases=["site", "user_id"]),
    runner=SQLRunner(exec=True, queries=[
        f"INSERT OVERWRITE DIRECTORY '{out}/agg' USING parquet "
        "SELECT site, count(*) AS n FROM messages_norm GROUP BY site"]),
)
pipe.start().awaitTermination(120)
assert pipe.error() is None, pipe.error()
r = pipe.metrics.report()
print("SPY-EPOCHS", r["batches"], r["records_inserted"])
"""


def test_ingest_epochs_start_no_fs_processes(tmp_path):
    """Logging chmod/readlink/ls/stat wrappers first on PATH (the JVM
    inherits it); three dedup + normalizer + runner epochs must start
    none of them on a path under the output tree."""
    spy, log = tmp_path / "spy", tmp_path / "spy.log"
    spy.mkdir()
    for cmd in SPIED:
        real = shutil.which(cmd)
        (spy / cmd).write_text(f'#!/bin/sh\necho "{cmd} $*" >> "{log}"\nexec {real} "$@"\n')
        (spy / cmd).chmod(0o755)
    out = tmp_path / "out"
    env = dict(os.environ, PYTHONPATH=ROOT, PATH=f"{spy}{os.pathsep}{os.environ['PATH']}")
    proc = subprocess.run(
        [sys.executable, "-c", _SPY_SCRIPT, str(tmp_path / "src"), str(out),
         str(tmp_path / "warehouse")],
        capture_output=True, text=True, timeout=300, env=env,
    )
    assert proc.returncode == 0, f"stdout={proc.stdout[-2000:]}\nstderr={proc.stderr[-2000:]}"
    assert "SPY-EPOCHS 3 200" in proc.stdout
    lines = log.read_text().splitlines() if log.exists() else []
    assert not [ln for ln in lines if str(out) in ln], lines[:20]
