"""The `file:` filesystem registered by session.get_spark
(tuatara_spark/jvm/NioLocalFileSystem.java): no `chmod` child process per
file or directory, the same modes as Hadoop's stock LocalFileSystem, and
a committed jar that is the compiled source."""

import json
import os
import shutil
import subprocess
import sys
import tempfile
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
JVM_DIR = os.path.join(REPO, "tuatara_spark", "jvm")

# Runs in a fresh interpreter so that each filesystem gets its own JVM.
# argv: repo, output root, "nio" | "stock". Prints one JSON line: the
# mode of every path the write left (part-file UUIDs masked) and the
# mode after each special-bit setPermission, with the count of `chmod`
# calls logged before and after those calls.
_WRITE = r"""
import json, os, re, sys
sys.path.insert(0, sys.argv[1])
from tuatara_spark import session

root, fs_kind = sys.argv[2:4]
if fs_kind == "stock":
    session.LOCAL_FS_CLASS = "org.apache.hadoop.fs.LocalFileSystem"
spark = session.get_spark("local-fs-" + fs_kind, cores=2)
out = os.path.join(root, "data")
(spark.range(40, numPartitions=2).selectExpr("id", "id % 4 AS part_id")
 .write.partitionBy("part_id").parquet(out))


def chmods():
    try:
        with open(os.environ["CHMOD_LOG"]) as f:
            return sum(1 for _ in f)
    except FileNotFoundError:
        return 0


uuid = re.compile(r"[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}")
modes = {}
for d, dirs, files in os.walk(out):
    for name in dirs + files:
        full = os.path.join(d, name)
        modes[uuid.sub("U", os.path.relpath(full, root))] = os.stat(full).st_mode
write_chmods = chmods()

jvm = spark._jvm
hconf = spark._jsc.hadoopConfiguration()
fs = jvm.org.apache.hadoop.fs.FileSystem.get(jvm.java.net.URI("file:///"), hconf)
special = {}
for name, before, perm in (("sticky", 0o755, "drwxr-xr-t"),
                           ("setgid_dir", 0o2775, "drwxr-xr-x")):
    d = os.path.join(root, name)
    os.mkdir(d)
    os.chmod(d, before)
    fs.setPermission(jvm.org.apache.hadoop.fs.Path("file://" + d),
                     jvm.org.apache.hadoop.fs.permission.FsPermission.valueOf(perm))
    special[name] = os.stat(d).st_mode
print(json.dumps({"fs": fs.getClass().getName(), "modes": modes,
                  "write_chmods": write_chmods, "special": special,
                  "special_chmods": chmods() - write_chmods}))
spark.stop()
"""


def _write(tmp, fs_kind):
    bin_dir = os.path.join(tmp, "bin")
    os.makedirs(bin_dir, exist_ok=True)
    real = shutil.which("chmod")
    fake = os.path.join(bin_dir, "chmod")
    with open(fake, "w") as f:
        f.write(f'#!/bin/sh\necho "$@" >> "$CHMOD_LOG"\nexec {real} "$@"\n')
    os.chmod(fake, 0o755)
    root = os.path.join(tmp, fs_kind)
    os.makedirs(root)
    env = dict(os.environ, PATH=bin_dir + os.pathsep + os.environ["PATH"],
               CHMOD_LOG=os.path.join(tmp, fs_kind + ".log"))
    res = subprocess.run([sys.executable, "-c", _WRITE, REPO, root, fs_kind],
                         env=env, capture_output=True, text=True, timeout=300)
    assert res.returncode == 0, res.stderr[-4000:]
    return json.loads(res.stdout.strip().splitlines()[-1])


def test_writes_fork_no_chmod_and_keep_stock_modes():
    tmp = tempfile.mkdtemp(prefix="local-fs-")
    try:
        nio, stock = _write(tmp, "nio"), _write(tmp, "stock")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    assert nio["fs"] == "tuatara.fs.NioLocalFileSystem"
    assert stock["fs"] == "org.apache.hadoop.fs.LocalFileSystem"
    # the probe sees the stock filesystem's forks ...
    assert stock["write_chmods"] > 0
    # ... and none from the nio one, for the same files and modes
    assert nio["write_chmods"] == 0
    assert any(p.endswith(".parquet") for p in nio["modes"])
    assert any(p.endswith(".crc") for p in nio["modes"])
    assert nio["modes"] == stock["modes"]
    # special bits go to Hadoop's own chmod and end the same way
    assert nio["special"] == stock["special"]
    assert nio["special"]["sticky"] & 0o7777 == 0o1755
    assert nio["special"]["setgid_dir"] & 0o7777 == 0o2755
    assert nio["special_chmods"] == stock["special_chmods"] == 2


@pytest.mark.skipif(shutil.which("javac") is None, reason="no JDK compiler")
def test_committed_jar_is_the_compiled_source(tmp_path):
    import pyspark
    jars = os.path.join(os.path.dirname(pyspark.__file__), "jars", "*")
    subprocess.run(["javac", "--release", "17", "-cp", jars, "-d", str(tmp_path),
                    os.path.join(JVM_DIR, "NioLocalFileSystem.java")],
                   check=True, capture_output=True, timeout=120)
    built = {p.relative_to(tmp_path).as_posix(): p.read_bytes()
             for p in tmp_path.rglob("*.class")}
    with zipfile.ZipFile(os.path.join(JVM_DIR, "tuatara-fs.jar")) as jar:
        committed = {n: jar.read(n) for n in jar.namelist() if n.endswith(".class")}
    assert set(built) == set(committed)
    for name, data in built.items():
        assert committed[name] == data, name
