"""The engine's local file system binding (dpu_olap_spark/jvm).

Sessions from ``session.get_spark`` bind the "file" scheme to
NoForkLocalFileSystem, which sets modes and reads links through java.nio
where Hadoop's local file system forks `chmod` and `readlink` without its
native library. Each test here holds it to the class it replaces: Hive's
ProxyLocalFileSystem (the binding hive-exec registers) for the FileSystem
API, and Hadoop's RawLocalFileSystem and LocalFs for link status."""

from __future__ import annotations

import glob
import os
import shutil
import subprocess
import zipfile

import pytest
from py4j.protocol import Py4JJavaError

from dpu_olap_spark import session

NOFORK = "dpu_olap_spark.jvm.NoForkLocalFileSystem"
PROXY = "org.apache.hadoop.hive.ql.io.ProxyLocalFileSystem"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(session.__file__)))
SOURCE = os.path.join(REPO, "dpu_olap_spark", "jvm", "NoForkLocalFileSystem.java")
JAR = session._STATIC_CONFS["spark.driver.extraClassPath"]


def _new_fs(spark, cls: str):
    jvm = spark._jvm
    fs = jvm.java.lang.Class.forName(cls).newInstance()
    fs.initialize(jvm.java.net.URI("file:///"), jvm.org.apache.hadoop.conf.Configuration())
    return fs


def _tree(root: str) -> dict[str, str]:
    """Every entry below ``root`` with its permission bits."""
    out = {}
    for dirpath, dirnames, filenames in os.walk(root):
        for name in dirnames + filenames:
            full = os.path.join(dirpath, name)
            out[os.path.relpath(full, root)] = oct(os.stat(full).st_mode & 0o7777)
    return out


def _exercise(spark, fs, root: str) -> dict:
    """Writes, renames and a corrupted read through ``fs`` under
    ``root``; returns what each step did and the tree it left."""
    jvm = spark._jvm

    def path(rel):
        return jvm.org.apache.hadoop.fs.Path(os.path.join(root, rel))

    def write(rel, data: bytes):
        out = fs.create(path(rel))
        out.write(bytearray(data))
        out.close()

    def read(rel) -> bytes:
        sink = jvm.java.io.ByteArrayOutputStream()
        jvm.org.apache.hadoop.io.IOUtils.copyBytes(fs.open(path(rel)), sink, 4096, True)
        return bytes(sink.toByteArray())

    seen = {"mkdirs": fs.mkdirs(path("d/sub"))}
    write("d/a", b"a" * 700)
    write("d/b", b"b" * 300)
    seen["onto_file"] = fs.rename(path("d/a"), path("d/b"))
    seen["b_after"] = read("d/b")
    seen["onto_missing"] = fs.rename(path("d/a"), path("d/c"))
    seen["onto_dir"] = fs.rename(path("d/c"), path("d/sub"))
    seen["c_in_dir"] = read("d/sub/c")
    write("d/bad", bytes(range(256)) * 4)
    with open(os.path.join(root, "d/bad"), "r+b") as f:
        f.seek(600)
        f.write(b"\xff")
    try:
        read("d/bad")
        seen["corrupt_read"] = "read"
    except Py4JJavaError as exc:
        seen["corrupt_read"] = exc.java_exception.getClass().getName()
    seen["tree"] = _tree(root)
    return seen


def test_session_binds_file_scheme_to_nofork_fs(spark):
    """An engine session resolves file:/// to the new class for both
    FileSystem.get and FileSystem.getLocal, and FileContext to its
    ChecksumFs; without the binding the scheme resolves to Hive's
    ProxyLocalFileSystem, the class it replaces."""
    jvm = spark._jvm
    hfs = jvm.org.apache.hadoop.fs
    conf = spark._jsc.hadoopConfiguration()
    assert hfs.FileSystem.get(jvm.java.net.URI("file:///"), conf).getClass().getName() == NOFORK
    assert hfs.FileSystem.getLocal(conf).getClass().getName() == NOFORK
    fc = hfs.FileContext.getLocalFSFileContext(conf)
    assert fc.getDefaultFileSystem().getClass().getName() == NOFORK + "$Fs"
    stock = jvm.org.apache.hadoop.conf.Configuration()
    assert hfs.FileSystem.getFileSystemClass("file", stock).getName() == PROXY


def test_matches_hive_proxy_local_fs(spark, tmp_path):
    """Renames (onto an existing file: refused, both files kept; onto a
    missing path; onto a directory), the modes of created files and
    directories, `.crc` sidecars and a corrupted read are the same
    through NoForkLocalFileSystem as through ProxyLocalFileSystem."""
    seen = {
        cls: _exercise(spark, _new_fs(spark, cls), str(tmp_path / cls.rsplit(".", 1)[1]))
        for cls in (PROXY, NOFORK)
    }
    assert seen[NOFORK] == seen[PROXY]
    got = seen[NOFORK]
    assert got["onto_file"] is False and got["b_after"] == b"b" * 300
    assert got["onto_missing"] is True and got["onto_dir"] is True
    assert got["c_in_dir"] == b"a" * 700
    assert got["corrupt_read"] == "org.apache.hadoop.fs.ChecksumException"
    tree = got["tree"]
    for name in ("d/b", "d/sub/c", "d/bad"):
        head, tail = os.path.split(name)
        assert tree[name] == oct(0o644) and os.path.join(head, f".{tail}.crc") in tree
    assert tree["d"] == tree["d/sub"] == oct(0o755)


def _link_status(fs_or_fc, path) -> tuple:
    try:
        st = fs_or_fc.getFileLinkStatus(path)
    except Py4JJavaError as exc:
        err = exc.java_exception
        return ("raised", err.getClass().getName(), err.getMessage())
    link = st.getSymlink().toString() if st.isSymlink() else None
    return (st.getPath().toString(), st.isFile(), st.isDirectory(), link, st.getLen())


def test_link_status_matches_stock_raw_local_fs(spark, tmp_path):
    """getFileLinkStatus reads links through java.nio and returns what
    Hadoop's RawLocalFileSystem (FileSystem API) and LocalFs (FileContext
    API) return, for a file, a directory, a link, a dangling link and a
    missing path, as bare and as file: paths."""
    jvm = spark._jvm
    hfs = jvm.org.apache.hadoop.fs
    (tmp_path / "file").write_bytes(b"x" * 10)
    (tmp_path / "dir").mkdir()
    os.symlink(tmp_path / "file", tmp_path / "link")
    os.symlink(tmp_path / "gone", tmp_path / "dangling")
    conf = jvm.org.apache.hadoop.conf.Configuration()
    raw = [_new_fs(spark, cls) for cls in ("org.apache.hadoop.fs.RawLocalFileSystem", NOFORK + "$Raw")]
    fcs = {
        "stock": hfs.FileContext.getLocalFSFileContext(conf),
        "nofork": hfs.FileContext.getLocalFSFileContext(spark._jsc.hadoopConfiguration()),
    }
    assert fcs["nofork"].getDefaultFileSystem().getClass().getName() == NOFORK + "$Fs"
    for name in ("file", "dir", "link", "dangling", "missing"):
        for prefix in ("", "file:"):
            p = hfs.Path(prefix + str(tmp_path / name))
            stock, mine = (_link_status(fs, p) for fs in raw)
            assert mine == stock, (name, prefix)
            stock, mine = (_link_status(fc, p) for fc in fcs.values())
            assert mine == stock, (name, prefix)
    link = _link_status(fcs["nofork"], hfs.Path(str(tmp_path / "link")))
    assert link[3] == f"file:{tmp_path / 'file'}"


def _hadoop_api_jar() -> str | None:
    import pyspark

    found = glob.glob(
        os.path.join(os.path.dirname(pyspark.__file__), "jars", "hadoop-client-api-*.jar")
    )
    return found[0] if found else None


def test_jar_matches_source(tmp_path):
    """The committed jar holds exactly the classes its committed source
    compiles to."""
    javac, api = shutil.which("javac"), _hadoop_api_jar()
    if javac is None or api is None:
        pytest.skip("needs javac and hadoop-client-api")
    subprocess.run(
        [javac, "--release", "17", "-cp", api, "-d", str(tmp_path), SOURCE],
        check=True, capture_output=True,
    )
    built = {}
    for full in glob.glob(str(tmp_path / "**" / "*.class"), recursive=True):
        with open(full, "rb") as f:
            built[os.path.relpath(full, tmp_path)] = f.read()
    with zipfile.ZipFile(JAR) as z:
        jarred = {n: z.read(n) for n in z.namelist() if n.endswith(".class")}
    stale = sorted(n for n in built.keys() | jarred.keys() if built.get(n) != jarred.get(n))

    def rel(p):
        return os.path.relpath(p, REPO)

    assert not stale, (
        f"{rel(JAR)} is stale in {stale}; rebuild it from the repo root with\n"
        f"  javac --release 17 -cp {api} -d /tmp/nofork {rel(SOURCE)} && "
        f"jar --create --no-manifest --date=1980-01-02T00:00:00Z "
        f"--file {rel(JAR)} -C /tmp/nofork ."
    )
