"""The no-chmod local filesystem class is mapped only if the JVM that Spark
runs can load it; otherwise local writes keep the stock class."""

import os
import shutil
import stat

import pytest

from kfts_insar_spark.session import _no_chmod_fs, _spark_java

STOCK = "org.apache.hadoop.fs.RawLocalFileSystem"

needs_jdk = pytest.mark.skipif(
    _spark_java() is None or shutil.which("javac") is None,
    reason="needs a JDK",
)


@needs_jdk
def test_no_chmod_class_builds_and_is_cached(tmp_path, monkeypatch):
    monkeypatch.setenv("HOME", str(tmp_path))
    impl, jar = _no_chmod_fs()
    assert impl == "kfts.NoPermLocalFileSystem"
    assert os.path.dirname(jar) == str(tmp_path / ".cache" / "kfts_insar_spark")
    assert _no_chmod_fs() == (impl, jar)


@needs_jdk
def test_unloadable_class_falls_back_to_stock_fs(tmp_path, monkeypatch):
    """A JVM that cannot load the compiled class (here: one whose probe load
    fails) gets the stock class, and no jar is cached."""
    real = _spark_java()
    java_home = tmp_path / "jdk"
    (java_home / "bin").mkdir(parents=True)
    fake = java_home / "bin" / "java"
    fake.write_text(
        "#!/bin/sh\n"
        f'[ "$1" = -version ] && exec "{real}" -version\n'
        "echo 'UnsupportedClassVersionError' >&2; exit 1\n"
    )
    fake.chmod(fake.stat().st_mode | stat.S_IXUSR)
    monkeypatch.setenv("JAVA_HOME", str(java_home))
    monkeypatch.setenv("HOME", str(tmp_path))
    assert _no_chmod_fs() == (STOCK, None)
    assert not list((tmp_path / ".cache" / "kfts_insar_spark").glob("*.jar"))
