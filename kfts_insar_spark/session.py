"""SparkSession factory.

Local-mode testing stands in for a multi-executor cluster; every knob here is
chosen so the *same plan* is the one we'd want on 1000 executors:
AQE on (runtime coalesce + skew-join splitting), shuffle partitions sized to
parallelism (not the 200 default), Arrow enabled for every pandas-UDF exchange,
a generated-class cache that holds the engine's plan set across scheduled
increments, UTC session time so results are reproducible against the DuckDB
oracle.

Reference analogue: the MPI rank split in /root/reference/kf/readinput.py:166-212
(`dividepxls`) hand-rolls what `repartition` + AQE give us for free.
"""

from __future__ import annotations

import os
import re
import shutil
import subprocess

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32

# Entries in Spark's generated-class cache (`spark.sql.codegen.cache.maxEntries`,
# default 100). The cache is keyed by (class loader, source), so local mode
# holds two copies of each class: the query's own and its tasks'. Measured on
# the perfbench ingest shape: 136 entries from session start through set-up,
# then 8 new ones per warm increment — the plans whose per-run literals
# (the watermark, the KF cover bound) are inlined into the source. At 100
# entries nothing survived to the next increment: each one recompiled
# 55–77 classes through Janino (about 9 ms each, then JIT again). 1024
# keeps the working set with headroom; eviction is least-recently-used, so
# the one-off literal classes go first and Metaspace levels off once the
# cache is full. On a cluster every executor JVM reads the same static conf
# and keeps its classes across increments too.
CODEGEN_CACHE_ENTRIES = 1024

# RawLocalFileSystem minus the per-path chmod: without the native hadoop
# library (this environment has none — NativeCodeLoader warns), every file
# and directory a local write creates goes through setPermission →
# Shell.execCommand, i.e. a forked `chmod` PROCESS per path. Thread dumps
# of a 1588-partition tier commit showed 23/32 writer threads inside that
# fork at any instant; the write drops 2.8 s → 1.4 s with the no-op
# (min-of-3, interleaved). The process umask already yields the intended
# local modes, and cluster schemes (hdfs://, s3a://) never touch this
# file:// mapping.
_NOCHMOD_SRC = """
package kfts;

import java.io.IOException;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

public class NoPermLocalFileSystem extends RawLocalFileSystem {
    @Override
    public void setPermission(Path p, FsPermission permission)
            throws IOException {
        // no-op: rely on the process umask (no native lib -> the default
        // implementation forks a `chmod` shell process per path)
    }

    // lets `java --dry-run` load (and not run) this class as a probe
    public static void main(String[] args) {}
}
"""


def _spark_java() -> str | None:
    """The java binary spark-submit launches (same rule as spark-class)."""
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else shutil.which("java")


def _java_major(java: str) -> int:
    out = subprocess.run(
        [java, "-version"], check=True, capture_output=True, text=True, timeout=60
    ).stderr
    major, minor = re.search(r'version "(\d+)(?:\.(\d+))?', out).groups()
    return int(minor) if major == "1" else int(major)  # "1.8.0" → 8


def _no_chmod_fs() -> tuple[str, str | None]:
    """(fs.file.impl class name, extra driver classpath or None).

    Compiles the subclass once into a cached jar, targeting the major
    version of the JVM Spark will run, and probe-loads it in that JVM
    before it is cached: a class file that compiles but cannot load would
    otherwise fail at the first file:// access and break every local
    write. Any failure (no JDK, no hadoop jar, read-only cache, probe
    failure) falls back to the stock RawLocalFileSystem, which is correct
    but pays the chmod forks."""
    import glob
    import hashlib
    import tempfile

    from pyspark.find_spark_home import _find_spark_home

    fallback = ("org.apache.hadoop.fs.RawLocalFileSystem", None)
    try:
        java = _spark_java()
        if java is None:
            return fallback
        release = _java_major(java)
        tag = hashlib.md5(f"{_NOCHMOD_SRC}{release}".encode()).hexdigest()[:10]
        cache = os.path.join(
            os.path.expanduser("~"), ".cache", "kfts_insar_spark"
        )
        jar = os.path.join(cache, f"nochmod_{tag}.jar")
        if not os.path.exists(jar):
            javac = shutil.which("javac")
            jartool = shutil.which("jar")
            if javac is None or jartool is None:
                return fallback
            spark_jars = os.path.join(_find_spark_home(), "jars")
            cps = glob.glob(os.path.join(spark_jars, "hadoop-client-api-*.jar"))
            if not cps:
                return fallback
            os.makedirs(cache, exist_ok=True)
            with tempfile.TemporaryDirectory(dir=cache) as td:
                src = os.path.join(td, "kfts", "NoPermLocalFileSystem.java")
                os.makedirs(os.path.dirname(src), exist_ok=True)
                with open(src, "w") as f:
                    f.write(_NOCHMOD_SRC)
                subprocess.run(
                    [javac, "--release", str(release), "-cp", cps[0], src],
                    check=True,
                    capture_output=True,
                    timeout=120,
                )
                tmp_jar = os.path.join(td, "nochmod.jar")
                subprocess.run(
                    [jartool, "cf", tmp_jar, "-C", td, "kfts"],
                    check=True,
                    capture_output=True,
                    timeout=120,
                )
                subprocess.run(
                    [
                        java, "-cp", os.pathsep.join([tmp_jar, cps[0]]),
                        "--dry-run", "kfts.NoPermLocalFileSystem",
                    ],
                    check=True,
                    capture_output=True,
                    timeout=120,
                )
                os.replace(tmp_jar, jar)  # atomic vs concurrent builders
        return ("kfts.NoPermLocalFileSystem", jar)
    except Exception:
        return fallback


def get_spark(
    app_name: str = "kfts_insar_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores=None`` → ``local[*]``. On a real cluster this builder is bypassed
    by ``spark-submit`` conf; everything here is also safe to set cluster-side.
    """
    # Pin BLAS/OMP to one thread per Python worker: Spark already gives one
    # worker per core, so library-level threading multiplies to cores² and
    # thrashes (the reference pins OMP_NUM_THREADS for its MPI ranks the same
    # way, run_KFTS.slurm:13). Must happen before numpy loads in workers —
    # workers fork from a daemon that inherits this env.
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")

    if cores is None:
        env_cores = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env_cores}]" if env_cores else "local[*]"
        n = int(env_cores) if env_cores else (os.cpu_count() or 8)
    else:
        master = f"local[{cores}]"
        n = cores

    sp = shuffle_partitions or max(DEFAULT_SHUFFLE_PARTITIONS, n)

    _fs_impl, _fs_jar = _no_chmod_fs()

    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        # deterministic float semantics; ANSI off so overflow/div0 match the
        # legacy semantics the oracle arithmetic assumes (we never rely on
        # either, but a hard error mid-benchmark is worse than a null)
        .config("spark.sql.ansi.enabled", "false")
        # v2 file-output commit: task-side renames instead of a driver-side
        # sequential pass over every partition dir — the snapshot layer's
        # manifest (not _SUCCESS markers) is the source of truth, so the
        # weaker job-level atomicity of v2 is irrelevant here, and
        # partitioned tier writes (one dir per pday) commit O(files/tasks)
        # instead of O(files) on the driver
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        # local file:// goes through Hadoop's ChecksumFileSystem by default,
        # which writes (and renames) a .crc sidecar per output file — for
        # tier commits fanning ~1600 one-file-per-day partitions that is
        # ~1600 extra creates+renames per write (measured 25-30% of the
        # partitioned-write wall). Parquet's own footer/magic validation
        # covers integrity; cluster schemes (hdfs://, s3a://) are unaffected
        # by this file://-only mapping. The mapped class additionally no-ops
        # setPermission (see _no_chmod_fs — per-path chmod FORKS dominate
        # many-partition writes without the native hadoop lib).
        .config("spark.hadoop.fs.file.impl", _fs_impl)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
    )
    if _fs_jar is not None:
        # the driver must be able to load the mapped class; merge with any
        # caller-supplied classpath rather than clobbering it
        user_cp = (extra_conf or {}).get("spark.driver.extraClassPath")
        cp = _fs_jar if not user_cp else f"{_fs_jar}{os.pathsep}{user_cp}"
        b = b.config("spark.driver.extraClassPath", cp)
    for k, v in (extra_conf or {}).items():
        if k == "spark.driver.extraClassPath" and _fs_jar is not None:
            continue  # merged above
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # ship the package to Python workers (same artifact spark-submit
    # --py-files would ship on a real cluster) so UDF closures unpickle
    # regardless of the driver's cwd
    from .packaging import attach_package

    attach_package(spark)
    return spark
