"""JVM helper artifacts (compiled once, cached, committed).

`bgzf-codec.jar` holds exonspark.hadoop.BgzfCodec — a splittable Hadoop
compression codec for BGZF (suffix ".bgz") that lets spark.read.text/csv
fan a multi-GB bgzipped file out across executors with zero Python in the
data path (see java/exonspark/hadoop/BgzfCodec.java). The jar is committed
so the codec works without a JDK. It carries a digest of the Java sources
it was built from; when javac is available and the sources' digest differs
(their content changed — file mtimes play no part, so a fresh checkout
keeps the committed jar), ensure_bgzf_jar() rebuilds it.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import subprocess
import zipfile

_JVM_DIR = os.path.dirname(os.path.abspath(__file__))
_SRC_DIR = os.path.join(_JVM_DIR, "java")
_JAR = os.path.join(_JVM_DIR, "bgzf-codec.jar")

BGZF_CODEC_CLASS = "exonspark.hadoop.BgzfCodec"
EXONCAT_FS_CLASS = "exonspark.hadoop.ExonCatFileSystem"
VCF_DSV2_CLASS = "exonspark.spark.VcfBgzfSource"

# jar entry holding the sha256 of the sources the jar was built from
_DIGEST_ENTRY = "META-INF/exonspark-sources.sha256"


def _compile_classpath() -> str | None:
    """Hadoop (codec/FS interfaces) + Spark catalyst/sql-api/unsafe and the
    Scala runtime (DataSourceV2 interfaces, InternalRow, UTF8String)."""
    import pyspark

    jars = os.path.join(os.path.dirname(pyspark.__file__), "jars")
    prefixes = (
        "hadoop-client-api",
        "spark-catalyst_",
        "spark-sql-api_",
        "spark-sql_",
        "spark-unsafe_",
        "scala-library-",
        "kryo-shaded-",  # UTF8String implements KryoSerializable
    )
    found: list[str] = []
    try:
        for fn in sorted(os.listdir(jars)):
            if fn.endswith(".jar") and fn.startswith(prefixes):
                found.append(os.path.join(jars, fn))
    except OSError:
        return None
    # the hadoop jar alone was the historical minimum; require it at least
    if not any("hadoop-client-api" in f for f in found):
        return None
    return os.pathsep.join(found)


def _sources_digest(srcs: list[str]) -> str:
    """sha256 over the sources' paths (relative to java/) and contents."""
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, _SRC_DIR).replace(os.sep, "/").encode())
        h.update(b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
        h.update(b"\0")
    return h.hexdigest()


def _jar_digest() -> str | None:
    try:
        with zipfile.ZipFile(_JAR) as zf:
            return zf.read(_DIGEST_ENTRY).decode().strip()
    except (OSError, KeyError, zipfile.BadZipFile):
        return None


def ensure_bgzf_jar() -> str | None:
    """Path to the codec jar, rebuilding from source when possible and
    stale (built from different sources). Returns None only if the jar is
    absent AND cannot be built."""
    have_jar = os.path.exists(_JAR)
    srcs = sorted(
        os.path.join(root, f)
        for root, _dirs, files in os.walk(_SRC_DIR)
        for f in files
        if f.endswith(".java")
    )
    digest = _sources_digest(srcs) if srcs else None
    if have_jar and (digest is None or _jar_digest() == digest):
        return _JAR
    javac = shutil.which("javac")
    jar = shutil.which("jar") or os.path.join(
        os.environ.get("JAVA_HOME", ""), "bin", "jar"
    )
    cp = _compile_classpath()
    if not (javac and os.path.exists(jar) and cp and srcs):
        return _JAR if have_jar else None
    build = os.path.join(_JVM_DIR, "build")
    shutil.rmtree(build, ignore_errors=True)  # no classes of deleted sources
    os.makedirs(os.path.join(build, "META-INF"))
    with open(os.path.join(build, _DIGEST_ENTRY), "w") as fh:
        fh.write(digest + "\n")
    try:
        subprocess.run(
            [javac, "-encoding", "UTF-8", "-cp", cp, "-d", build, *srcs],
            check=True,
            capture_output=True,
        )
        subprocess.run(
            [jar, "cf", _JAR, "-C", build, "."], check=True, capture_output=True
        )
    except (subprocess.CalledProcessError, OSError):
        return _JAR if have_jar else None
    return _JAR
