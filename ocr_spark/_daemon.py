"""Python worker daemon that imports pyspark from site-packages.

Spark starts its Python workers with ``$SPARK_HOME/python/lib/pyspark.zip``
and the py4j archive first on ``sys.path``, and every task calls
``importlib.invalidate_caches()``, which re-reads the directory of each zip
importer cached for those archives: 130-220 ms of CPU per task. When the
installed pyspark is the JVM's own version, this daemon drops the archives
before it loads ``pyspark.daemon``, so the workers it forks import pyspark
from site-packages; on any other version it runs the stock daemon as is.
``ocr_spark.session.get_spark`` selects it with ``spark.python.daemon.module``
where the workers can import it, and passes the JVM's version in
``VERSION_ENV``.
"""
import os
import sys
from importlib import metadata

VERSION_ENV = "_OCR_SPARK_JVM_VERSION"


def strip_archives(jvm_version: str | None) -> bool:
    """Drop the ``.zip``/``.jar`` entries of ``sys.path``, the pyspark and
    py4j modules already imported and the importer cache, if the pyspark
    left on the path is ``jvm_version``; else touch nothing. Returns whether
    it stripped."""
    path = [p for p in sys.path if not p.endswith((".zip", ".jar"))]
    dist = next(iter(metadata.distributions(name="pyspark", path=path)), None)
    if jvm_version is None or dist is None or dist.version != jvm_version:
        return False
    sys.path[:] = path
    for name in [m for m in sys.modules if m.partition(".")[0] in ("pyspark", "py4j")]:
        del sys.modules[name]
    sys.path_importer_cache.clear()
    return True


if __name__ == "__main__":
    strip_archives(os.environ.get(VERSION_ENV))
    import pyspark.daemon

    pyspark.daemon.manager()
