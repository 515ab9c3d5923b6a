"""Hermetic per-invocation environment and the environment record.

Every invocation works in a fresh scratch directory under the checkout:
``TMPDIR``, ``SPARK_LOCAL_DIRS``, the JVM's ``java.io.tmpdir`` and the
process's working directory (where Spark puts ``spark-warehouse``) all point
into it, and ``Scratch.close`` removes it. Staged indexes are keyed under
``tempfile.gettempdir()``, so a fresh directory means they are rebuilt inside
set-up on every invocation instead of being inherited from an earlier run.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import types

# Engine functions that build fixed /tmp/nextgenetl_* paths instead of using
# the temp directory. They are pointed into the scratch directory by
# rewriting the path prefix in their code constants, so the benchmark never
# writes outside its checkout; the engine's source stays untouched.
FIXED_TMP_PREFIX = "/tmp/nextgenetl_"
FIXED_TMP_MODULES = (
    "nextgenetl_spark.streaming.source",
    "nextgenetl_spark.workloads.files",
    "nextgenetl_spark.workloads.pipelines",
    "nextgenetl_spark.workloads.events",
)


class Scratch:
    """A per-invocation directory tree; ``close`` removes all of it."""

    def __init__(self, root: str):
        os.makedirs(root, exist_ok=True)
        self.path = tempfile.mkdtemp(prefix=f"run{os.getpid()}_", dir=root)
        self.tmp = self.sub("tmp")
        self.local = self.sub("spark-local")
        self.data = self.sub("data")
        self.fixed = self.sub("fixed")  # target of the rewritten /tmp paths

    def sub(self, name: str) -> str:
        p = os.path.join(self.path, name)
        os.makedirs(p, exist_ok=True)
        return p

    def reset_tmp(self) -> None:
        """Empty the temp dir, so staged artifacts rebuild. The fixed-path
        trees are kept: they are warmed once per invocation."""
        shutil.rmtree(self.tmp, ignore_errors=True)
        os.makedirs(self.tmp)

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def enter(scratch: Scratch, repo_root: str, cpus: int) -> None:
    """Point every temp location of this process, its JVM and its Python
    workers into ``scratch``. Must run before pyspark starts a JVM."""
    os.environ["TMPDIR"] = scratch.tmp
    tempfile.tempdir = scratch.tmp
    os.environ["SPARK_LOCAL_DIRS"] = scratch.local
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # Python workers import the engine by module path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (repo_root, os.environ.get("PYTHONPATH")) if p
    )
    # G1 is the session factory's default; -XX:-UsePerfData keeps the driver
    # JVM, and the launcher JVM that spark-submit starts first, from writing
    # /tmp/hsperfdata_*
    os.environ["SPARK_GRAFT_DRIVER_JAVA_OPTS"] = (
        f"-XX:+UseG1GC -XX:-UsePerfData -Djava.io.tmpdir={scratch.tmp}"
    )
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={scratch.tmp}"
    os.chdir(scratch.path)


def _rewrite(code: types.CodeType, old: str, new: str) -> types.CodeType:
    consts = []
    for c in code.co_consts:
        if isinstance(c, str) and c.startswith(old):
            c = new + c[len(old):]
        elif isinstance(c, types.CodeType):
            c = _rewrite(c, old, new)
        consts.append(c)
    return code.replace(co_consts=tuple(consts))


def redirect_fixed_tmp(target: str) -> int:
    """Rewrite the ``/tmp/nextgenetl_`` prefix to ``<target>/nextgenetl_`` in
    every function of FIXED_TMP_MODULES; returns how many functions changed."""
    import importlib

    changed = 0
    for name in FIXED_TMP_MODULES:
        mod = importlib.import_module(name)
        for obj in vars(mod).values():
            if isinstance(obj, types.FunctionType) and obj.__module__ == name:
                new = _rewrite(obj.__code__, FIXED_TMP_PREFIX, os.path.join(target, "nextgenetl_"))
                if new.co_consts != obj.__code__.co_consts:
                    obj.__code__ = new
                    changed += 1
    return changed


def fixed_tmp_dirs(target: str) -> dict:
    """Which fixed-path trees exist under ``target`` (built during set-up)."""
    return {
        d: os.path.isdir(os.path.join(target, f"nextgenetl_{d}"))
        for d in ("streams", "fixtures", "lake")
    }


def record(spark) -> dict:
    """Environment record: effective session config, host and versions, and
    ``bench.py``'s box-health snapshot."""
    import platform

    import pyspark

    from nextgenetl_spark import session

    from bench import _box_health

    conf = spark.sparkContext.getConf()
    keys = (
        "spark.master", "spark.sql.shuffle.partitions", "spark.driver.memory",
        "spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "spark.sql.adaptive.enabled", "spark.driver.extraJavaOptions",
    )
    jvm = spark.sparkContext._jvm
    return {
        "session_conf": {k: conf.get(k, None) for k in keys},
        "default_driver_mem": session._default_driver_mem(),
        "nproc": len(os.sched_getaffinity(0)),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "jdk": jvm.java.lang.System.getProperty("java.version"),
        "box_health": _box_health(),
    }
