"""Paths, the child-process environment and the engine archive shared
by the benchmark's scripts."""

from __future__ import annotations

import hashlib
import os
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
PACKAGE = "sgb_data_validator_spark"
ORACLE = "tests/oracle.py"  # the rule semantics the expected values come from
PROGRAM_FILES = (f"{PACKAGE}/__init__.py", "jobs/validate.py", "jobs/transform.py", ORACLE)
N_TURNS = 200_000


def child_env() -> dict[str, str]:
    """Environment of every process the benchmark starts: local mode on
    all cores of this host, a 1 GiB JVM heap, and every scratch and
    temporary file inside the working directory."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # workers get the engine from the archive
    env.update(
        SPARK_GRAFT_CPUS=str(os.cpu_count() or 1),
        SPARK_DRIVER_MEMORY="1g",
        SPARK_DRIVER_JAVA_OPTIONS=f"-XX:ReservedCodeCacheSize=512m -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
        TMPDIR=tmp,
        PYTHONHASHSEED="0",
    )
    return env


def engine_zip() -> str:
    """Zip the engine package the way ``spark-submit --py-files`` ships
    it, so Python workers import it from the archive and not from the
    working directory."""
    path = os.path.join(WORK, "engine.zip")
    os.makedirs(WORK, exist_ok=True)
    tmp = path + ".tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        for d, _, files in os.walk(os.path.join(ROOT, PACKAGE)):
            for f in sorted(files):
                if f.endswith(".py"):
                    full = os.path.join(d, f)
                    zf.write(full, os.path.relpath(full, ROOT))
    os.replace(tmp, path)
    return path


def tree_hash(base: str, skip: tuple[str, ...] = ()) -> str:
    """sha256 over the relative paths and bytes of every file under
    ``base`` (sorted), leaving out the names in ``skip`` and bytecode
    caches."""
    h = hashlib.sha256()
    for d, dirs, files in os.walk(base):
        dirs[:] = sorted(x for x in dirs if x != "__pycache__")
        for f in sorted(files):
            if f in skip:
                continue
            full = os.path.join(d, f)
            h.update(os.path.relpath(full, base).encode() + b"\0")
            with open(full, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def dir_bytes(*paths: str) -> int:
    total = 0
    for p in paths:
        for d, _, files in os.walk(p):
            total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total
