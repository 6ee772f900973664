"""SparkSession construction: the session config every entry point
shares, and a fast-starting driver JVM and Python workers.

Config: AQE on (runtime re-plan, skew-join splitting, partition
coalescing), adaptive broadcast thresholds, Arrow for any pandas
exchange, and a UTC session timezone so results are comparable with the
DuckDB oracle (duckdb timestamps are UTC-naive).

Start-up: ``get_spark`` launches the JVM from a shadow ``SPARK_HOME``
under ``~/.cache/go_integ_spark/``, built once per Spark install. Every
top-level entry of the real home is a symlink there, except two:

- ``python/lib/`` holds ``pyspark.zip`` and the py4j zip as bytecode
  directories under those names, which ``PythonUtils.sparkPythonPath``
  hard-codes: each real zip extracted, with an unchecked-hash ``.pyc``
  for every ``.py``. Spark puts that ``pyspark.zip`` first on each
  Python worker's path, so workers import pyspark from bytecode (a
  fresh worker's pyspark imports: 1.27 s from the source zip, 0.37 s
  here). pyspark's worker calls ``importlib.invalidate_caches()`` on
  every task; a zip importer re-parses its archive's directory there,
  a directory's finder only resets an mtime (0.20-0.25 s -> 0.08-0.11 s
  of CPU per call; perfbench connector ``pass_cpu_s`` -21%);
- ``conf/`` is empty (the real one may hold only ``*.template`` files),
  so the JVM classpath has no non-empty directory, which CDS needs.

CDS (class-data sharing) is the JVM's archive of already-parsed
classes. The first session for a key (JDK build, jar list, driver
memory) runs with ``-XX:ArchiveClassesAtExit`` and, at interpreter
exit, waits for its JVM and promotes the dump to ``<key>.jsa``; later
sessions map it with ``-Xshare:on``, so a mismatched archive fails
loudly instead of being skipped (``get_spark`` 4.9-5.6 s -> 2.3 s).
The first run on a host pays about 4 s to build the directories and
about 10 s at exit for the ~150 MB dump. ``rm -rf ~/.cache/go_integ_spark``
resets both.
"""

from __future__ import annotations

import atexit
import compileall
import contextlib
import hashlib
import importlib.util
import math
import os
import py_compile
import re
import shutil
import subprocess
import sys
import tempfile
import warnings
import zipfile

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

CACHE_DIR = os.path.join(os.path.expanduser("~"), ".cache", "go_integ_spark")
# JVM log lines go to stderr: a CDS dump prints hundreds of [cds]
# warnings, and the CLI, bench.py and perfbench own stdout.
_LOG_FLAGS = ["-Xlog:disable", "-Xlog:all=warning:stderr"]
_LIB = os.path.join("python", "lib")  # the zips Spark puts on workers' path


def ensure_engine_contract(spark: SparkSession) -> None:
    """Pin the two runtime-settable confs the ENGINE CONTRACT requires,
    in one advertised place (every table/file read routes through
    here — tables.load_table, sources.files.FileStream):

    - ``nanosAsLong``: the driver's events.parquet stores
      TIMESTAMP(NANOS), unreadable without it;
    - UTC session timezone: the NTZ -> LTZ normalization cast is only
      a wall-clock identity under UTC — a non-UTC session would
      silently shift instants relative to the DuckDB oracles and
      unix_micros epochs.

    DELIBERATELY permanent, not scoped-and-restored: returned frames
    are lazy, so restoring the timezone before the caller's action
    would re-break the cast. The engine operates in UTC; callers
    mixing these reads with local-time timestamp logic in one session
    are outside the contract (documented in README/STATUS).
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


# Spark's size suffixes (JavaUtils.byteStringAs) as powers of 1024
# over MiB; a bare spark.driver.memory number is MiB.
_MEM_POW = {"k": -1, "m": 0, "g": 1, "t": 2}


def _mem_gb(mem: str) -> float:
    """Parse a Spark memory string ("48g", "48gb", "512M", "1tb") to
    GiB the way Spark reads spark.driver.memory: whole numbers, any
    suffix case. Unparseable values resolve to 0.0."""
    m = re.fullmatch(r"(\d+)(?:([kmgt])b?)?", mem.strip().lower())
    if m is None:
        return 0.0
    return int(m[1]) * 1024.0 ** _MEM_POW[m[2] or "m"] / 1024.0


def jvm_mem(mem: str) -> str:
    """``mem`` in a form HotSpot's -Xmx/-Xms accept. In local mode
    Spark's launcher passes spark.driver.memory to -Xmx verbatim, and
    the JVM rejects two-letter suffixes ("48gb") and reads a bare
    number as bytes; those become whole MiB. JVM-valid and
    unparseable strings pass through unchanged."""
    if re.fullmatch(r"\d+[kmgt]", mem.strip().lower()) or not _mem_gb(mem):
        return mem
    return f"{math.ceil(_mem_gb(mem) * 1024)}m"


def _lib_zips(home: str) -> list[str]:
    return sorted(f for f in os.listdir(os.path.join(home, _LIB)) if f.endswith(".zip"))


def _home_key(real: str) -> str:
    """Key of the shadow of ``real``: the shadow's layout, ``real``'s
    path, the sha256 of its python/lib zips and this interpreter's
    bytecode magic number. PySpark already refuses a worker whose Python
    differs from the driver's. The layout tag keeps a shadow that holds
    zips under the same names from being reused."""
    h = hashlib.sha256(b"bytecode-dir\0" + importlib.util.MAGIC_NUMBER + real.encode())
    for name in _lib_zips(real):
        with open(os.path.join(real, _LIB, name), "rb") as f:
            h.update(name.encode() + hashlib.file_digest(f, "sha256").digest())
    return h.hexdigest()[:16]


def _bytecode_dir(real: str, tmp: str, home: str, name: str) -> None:
    """Extract python/lib zip ``name`` of ``real`` into a directory of
    the same name under ``tmp`` and compile every .py in it to an
    unchecked-hash .pyc whose source is named under ``home``."""
    lib = os.path.join(_LIB, name)
    with zipfile.ZipFile(os.path.join(real, lib)) as z:
        z.extractall(os.path.join(tmp, lib))
    # compileall prints its errors; stdout belongs to the CLI and bench.py
    with warnings.catch_warnings(), contextlib.redirect_stdout(sys.stderr):
        warnings.simplefilter("ignore")  # pyspark's own escape-sequence warnings
        ok = compileall.compile_dir(
            os.path.join(tmp, lib),
            ddir=os.path.join(home, lib),
            quiet=1,
            invalidation_mode=py_compile.PycInvalidationMode.UNCHECKED_HASH,
        )
    if not ok:
        raise RuntimeError(f"compileall failed in {name} of {real}; errors are on stderr")


def _link_all(src: str, dst: str, own: set[str]) -> None:
    for name in os.listdir(src):
        if name not in own:
            os.symlink(os.path.join(src, name), os.path.join(dst, name))


def _build_shadow(real: str, tmp: str, home: str) -> None:
    zips = _lib_zips(real)
    os.mkdir(os.path.join(tmp, "conf"))
    os.makedirs(os.path.join(tmp, _LIB))
    _link_all(real, tmp, {"conf", "python"})
    _link_all(os.path.join(real, "python"), os.path.join(tmp, "python"), {"lib"})
    _link_all(os.path.join(real, _LIB), os.path.join(tmp, _LIB), set(zips))
    for name in zips:
        _bytecode_dir(real, tmp, home, name)


def shadow_spark_home() -> str:
    """The shadow of the real Spark home, built on first use. Resolving
    through ``jars`` finds the real home even when SPARK_HOME already
    names a shadow (a child of a session inherits it)."""
    real = os.path.dirname(os.path.realpath(os.path.join(_find_spark_home(), "jars")))
    conf = os.path.join(real, "conf")
    user = [f for f in os.listdir(conf) if not f.endswith(".template")] if os.path.isdir(conf) else []
    if user:
        raise RuntimeError(
            f"{conf} holds {sorted(user)}; the shadow SPARK_HOME runs with an empty "
            "conf/, so pass these settings to get_spark's extra_conf instead"
        )
    home = os.path.join(CACHE_DIR, f"spark-home-{_home_key(real)}")
    if os.path.isdir(home):
        return home
    os.makedirs(CACHE_DIR, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=".spark-home-", dir=CACHE_DIR)
    try:
        _build_shadow(real, tmp, home)
        try:
            os.replace(tmp, home)
        except OSError:
            if not os.path.isdir(home):  # else another process won the race
                raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return home


def cds_key(home: str, driver_mem: str) -> str:
    """Archive key: the JDK build, the jar list (the archive records
    each jar's path, size and mtime) and the driver memory, which
    decides compressed oops."""
    java = shutil.which("java") or "java"
    version = subprocess.run([java, "-version"], capture_output=True, text=True, check=True).stderr
    h = hashlib.sha256(f"{home}\n{version}\n{driver_mem}\n".encode())
    for e in sorted(os.scandir(os.path.join(home, "jars")), key=lambda e: e.name):
        st = e.stat()
        h.update(f"{e.name} {st.st_size} {st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:16]


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def cds_flags(key: str) -> tuple[list[str], str | None]:
    """JVM flags for archive ``key``, and the ``.part`` file this
    process dumps to (None when a promoted archive exists). Only a
    promoted archive is ever passed to the JVM: a truncated one crashes
    it. ``.part`` files whose process is dead are deleted."""
    for name in os.listdir(CACHE_DIR):
        m = re.fullmatch(r"cds-\w+\.(\d+)\.part", name)
        if m and not _alive(int(m[1])):
            os.remove(os.path.join(CACHE_DIR, name))
    jsa = os.path.join(CACHE_DIR, f"cds-{key}.jsa")
    if os.path.isfile(jsa):
        return [f"-XX:SharedArchiveFile={jsa}", "-Xshare:on"], None
    part = os.path.join(CACHE_DIR, f"cds-{key}.{os.getpid()}.part")
    return [f"-XX:ArchiveClassesAtExit={part}"], part


def _promote_at_exit(part: str) -> None:
    """Stop a live context, close the gateway's stdin so its JVM exits
    and dumps, wait for it, and promote the dump only if the JVM
    exited 0."""
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    proc = SparkContext._gateway.proc
    proc.stdin.close()
    if proc.wait() == 0:
        os.replace(part, re.sub(r"\.\d+\.part$", ".jsa", part))
    elif os.path.exists(part):
        os.remove(part)


def _launch_fast(conf: dict[str, str]) -> None:
    """Point the JVM this process is about to launch at the shadow
    home and the CDS archive; ``conf`` is the session conf and gains
    the JVM flags after the caller's own."""
    home = shadow_spark_home()
    os.environ["SPARK_HOME"] = home
    flags, part = cds_flags(cds_key(home, conf["spark.driver.memory"]))
    opts = conf.get("spark.driver.extraJavaOptions", "")
    conf["spark.driver.extraJavaOptions"] = " ".join([opts, *flags, *_LOG_FLAGS]).strip()
    if part is not None:
        atexit.register(_promote_at_exit, part)


def get_spark(
    app_name: str = "go_integ_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    master = master or f"local[{cpus}]"
    # Local mode: shuffle partitions ~ cores. On a real cluster this is
    # left to AQE (coalescePartitions) with a high initial value.
    shuffle = shuffle_partitions if shuffle_partitions is not None else cpus
    conf = {
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.shuffle.partitions": str(shuffle),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # events.parquet stores ts as TIMESTAMP(NANOS); Spark has no
        # nanos timestamp type — read as long and convert in load_table.
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # Accept subset-key hash partitioning for co-partitioned
        # binary ops (cogroup): the block scorers pre-place whole
        # scoring blocks into cost-balanced bins and exchange on the
        # BIN id (functions/blocks.py); bin_id is functionally
        # determined by the grouping keys, so ClusteredDistribution
        # semantics hold and EnsureRequirements must not stack a
        # byte-coalescible full-key exchange on top (r11; plan pins
        # in tests/test_round11_ops.py).
        "spark.sql.requireAllClusterKeysForCoPartition": "false",
        # Shuffle/broadcast/spill codec (guide §2.3/§9): zstd over the
        # lz4 default. A/B'd at the 1000x kNN probe where shuffles are
        # GBs (SMOKE_r14_1000x_knn_codec_{lz4,zstd}.json, adjacent
        # same-window arms): scoring-exchange shuffle bytes -18.9%
        # (6626 -> 5377 MB), wall -13.1%, every codec-touched stage
        # faster (map medians -39%, scoring-stage max task -21%) with
        # no codec-free stage improved — the win is the byte
        # reduction, not window drift. At the 17 MB bench inputs the
        # codec is in the noise either way. A caller that needs lz4
        # (high-entropy payloads) passes it in extra_conf, which is
        # applied last.
        "spark.io.compression.codec": "zstd",
        "spark.driver.memory": jvm_mem(mem),
        "spark.ui.enabled": "false",
    }
    conf.update(extra_conf or {})
    if SparkContext._gateway is None:  # this call launches the JVM
        _launch_fast(conf)
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
