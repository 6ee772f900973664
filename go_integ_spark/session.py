"""SparkSession construction: the session config every entry point
shares, and a fast-starting driver JVM and Python workers.

Config: AQE on (runtime re-plan, skew-join splitting, partition
coalescing), adaptive broadcast thresholds, Arrow for any pandas
exchange, and a UTC session timezone so results are comparable with the
DuckDB oracle (duckdb timestamps are UTC-naive). The generated-code
cache holds 4096 classes instead of 100, more than one session's working
set, so a query run again reuses its compiled classes.

Start-up: ``get_spark`` launches the JVM from a shadow ``SPARK_HOME``
under ``~/.cache/go_integ_spark/``, built once per Spark install. Every
top-level entry of the real home is a symlink there, except three:

- ``python/lib/`` holds ``pyspark.zip`` and the py4j zip (names
  ``PythonUtils.sparkPythonPath`` hard-codes) as directories of
  unchecked-hash ``.pyc`` files, so workers import pyspark from
  bytecode and the ``importlib.invalidate_caches()`` of every task
  re-parses no zip directory;
- ``python/lib/pyspark.zip/sitecustomize.py``, run by ``site`` in every
  Python process Spark launches (never the driver), takes the
  spark-core jar Spark appends, and its zip importers, off the path;
- ``conf/`` is empty (the real one may hold only ``*.template`` files),
  so the JVM classpath has no non-empty directory, which CDS needs.

CDS (class-data sharing) is the JVM's archive of already-parsed
classes. Each key gets one archive, built before any session maps it:
the first session to need it takes the key's lock, and a child
interpreter runs ``_train``, a fixed routine on generated data, with
``-XX:ArchiveClassesAtExit``; the archive its JVM writes becomes
``cds-<key>.jsa``. Sessions started meanwhile wait on the lock, so the
archive holds the same classes whichever command runs first. Every
session maps it with ``-Xshare:on``, so a mismatched archive fails the
launch instead of being skipped (``get_spark`` 4.9-5.6 s -> 2.3 s).
The first run on a host pays about 4 s for the directories and 75 s
for the training run. ``rm -rf ~/.cache/go_integ_spark`` resets both.
"""

from __future__ import annotations

import compileall
import contextlib
import fcntl
import hashlib
import importlib.util
import inspect
import json
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
# JVM log lines go to stderr: the CLI, bench.py and perfbench own stdout.
_LOG_FLAGS = ["-Xlog:disable", "-Xlog:all=warning:stderr"]
_TRAIN_MAIN = "import json, sys; from go_integ_spark import session; session._train(json.loads(sys.argv[1]))"
_LIB = os.path.join("python", "lib")  # the zips Spark puts on workers' path
# The shadow's sitecustomize. The jar's importers (``jar``, and
# ``jar/org`` from pickle's ``org.python.core`` probe) may already be
# cached before site runs, so the importer cache is cleared too.
_HOOK = '''"""Drop the Spark home's jars from this interpreter's import path."""
import sys

_JARS = {jars!r}
sys.path[:] = [p for p in sys.path if not p.startswith(_JARS)]
for p in [p for p in sys.path_importer_cache if p.startswith(_JARS)]:
    del sys.path_importer_cache[p]
'''


def _hook(real: str) -> str:
    return _HOOK.format(jars=os.path.join(real, "jars", ""))


def ensure_engine_contract(spark: SparkSession) -> None:
    """Pin the two runtime confs every table and file read relies on
    (tables.load_table, sources.files.FileStream): ``nanosAsLong``, as
    events.parquet stores TIMESTAMP(NANOS), and a UTC session timezone,
    under which alone the NTZ -> LTZ cast keeps instants equal to the
    DuckDB oracles'. Permanent on purpose: returned frames are lazy, so
    restoring the timezone before the caller's action breaks the cast.
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
    """``mem`` in a form HotSpot's -Xmx accepts: Spark's launcher passes
    spark.driver.memory to it verbatim, so two-letter suffixes ("48gb")
    and bare numbers (bytes to the JVM) become whole MiB; JVM-valid and
    unparseable strings pass through."""
    if re.fullmatch(r"\d+[kmgt]", mem.strip().lower()) or not _mem_gb(mem):
        return mem
    return f"{math.ceil(_mem_gb(mem) * 1024)}m"


def _lib_zips(home: str) -> list[str]:
    return sorted(f for f in os.listdir(os.path.join(home, _LIB)) if f.endswith(".zip"))


def _home_key(real: str) -> str:
    """Key of the shadow of ``real``: a layout tag, ``real``'s path, the
    sha256 of its python/lib zips, the worker hook's source and this
    interpreter's bytecode magic number."""
    h = hashlib.sha256(b"bytecode-dir\0" + importlib.util.MAGIC_NUMBER + real.encode())
    h.update(_hook(real).encode())
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
    hook = os.path.join(_LIB, "pyspark.zip", "sitecustomize.py")
    with open(os.path.join(tmp, hook), "w") as f:
        f.write(_hook(real))
    py_compile.compile(
        os.path.join(tmp, hook),
        dfile=os.path.join(home, hook),
        doraise=True,
        invalidation_mode=py_compile.PycInvalidationMode.UNCHECKED_HASH,
    )


def shadow_spark_home() -> str:
    """The shadow of the real Spark home, built on first use. Resolving
    through ``jars`` finds the real home even when SPARK_HOME already
    names a shadow (a child of a session inherits it). Refused when
    this interpreter has a ``sitecustomize``: the shadow's own would
    hide it from Spark's Python processes."""
    spec = importlib.util.find_spec("sitecustomize")
    if spec is not None:
        raise RuntimeError(
            f"sitecustomize resolves to {spec.origin}; the shadow SPARK_HOME runs its own "
            "sitecustomize in Spark's Python processes, which would hide that module there"
        )
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
    """Archive key: the build of the java Spark's launcher runs
    (``$JAVA_HOME/bin/java`` if set, as in ``bin/spark-class``), the
    jars' paths, sizes and mtimes, and all the training run executes:
    its session conf (the driver memory in it decides compressed oops)
    and the source of ``_train`` and of the ``warmup_datasource`` it
    calls."""
    from go_integ_spark.sources.datasource import warmup_datasource

    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else "java"
    version = subprocess.run([java, "-version"], capture_output=True, text=True, check=True).stderr
    h = hashlib.sha256(f"{home}\n{version}\n".encode())
    h.update(json.dumps(_session_conf(2, driver_mem), sort_keys=True).encode())
    for fn in (_train, warmup_datasource):
        h.update(inspect.getsource(fn).encode())
    for e in sorted(os.scandir(os.path.join(home, "jars")), key=lambda e: e.name):
        st = e.stat()
        h.update(f"{e.name} {st.st_size} {st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:16]


def _train(conf: dict[str, str]) -> None:
    """The fixed work, on generated data, whose loaded classes fill every
    archive: the column types, operators and function families of the
    package's ops and connectors. Runs in ``cds_archive``'s child and
    exits with the JVM's status once the JVM has written its dump."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from go_integ_spark.functions.cache import cached_persist
    from go_integ_spark.sources.datasource import warmup_datasource

    spark = SparkSession.builder.master("local[2]").config(map=conf).getOrCreate()
    noop = lambda df: df.write.format("noop").mode("overwrite").save()  # noqa: E731
    with tempfile.TemporaryDirectory() as tmp:
        spark.range(4096).selectExpr(
            "id", "id DIV 600 AS k", "string(id) AS s", "id / 3 AS d", "float(id) AS f", "decimal(id) AS n",
            "timestamp_seconds(id) AS ts", "date_add(DATE'2024-01-01', int(id % 31)) AS dt", "id % 2 = 0 AS b",
            "sequence(0, id % 3) AS a", "map(s, id) AS m", "binary(s) AS bin", "named_struct('x', id, 'y', s) AS st",
        ).write.parquet(f"{tmp}/t")
        read = spark.read.parquet(f"{tmp}/t")
        filtered = read.filter("k IN (1, 2) AND s != '3' AND contains(s, '1') OR k < 2 AND ts IS NULL OR NOT b")
        noop(filtered.selectExpr("st.x", "explode(array(st)) AS e").select("x", "e.y"))
        t = cached_persist("training", read, lambda: read)
        t.createOrReplaceTempView("training")
        spark.range(7).selectExpr("string(id) AS s", "id AS j").createOrReplaceTempView("dim")
        noop(t.mapInPandas(lambda batches: batches, t.schema))
        noop(t.select(F.pandas_udf(lambda s: s + 1, "long")("id")))
        noop(t.withColumns({"c": F.col("id").cast("string"), "z": F.size("a")}).orderBy("id").repartition(3))
        joined = spark.table("training").join(spark.table("dim"), "s")
        noop(joined.join(spark.table("dim").groupBy("j").count(), "j").withColumn("e", F.transform("a", lambda x: -x)))
        noop(t.select("*", F.rank().over(Window.partitionBy("k").orderBy("d")).alias("r")).filter("r <= 2"))
        for sql in [
            "SELECT xxhash64(s), xxhash64(a, st), md5(s), sha2(s, 256), hex(bin), conv(s, 10, 16), int(s),"
            " double(s), bin > binary(s), size(a), a[0], element_at(a, 1), st.x, array_sort(array_distinct(a)),"
            " array_intersect(a, a), array_contains(a, 1), arrays_overlap(a, a), slice(a, 1, 2), array_max(a),"
            " filter(a, x -> x > 0), array_join(transform(a, x -> string(x)), ','), split(s, '1'), lower(s),"
            " upper(s), trim(s), replace(s, '1', '2'), instr(s, '1'), locate('1', s), substring_index(s, '1', 1),"
            " translate(s, '1', '2'), contains(s, '1'), startswith(s, '1'), endswith(s, '1'), initcap(s),"
            " find_in_set(s, '1,2'), regexp_replace(s, '1', '2'), levenshtein(s, '12'), ts + INTERVAL 1 DAY,"
            " datediff(dt, DATE'2024-01-01'), date_trunc('hour', ts), unix_micros(ts), round(d, 2), sqrt(d),"
            " least(d, f), id DIV 3, d % 2, from_json(to_json(st), 'x long, y string'),"
            " explode(transform(a, x -> x * 2)) FROM training",
            "SELECT sum(d) OVER (PARTITION BY k ORDER BY d ROWS 2 PRECEDING), max(d) OVER (PARTITION BY k)"
            " FROM training",
            "SELECT id % 1000, collect_list(s), collect_set(k) FROM training GROUP BY 1",
            "SELECT s, approx_count_distinct(d) FROM training WHERE k = 1 GROUP BY s",
            "SELECT k, count(*) FROM training GROUP BY k HAVING max(s) > '1' ORDER BY k",
            "SELECT /*+ BROADCAST(a, b, c) */ * FROM training t JOIN dim a USING (s) JOIN dim b ON t.k = b.j"
            " JOIN dim c ON t.k < c.j",
            "SELECT /*+ SHUFFLE_HASH(a), BROADCAST(b) */ * FROM (SELECT /*+ REPARTITION(k) */ * FROM training) t"
            " JOIN dim a USING (s) JOIN dim b ON t.k = b.j",
        ]:
            noop(spark.sql(sql))
        t.orderBy("d").limit(5).collect()
        t.head()
        warmup_datasource(spark, num_partitions=2)
        stream = spark.readStream.schema(t.schema).parquet(f"{tmp}/t").dropDuplicates(["s"])
        query = stream.groupBy("k").count().writeStream.format("memory").queryName("training_stream")
        query.outputMode("complete").trigger(availableNow=True).start().awaitTermination()
        spark.catalog.dropTempView("training_stream")
        t.select(F.to_json(F.struct("*"))).write.text(f"{tmp}/json", compression="gzip")
    spark.stop()
    jvm = SparkContext._gateway.proc
    jvm.stdin.close()  # the gateway JVM exits on EOF
    sys.exit(jvm.wait())


def cds_archive(home: str, driver_mem: str) -> str:
    """The archive for ``home`` and ``driver_mem``, built under the
    key's lock on a miss: a child interpreter runs ``_train`` with the
    session conf and ``-XX:ArchiveClassesAtExit``, and its dump is
    moved into place once it exits 0."""
    key = cds_key(home, driver_mem)
    jsa = os.path.join(CACHE_DIR, f"cds-{key}.jsa")
    with open(os.path.join(CACHE_DIR, f"cds-{key}.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.isfile(jsa):
            return jsa
        conf = _session_conf(2, driver_mem)
        conf["spark.driver.extraJavaOptions"] = " ".join([f"-XX:ArchiveClassesAtExit={jsa}.tmp", *_LOG_FLAGS])
        # The child, and Spark's Python workers, import this package from
        # its cwd; the child's stdout goes to stderr, as stdout is the CLI's.
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        args = [sys.executable, "-c", _TRAIN_MAIN, json.dumps(conf)]
        proc = subprocess.run(args, cwd=root, stdout=2, stderr=subprocess.PIPE, text=True)
        if proc.returncode != 0:
            raise RuntimeError(f"the CDS training run exited {proc.returncode}:\n{proc.stderr[-4000:]}")
        os.replace(f"{jsa}.tmp", jsa)
    return jsa


def _launch_fast(conf: dict[str, str]) -> None:
    """Point the JVM this process is about to launch at the shadow
    home and the CDS archive; ``conf`` gains the JVM flags after the
    caller's own."""
    home = shadow_spark_home()
    os.environ["SPARK_HOME"] = home
    jsa = cds_archive(home, conf["spark.driver.memory"])
    flags = [conf.get("spark.driver.extraJavaOptions", ""), f"-XX:SharedArchiveFile={jsa}", "-Xshare:on"]
    conf["spark.driver.extraJavaOptions"] = " ".join([*flags, *_LOG_FLAGS]).strip()


def _session_conf(shuffle: int, driver_mem: str) -> dict[str, str]:
    """The conf every session ships, the archive's training run too."""
    return {
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.shuffle.partitions": str(shuffle),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # events.parquet's TIMESTAMP(NANOS) reads as long (see load_table)
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # Accept subset-key hash partitioning for co-partitioned
        # binary ops. The subset-key joins of similarity_hybrid_rrf,
        # similarity_ivf_probe_recall, similarity_matryoshka_recall,
        # similarity_ndcg_eval and similarity_pq_agreement would
        # each get a full-key exchange on top without it. (The grid
        # scorers in functions/blocks.py exchange with repartitionById
        # and need no conf; tests/test_blocks.py pins their plans.)
        "spark.sql.requireAllClusterKeysForCoPartition": "false",
        # zstd over the lz4 default: -18.9% shuffle bytes and -13.1%
        # wall at the 1000x kNN probe
        # (evidence/SMOKE_r14_1000x_knn_codec_*.json).
        "spark.io.compression.codec": "zstd",
        # Keep every generated class a session compiles. One 205-op
        # oracle sweep at sf0.001 compiles 2,644 distinct classes, and
        # curation's five ops 113, so at the default of 100 the LRU
        # cycles: a repeat sweep recompiled 3,627 classes (93 here),
        # and every warm curation pass 86 (0 here). 4096 leaves 1.5x
        # headroom over the sweep; curation pass_cpu_s 9.20 -> 8.09 s,
        # warm-pass JIT CPU 7.02 -> 4.72 s (20 pairs, 4 cores).
        "spark.sql.codegen.cache.maxEntries": "4096",
        "spark.driver.memory": driver_mem,
        "spark.ui.enabled": "false",
    }


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
    conf = _session_conf(shuffle, jvm_mem(mem))
    conf.update(extra_conf or {})
    if SparkContext._gateway is None:  # this call launches the JVM
        _launch_fast(conf)
    return SparkSession.builder.appName(app_name).master(master).config(map=conf).getOrCreate()
