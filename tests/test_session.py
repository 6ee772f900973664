"""get_spark: the session conf it ships and the conf a caller passes,
driver memory parsing, and the fast start-up (a shadow SPARK_HOME whose
pyspark.zip is a bytecode directory, and a JVM class-data archive built
once by a training run)."""

from __future__ import annotations

import importlib.machinery
import importlib.util
import json
import os
import re
import subprocess
import sys
import zipfile

import pytest

from go_integ_spark import session
from go_integ_spark.sources import datasource

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Runs in a child interpreter: the override and the unset-CPUs
# default only show in a session that get_spark itself launches.
_FRESH_SESSION = """
import json
from go_integ_spark.session import get_spark
s = get_spark(extra_conf={"spark.io.compression.codec": "lz4"})
print(json.dumps({
    "master": s.sparkContext.master,
    "shuffle": s.conf.get("spark.sql.shuffle.partitions"),
    "codec": s.sparkContext.getConf().get("spark.io.compression.codec"),
}))
s.stop()
"""


@pytest.fixture(scope="module")
def fresh_session_conf():
    """Conf of a new get_spark session with SPARK_GRAFT_CPUS unset
    and an lz4 codec passed in extra_conf."""
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    out = subprocess.run(
        [sys.executable, "-c", _FRESH_SESSION],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        check=True,
        timeout=300,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])


def test_session_io_codec_default_and_override(spark, fresh_session_conf):
    """r14 codec ship (guide §2.3/§9): zstd is the session default —
    A/B'd at the 1000x kNN probe, scoring-exchange shuffle -18.9%
    bytes / -13.1% wall (evidence/SMOKE_r14_1000x_knn_codec_*.json) —
    and a caller's extra_conf codec wins over it."""
    assert spark.conf.get("spark.io.compression.codec") == "zstd"
    assert fresh_session_conf["codec"] == "lz4"


def test_cpus_default_is_host_core_count(fresh_session_conf):
    """With SPARK_GRAFT_CPUS unset the session sizes itself to this
    host, not to a fixed core count."""
    n = os.cpu_count()
    assert fresh_session_conf["master"] == f"local[{n}]"
    assert fresh_session_conf["shuffle"] == str(n)


def test_live_session_uses_zstd_codec(spark):
    """The conftest session is built by get_spark with no override,
    so the shipped default must be live in it."""
    assert spark.conf.get("spark.io.compression.codec") == "zstd"


def test_warm_queries_compile_nothing(spark):
    """Spark's generated-code cache holds a session's working set: 60
    distinct one-projection queries compile more classes than Spark's
    default cap of 100, and running them again compiles none."""
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def cycle() -> int:
        before = compiles.getCount()
        for k in range(60):
            spark.range(4).selectExpr(f"id * {k + 2} + {k} AS x").collect()
        return compiles.getCount() - before

    assert cycle() > 100
    assert cycle() == 0


class TestDriverMemory:
    """spark.driver.memory strings are read the way Spark reads them,
    and reach the JVM in a form HotSpot accepts."""

    def test_mem_gb_parses_like_spark(self):
        from go_integ_spark.session import _mem_gb

        assert _mem_gb("weird") == 0.0
        assert _mem_gb("16384m") == 16.0
        assert _mem_gb("48gb") == _mem_gb("48G") == 48.0
        assert _mem_gb("1tb") == _mem_gb("1t") == 1024.0
        assert _mem_gb("8388608kb") == 8.0
        assert _mem_gb("16384") == 16.0  # bare number is MiB, as in Spark
        assert _mem_gb("1.5g") == 0.0  # Spark rejects fractions too

    def test_jvm_mem_normalizes_spark_only_forms(self):
        """Spark's launcher hands spark.driver.memory to -Xmx as is;
        forms HotSpot rejects become whole MiB, valid ones stay."""
        from go_integ_spark.session import jvm_mem

        assert jvm_mem("8g") == "8g"
        assert jvm_mem("1T") == "1T"
        assert jvm_mem("48gb") == "49152m"
        assert jvm_mem("16384") == "16384m"
        assert jvm_mem("weird") == "weird"


# A session in a child interpreter with its cache in argv[1]: where
# the worker's pyspark bytecode came from, the worker's zip importers
# and the jars on its path, in a UDF worker and in a Python DataSource
# reader task (the connector's path); the JVM's own arguments; and how
# many archive training runs this process started. The caller passes
# JVM options of its own, which must survive the merge.
_CACHED_SESSION = """
import json, os, subprocess, sys
from pyspark.sql import functions as F
from pyspark.sql.datasource import DataSource, DataSourceReader
from go_integ_spark import session
session.CACHE_DIR = sys.argv[1]
trainings = []
run = subprocess.run
def counting_run(args, **kw):
    if session._TRAIN_MAIN in args:
        trainings.append(args)
    return run(args, **kw)
subprocess.run = counting_run
s = session.get_spark(extra_conf={"spark.driver.extraJavaOptions": "-Dcaller.flag=kept"})

def probe(_=None):
    import zipimport, pyspark
    zips = [f.archive for f in sys.path_importer_cache.values() if isinstance(f, zipimport.zipimporter)]
    jars = [p for p in sys.path if p.endswith(".jar")]
    return json.dumps({"cached": pyspark.__spec__.cached, "zips": zips, "jars": jars})

class ProbeReader(DataSourceReader):
    def read(self, partition):
        yield (probe(),)

class ProbeSource(DataSource):
    @classmethod
    def name(cls):
        return "probe"
    def schema(self):
        return "probe string"
    def reader(self, schema):
        return ProbeReader()

s.dataSource.register(ProbeSource)
bean = s.sparkContext._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
print(json.dumps({
    "worker": json.loads(s.range(1).select(F.udf(probe, "string")("id")).first()[0]),
    "reader": json.loads(s.read.format("probe").load().first()[0]),
    "jvm_args": list(bean.getInputArguments()),
    "trainings": len(trainings),
}))
"""


@pytest.fixture(scope="module")
def cached_sessions(tmp_path_factory):
    """Two sessions started at once on one empty cache: both need the
    shadow home and the archive. Each run is (its stdout, its JSON
    line); the cache listing is taken after both have exited."""
    cache = str(tmp_path_factory.mktemp("go_integ_spark_cache"))
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", _CACHED_SESSION, cache],
            cwd=REPO,
            stdout=subprocess.PIPE,
            stderr=subprocess.PIPE,
            text=True,
        )
        for _ in range(2)
    ]
    outs = [proc.communicate(timeout=600) for proc in procs]
    for proc, (_, err) in zip(procs, outs):
        assert proc.returncode == 0, err[-4000:]
    runs = [(out, json.loads(out.splitlines()[-1])) for out, _ in outs]
    return cache, runs, sorted(os.listdir(cache))


def test_first_sessions_keep_stdout_clean(cached_sessions):
    """A session on an empty cache prints only its own line on stdout:
    no line of the archive's training run or of its JVM's dump."""
    _, runs, _ = cached_sessions
    for out, _ in runs:
        assert out.splitlines() == [out.strip()]
        assert "[cds]" not in out and "[warning]" not in out


def test_concurrent_first_sessions_share_one_training_run(cached_sessions):
    """Of two sessions started at once on an empty cache, one runs the
    training and the other waits for its archive; no session's JVM
    dumps, and the cache holds one finished archive."""
    _, runs, after = cached_sessions
    assert sum(live["trainings"] for _, live in runs) == 1
    for _, live in runs:
        assert not [a for a in live["jvm_args"] if a.startswith("-XX:ArchiveClassesAtExit")]
    assert len([f for f in after if f.endswith(".jsa")]) == 1
    assert not [f for f in after if f.endswith(".tmp")]


def test_worker_imports_pyspark_from_bytecode(cached_sessions):
    """A Python worker's pyspark loads from the shadow home's bytecode,
    not from the installed source-only zip."""
    cache, runs, _ = cached_sessions
    for _, live in runs:
        cached = live["worker"]["cached"]
        assert cached.startswith(cache + os.sep) and cached.endswith(".pyc")
        assert os.path.isfile(cached)


def test_worker_has_no_zip_importer(cached_sessions):
    """pyspark's worker calls importlib.invalidate_caches() on every
    task, and each zip importer re-parses its archive's directory
    there. The shadow's pyspark and py4j entries are directories, and
    its sitecustomize takes the spark-core jar Spark appends off the
    path of every Python process Spark starts: UDF workers and
    DataSource reader tasks alike."""
    _, runs, _ = cached_sessions
    for _, live in runs:
        for task in ("worker", "reader"):
            assert live[task]["zips"] == [], task
            assert live[task]["jars"] == [], task


def test_jvm_maps_promoted_archive(cached_sessions):
    """Every session, the first on an empty cache included, maps the
    one finished archive with -Xshare:on, so a mismatch would fail the
    launch rather than pass unseen."""
    cache, runs, after = cached_sessions
    [jsa] = [f for f in after if f.endswith(".jsa")]
    for _, live in runs:
        assert "-Xshare:on" in live["jvm_args"]
        assert f"-XX:SharedArchiveFile={os.path.join(cache, jsa)}" in live["jvm_args"]


def test_caller_java_options_kept(cached_sessions):
    _, runs, _ = cached_sessions
    for _, live in runs:
        args = live["jvm_args"]
        assert "-Dcaller.flag=kept" in args
        assert args.index("-Dcaller.flag=kept") < args.index("-Xlog:disable")


def _fake_home(root, zip_text: str):
    lib = root / "python" / "lib"
    lib.mkdir(parents=True, exist_ok=True)
    (root / "jars").mkdir(exist_ok=True)
    with zipfile.ZipFile(lib / "pyspark.zip", "w") as z:
        z.writestr("pyspark/__init__.py", zip_text)
    return str(root)


def test_home_key_follows_zip_bytes(tmp_path):
    home = _fake_home(tmp_path, "x = 1\n")
    key = session._home_key(home)
    assert session._home_key(home) == key
    _fake_home(tmp_path, "x = 2\n")
    assert session._home_key(home) != key


def test_home_key_follows_hook_source(tmp_path, monkeypatch):
    home = _fake_home(tmp_path, "x = 1\n")
    key = session._home_key(home)
    monkeypatch.setattr(session, "_HOOK", session._HOOK + "# edited\n")
    assert session._home_key(home) != key


def _training_stand_in(conf):
    pass


def test_cds_key_follows_training_source(tmp_path, monkeypatch):
    home = _fake_home(tmp_path, "")
    key = session.cds_key(home, "8g")
    assert session.cds_key(home, "8g") == key
    monkeypatch.setattr(session, "_train", _training_stand_in)
    assert session.cds_key(home, "8g") != key


def test_cds_key_follows_session_conf_and_warmup(tmp_path, monkeypatch):
    """The training run starts its session with ``_session_conf`` and
    runs ``warmup_datasource``: an edit to either builds a new archive."""
    home = _fake_home(tmp_path, "")
    key = session.cds_key(home, "8g")
    conf = session._session_conf
    monkeypatch.setattr(session, "_session_conf", lambda *a: {**conf(*a), "spark.edited": "1"})
    assert session.cds_key(home, "8g") != key
    monkeypatch.undo()
    assert session.cds_key(home, "8g") == key
    monkeypatch.setattr(datasource, "warmup_datasource", _training_stand_in)
    assert session.cds_key(home, "8g") != key


def test_cds_key_versions_the_launchers_java(tmp_path, monkeypatch):
    """Spark's launcher runs $JAVA_HOME/bin/java when JAVA_HOME is set,
    so that JDK's build is the one the archive is keyed on, whatever
    java PATH finds."""
    home = _fake_home(tmp_path, "")
    java = tmp_path / "jdk" / "bin" / "java"
    java.parent.mkdir(parents=True)
    java.write_text('#!/bin/sh\necho \'openjdk version "99.0.1"\' >&2\n')
    java.chmod(0o755)
    monkeypatch.delenv("JAVA_HOME", raising=False)
    key = session.cds_key(home, "8g")
    monkeypatch.setenv("JAVA_HOME", str(tmp_path / "jdk"))
    assert session.cds_key(home, "8g") != key


def test_bytecode_dir_runs_pyc_and_keeps_source_lines(tmp_path, capfd):
    """The shadow's pyspark.zip is a directory of unchecked-hash .pyc
    files: editing a .py after the build does not change what runs,
    and tracebacks show the shadow's source lines. The build prints
    nothing on stdout."""
    real = _fake_home(tmp_path / "real", "WHO = 'built'\ndef boom():\n    raise ValueError('boom')\n")
    home = str(tmp_path / "home")
    os.mkdir(home)
    session._build_shadow(real, home, home)
    assert capfd.readouterr().out == ""
    lib = os.path.join(home, "python", "lib", "pyspark.zip")
    src = os.path.join(lib, "pyspark", "__init__.py")
    with open(src, "w") as f:
        f.write("WHO = 'edited'\ndef boom():\n    raise ValueError('boom')\n")
    proc = subprocess.run(
        [sys.executable, "-c", f"import sys; sys.path.insert(0, {lib!r}); "
         "import pyspark; print(pyspark.WHO, pyspark.__spec__.cached); pyspark.boom()"],
        capture_output=True,
        text=True,
        timeout=60,
    )
    who, cached = proc.stdout.split()
    assert who == "built"
    assert os.path.dirname(cached) == os.path.join(lib, "pyspark", "__pycache__")
    assert f'File "{src}", line 3' in proc.stderr
    assert "raise ValueError('boom')" in proc.stderr


def test_compile_failure_fails_the_build(tmp_path, capfd):
    """A source that does not compile fails the build; the error goes
    to stderr, never to stdout."""
    real = _fake_home(tmp_path / "real", "def (:\n")
    home = str(tmp_path / "home")
    os.mkdir(home)
    with pytest.raises(RuntimeError, match="compileall failed in pyspark.zip"):
        session._build_shadow(real, home, home)
    out, err = capfd.readouterr()
    assert out == "" and "pyspark/__init__.py" in err


def test_user_conf_file_is_refused(tmp_path, monkeypatch):
    """The shadow home's conf/ is empty; a user's config in the real
    conf/ raises instead of being dropped."""
    home = _fake_home(tmp_path, "")
    (tmp_path / "conf").mkdir()
    (tmp_path / "conf" / "spark-defaults.conf.template").write_text("")
    (tmp_path / "conf" / "spark-defaults.conf").write_text("spark.x 1\n")
    monkeypatch.setattr(session, "_find_spark_home", lambda: home)
    monkeypatch.setattr(session, "CACHE_DIR", str(tmp_path / "cache"))
    with pytest.raises(RuntimeError, match=r"spark-defaults\.conf'\]"):
        session.shadow_spark_home()


def test_sitecustomize_of_the_driver_is_refused(tmp_path, monkeypatch):
    """The shadow's sitecustomize would hide one this interpreter has
    from Spark's Python processes, so the build refuses, naming it."""
    real_find_spec = importlib.util.find_spec
    origin = str(tmp_path / "site-packages" / "sitecustomize.py")

    def find_spec(name, *args):
        if name == "sitecustomize":
            return importlib.machinery.ModuleSpec(name, None, origin=origin)
        return real_find_spec(name, *args)

    monkeypatch.setattr(importlib.util, "find_spec", find_spec)
    monkeypatch.setattr(session, "_find_spark_home", lambda: _fake_home(tmp_path, ""))
    monkeypatch.setattr(session, "CACHE_DIR", str(tmp_path / "cache"))
    with pytest.raises(RuntimeError, match=f"sitecustomize resolves to {re.escape(origin)}"):
        session.shadow_spark_home()
    assert not (tmp_path / "cache").exists()


def test_hook_drops_only_the_homes_jars(tmp_path):
    """The built sitecustomize runs from its unchecked-hash .pyc at
    interpreter start, takes every entry under the real home's jars/
    off sys.path and out of the importer cache, and leaves the rest."""
    real = _fake_home(tmp_path / "real", "")
    home = str(tmp_path / "home")
    os.mkdir(home)
    session._build_shadow(real, home, home)
    lib = os.path.join(home, "python", "lib", "pyspark.zip")
    with open(os.path.join(lib, "sitecustomize.py"), "w") as f:
        f.write("raise SystemExit('source ran')\n")
    jar = os.path.join(real, "jars", "spark-core.jar")
    with zipfile.ZipFile(jar, "w") as z:
        z.writestr("org/x.class", b"")
    other = str(tmp_path / "other.zip")
    with zipfile.ZipFile(other, "w") as z:
        z.writestr("y.txt", "")
    proc = subprocess.run(
        [sys.executable, "-c", "import json, sys; print(json.dumps([sys.path, list(sys.path_importer_cache)]))"],
        env={**os.environ, "PYTHONPATH": os.pathsep.join([lib, other, jar])},
        capture_output=True,
        text=True,
        timeout=60,
        check=True,
    )
    path, cached = json.loads(proc.stdout)
    assert path[1:3] == [lib, other] and jar not in path
    assert other in cached and not [p for p in cached if p.startswith(os.path.dirname(jar))]
