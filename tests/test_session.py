"""get_spark: the session conf it ships and the conf a caller passes,
driver memory parsing, and the fast start-up (a shadow SPARK_HOME whose
pyspark.zip is a bytecode directory, and a JVM class-data archive)."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zipfile

import pytest

from go_integ_spark import session

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
    bytes / -13.1% wall (SMOKE_r14_1000x_knn_codec_*.json) — and a
    caller's extra_conf codec wins over it."""
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
# the worker's pyspark bytecode came from and the archives of the
# worker's zip importers, the JVM's own arguments, and the cache
# listing while the session is live. The caller passes JVM options of
# its own, which must survive the merge.
_CACHED_SESSION = """
import json, os, sys
from pyspark.sql import functions as F
from go_integ_spark import session
session.CACHE_DIR = sys.argv[1]
s = session.get_spark(extra_conf={"spark.driver.extraJavaOptions": "-Dcaller.flag=kept"})

def probe(_):
    import zipimport, pyspark
    zips = [f.archive for f in sys.path_importer_cache.values() if isinstance(f, zipimport.zipimporter)]
    return json.dumps({"cached": pyspark.__spec__.cached, "zips": zips})

bean = s.sparkContext._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
print(json.dumps({
    "worker": json.loads(s.range(1).select(F.udf(probe, "string")("id")).first()[0]),
    "jvm_args": list(bean.getInputArguments()),
    "cache": sorted(os.listdir(session.CACHE_DIR)),
}))
"""


@pytest.fixture(scope="module")
def cached_sessions(tmp_path_factory):
    """Two sessions, one after the other, on one empty cache: the first
    builds the shadow home and dumps the archive, the second uses both.
    Each is (completed child, its JSON line, cache listing after exit)."""
    cache = str(tmp_path_factory.mktemp("go_integ_spark_cache"))
    runs = []
    for _ in range(2):
        proc = subprocess.run(
            [sys.executable, "-c", _CACHED_SESSION, cache],
            cwd=REPO,
            capture_output=True,
            text=True,
            timeout=600,
        )
        assert proc.returncode == 0, proc.stderr[-4000:]
        runs.append((proc, json.loads(proc.stdout.splitlines()[-1]), sorted(os.listdir(cache))))
    return cache, runs


def test_dump_keeps_stdout_clean_and_promotes_after_exit(cached_sessions):
    """The dumping session prints no JVM log line on stdout, and its
    archive appears only after the child has exited 0 (the JVM writes
    the .part file as it exits)."""
    _, [(proc, live, after), _] = cached_sessions
    assert proc.stdout.splitlines() == [proc.stdout.strip()]
    assert "[cds]" not in proc.stdout and "[warning]" not in proc.stdout
    assert "[cds]" in proc.stderr  # the dump did log, on stderr
    assert not [f for f in live["cache"] if f.endswith(".jsa")]
    assert [f for f in after if f.endswith(".jsa")] and not [f for f in after if f.endswith(".part")]
    assert any(a.startswith("-XX:ArchiveClassesAtExit=") for a in live["jvm_args"])


def test_worker_imports_pyspark_from_bytecode(cached_sessions):
    """A Python worker's pyspark loads from the shadow home's bytecode,
    not from the installed source-only zip."""
    cache, runs = cached_sessions
    for _, live, _ in runs:
        cached = live["worker"]["cached"]
        assert cached.startswith(cache + os.sep) and cached.endswith(".pyc")
        assert os.path.isfile(cached)


def test_worker_has_no_zip_importer_over_the_shadow(cached_sessions):
    """pyspark's worker calls importlib.invalidate_caches() on every
    task, and each zip importer re-parses its archive's directory
    there; the shadow's pyspark and py4j entries are directories."""
    cache, runs = cached_sessions
    for _, live, _ in runs:
        assert not [a for a in live["worker"]["zips"] if a.startswith(cache + os.sep)]


def test_jvm_maps_promoted_archive(cached_sessions):
    """Once an archive is promoted, the JVM maps it with -Xshare:on,
    so a mismatch would fail the launch rather than pass unseen."""
    cache, [_, (_, live, after)] = cached_sessions
    [jsa] = [f for f in after if f.endswith(".jsa")]
    assert "-Xshare:on" in live["jvm_args"]
    assert f"-XX:SharedArchiveFile={os.path.join(cache, jsa)}" in live["jvm_args"]


def test_caller_java_options_kept(cached_sessions):
    _, runs = cached_sessions
    for _, live, _ in runs:
        args = live["jvm_args"]
        assert "-Dcaller.flag=kept" in args
        assert args.index("-Dcaller.flag=kept") < args.index("-Xlog:disable")


def test_stale_part_is_never_passed_to_the_jvm(tmp_path, monkeypatch):
    """A .part file left by a dead process is deleted, not mapped (a
    truncated archive crashes the JVM); one of a live process stays."""
    monkeypatch.setattr(session, "CACHE_DIR", str(tmp_path))
    dead = subprocess.Popen(["true"])
    dead.wait()
    stale = tmp_path / f"cds-k.{dead.pid}.part"
    live = tmp_path / f"cds-k.{os.getppid()}.part"
    stale.write_bytes(b"truncated")
    live.write_bytes(b"dumping")
    flags, part = session.cds_flags("k")
    assert flags == [f"-XX:ArchiveClassesAtExit={part}"]
    assert part == str(tmp_path / f"cds-k.{os.getpid()}.part")
    assert not stale.exists() and live.exists()
    (tmp_path / "cds-k.jsa").write_bytes(b"promoted")
    flags, part = session.cds_flags("k")
    assert part is None
    assert flags == [f"-XX:SharedArchiveFile={tmp_path / 'cds-k.jsa'}", "-Xshare:on"]


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
