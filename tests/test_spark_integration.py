"""Spark-side connector integration: Engine.read_dataframes and the
Python DataSource read under it (projection pushdown, offset-stride
partitioning, one cursor window per read), and file-source
incremental reads.
"""

from __future__ import annotations

import datetime as dt

import pytest

from go_integ_spark.engine.lifecycle import Engine
from go_integ_spark.examples.connectors import pokeapi, shopify, sitoo
from go_integ_spark.schema.stream import StreamSchema
from go_integ_spark.sources.files import FileStream
from tests.stub_server import StubServer

FIXED_CLOCK = lambda: dt.datetime(2022, 4, 7, 12, 0, 0, tzinfo=dt.timezone.utc)  # noqa: E731


@pytest.fixture(scope="module")
def server():
    with StubServer() as s:
        yield s


def test_read_dataframes_per_stream(spark, server):
    eng = Engine(clock=FIXED_CLOCK, spark=spark)
    dfs, states = eng.read_dataframes(pokeapi, {"url": server.base})
    df = dfs["pokemon"]
    assert df.count() == len(server.data["pokemon"])
    assert df.columns == ["name", "url"]
    assert states == {}  # full-refresh stream, no cursor


def test_datasource_distributed_read(spark, server):
    from go_integ_spark.sources.datasource import stream_dataframe

    stream = pokeapi.streams[0]
    df, _ = stream_dataframe(spark, stream, {"url": server.base}, None)
    rows = sorted(r.name for r in df.collect())
    assert rows == sorted(p["name"] for p in server.data["pokemon"])


def test_datasource_registered_once_per_session(spark, server, monkeypatch):
    """Two reads in one session register the DataSource once, and a
    registration error propagates instead of being swallowed."""
    import weakref

    from pyspark.sql.datasource import DataSourceRegistration

    from go_integ_spark.sources import datasource

    calls = []
    register = DataSourceRegistration.register
    monkeypatch.setattr(
        DataSourceRegistration,
        "register",
        lambda self, ds: (calls.append(ds), register(self, ds))[1],
    )
    monkeypatch.setattr(datasource, "_registered", weakref.WeakSet())
    for _ in range(2):
        df, _ = datasource.stream_dataframe(spark, pokeapi.streams[0], {"url": server.base}, None)
    assert calls == [datasource.HttpStreamDataSource]
    assert df.count() == len(server.data["pokemon"])

    def broken(self, ds):
        raise RuntimeError("registration failed")

    monkeypatch.setattr(DataSourceRegistration, "register", broken)
    monkeypatch.setattr(datasource, "_registered", weakref.WeakSet())
    with pytest.raises(RuntimeError, match="registration failed"):
        datasource.stream_dataframe(spark, pokeapi.streams[0], {"url": server.base}, None)


def test_datasource_rejects_unpicklable_transport(spark, server):
    """An injected transport must travel to executors or fail loudly —
    never be silently replaced by the default urllib transport."""
    import pytest

    from go_integ_spark.sources.datasource import stream_dataframe

    captured = []
    with pytest.raises(ValueError, match="picklable transport"):
        stream_dataframe(
            spark,
            pokeapi.streams[0],
            {"url": server.base},
            None,
            transport=lambda req: captured.append(req),
        )


def test_datasource_reader_uses_injected_transport(server):
    """Driver-side check that a serialized transport reaches the
    executor read path (HttpStreamReader.read calls it, not urllib)."""
    import base64
    import pickle

    from go_integ_spark.sources.datasource import HttpStreamReader, _StridePartition

    stream = pokeapi.streams[0]
    options = {
        "config": "{}",
        "now": "2022-04-07T12:00:00+00:00",
        "transport": base64.b64encode(pickle.dumps(_failing_transport)).decode(),
    }
    reader = HttpStreamReader(stream, options, stream.schema.struct)
    with pytest.raises(RuntimeError, match="injected transport used"):
        list(reader.read(_StridePartition(0, 1)))


def _failing_transport(req):
    raise RuntimeError("injected transport used")


def test_datasource_projection_pushdown(spark, server):
    """Selecting one column of a DataSource read returns every row with
    that column's values. It checks the rows only: on Spark 4.1.2 the
    reader is handed the full schema, so the request still asks for
    every field (ROADMAP item K)."""
    from go_integ_spark.sources.datasource import stream_dataframe

    stream = sitoo.stream("users")
    df, _ = stream_dataframe(
        spark, stream, {"url": server.base, "user": "u", "password": "p"}, None
    )
    out = df.select("email").collect()
    assert len(out) == len(server.data["sitoo_users"])
    assert out[0].email.endswith("@example.com")


def test_datasource_stride_read_survives_429s(spark, server):
    """Executor-side retry: every offset's first request is 429'd by
    the stub; the strided distributed read must still return every
    row exactly once (Retryer runs inside the DataSource partitions).
    """
    from dataclasses import replace as dc_replace

    from go_integ_spark.sources.datasource import stream_dataframe

    stream = dc_replace(sitoo.stream("users"), path="/flaky_users.json")
    df, _ = stream_dataframe(
        spark,
        stream,
        {"url": server.base, "user": "u", "password": "p"},
        None,
        num_partitions=3,
    )
    rows = sorted(r.userid for r in df.collect())
    assert rows == sorted(u["userid"] for u in server.data["sitoo_users"])


def test_datasource_offset_stride_partitions(spark, server):
    """Offset/limit pagination fans out across N input partitions
    (interleaved strides) and still returns every row exactly once."""
    from go_integ_spark.sources.datasource import stream_dataframe

    stream = sitoo.stream("users")
    df, _ = stream_dataframe(
        spark,
        stream,
        {"url": server.base, "user": "u", "password": "p"},
        None,
        num_partitions=3,
    )
    assert df.rdd.getNumPartitions() == 3
    rows = sorted(r.userid for r in df.collect())
    assert rows == sorted(u["userid"] for u in server.data["sitoo_users"])


def test_datasource_cursor_window_read_once(spark, server, tmp_path):
    """The sync window is read from the clock once per read: every
    request the executors send carries the same ``updated_at_max``,
    and it is the ``To`` the read returns. The action runs a second
    after the frame is defined, so a clock read at execution time
    would move the window and the next sync would re-fetch the gap.
    """
    import json
    import time

    from go_integ_spark.sources.datasource import stream_dataframe
    from tests.stub_server import QueryLogTransport

    log = tmp_path / "queries.jsonl"
    df, state = stream_dataframe(
        spark,
        shopify.stream("users"),
        {"url": server.base, "api_key": "sekret"},
        None,
        transport=QueryLogTransport(str(log)),
    )
    time.sleep(1.1)
    assert df.count() == len(server.data["users"])
    queries = [json.loads(line) for line in log.read_text().splitlines()]
    highs = {q["updated_at_max"] for q in queries if "updated_at_max" in q}
    assert len(queries) == 3 and highs == {state["To"]}


def test_file_stream_incremental(spark, tmp_path):
    """S12 + P3: file-backed stream with cursor state — the filter is
    pushed into the parquet scan; state advances to the high-water mark."""
    src = str(tmp_path / "ev")
    spark.range(10).selectExpr("id", "id * 10 as v").write.parquet(src)
    fs = FileStream(
        schema=StreamSchema.from_ddl("ev", "id long, v long").iterated_by("id"),
        path=src,
    )
    df, resolve = fs.incremental_dataframe_observed(spark, None)
    assert df.count() == 10 and resolve() == {"To": 9}
    df2, resolve2 = fs.incremental_dataframe_observed(spark, {"To": 7})
    assert sorted(r.id for r in df2.collect()) == [8, 9]
    assert resolve2() == {"To": 9}
    df3, resolve3 = fs.incremental_dataframe_observed(spark, {"To": 9})
    assert df3.count() == 0 and resolve3() == {"To": 9}  # cursor holds


def test_file_stream_incremental_observed(spark, tmp_path):
    """Zero extra jobs: the high-water mark is computed by the
    caller's own action (here a collect standing in for the sink
    write), and resolve() then yields the new state — including the
    cursor-holds case on an empty batch."""
    from go_integ_spark.schema.stream import StreamSchema
    from go_integ_spark.sources.files import FileStream

    src = str(tmp_path / "ev")
    spark.range(10).selectExpr("id", "id * 10 as v").write.parquet(src)
    fs = FileStream(
        schema=StreamSchema.from_ddl("ev", "id long, v long").iterated_by("id"),
        path=src,
    )
    df, resolve = fs.incremental_dataframe_observed(spark, {"To": 7})
    rows = df.collect()  # the caller's action drives the observation
    assert sorted(r.id for r in rows) == [8, 9]
    assert resolve() == {"To": 9}

    df2, resolve2 = fs.incremental_dataframe_observed(spark, {"To": 9})
    assert df2.count() == 0
    assert resolve2() == {"To": 9}  # empty batch: cursor holds


def test_file_stream_csv_and_jsonl(spark, tmp_path):
    """S12 across formats: the same declarative FileStream spec reads
    csv and jsonl with the declared schema applied (no inference
    job) and the same cursor-incremental contract."""
    schema = StreamSchema.from_ddl("ev", "id long, v long").iterated_by("id")
    csv_dir = tmp_path / "csv"
    csv_dir.mkdir()
    (csv_dir / "part.csv").write_text("3,30\n4,40\n5,50\n")
    fs_csv = FileStream(schema=schema, path=str(csv_dir), format="csv")
    df, resolve = fs_csv.incremental_dataframe_observed(spark, {"To": 3})
    assert sorted((r.id, r.v) for r in df.collect()) == [(4, 40), (5, 50)]
    assert resolve() == {"To": 5}

    jl_dir = tmp_path / "jl"
    jl_dir.mkdir()
    (jl_dir / "part.jsonl").write_text(
        '{"id": 1, "v": 10}\n{"id": 2, "v": 20}\n'
    )
    fs_jl = FileStream(schema=schema, path=str(jl_dir), format="json")
    df2, resolve2 = fs_jl.incremental_dataframe_observed(spark, None)
    assert sorted((r.id, r.v) for r in df2.collect()) == [(1, 10), (2, 20)]
    assert resolve2() == {"To": 2}


def test_cli_spec_and_read(server, capsys):
    import json

    from go_integ_spark.__main__ import main

    rc = main(
        [
            "go_integ_spark.examples.connectors:pokeapi",
            "read",
            "--config",
            json.dumps({"url": server.base}),
        ]
    )
    assert rc == 0
    out = capsys.readouterr().out
    recs = [json.loads(x) for x in out.splitlines() if '"RECORD"' in x]
    assert len(recs) == len(server.data["pokemon"])
    assert recs[0]["record"]["stream"] == "pokemon"


def test_cli_state_fan_out_and_catalog_selection(server, capsys, monkeypatch):
    """``--state`` keyed by ``""`` is a global state fanned out to every
    stream, and ``--catalog`` selects which streams are read."""
    import json

    from go_integ_spark.__main__ import main

    runs = []
    handle = Engine.handle

    def spy(self, source, cmd, run, out):
        runs.append(run)
        return handle(self, source, cmd, run, out)

    monkeypatch.setattr(Engine, "handle", spy)
    since = "2022-03-10T00:00:00+00:00"
    rc = main(
        [
            "go_integ_spark.examples.connectors:shopify",
            "read",
            "--config",
            json.dumps({"url": server.base, "api_key": "sekret"}),
            "--state",
            json.dumps({"": {"To": since}}),
            "--catalog",
            json.dumps({"streams": [{"stream": {"name": "users"}}]}),
        ]
    )
    assert rc == 0
    (run,) = runs
    assert run.states == {"users": {"To": since}, "orders": {"To": since}}
    assert run.selected_streams == {"users"}
    msgs = [json.loads(x) for x in capsys.readouterr().out.splitlines()]
    recs = [m["record"] for m in msgs if m["type"] == "RECORD"]
    assert {r["stream"] for r in recs} == {"users"}
    assert len(recs) == sum(u["updated_at"] >= since for u in server.data["users"])
