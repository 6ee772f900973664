"""Spark 4 Python Data Source wrapping an HttpStream: paginated HTTP
extraction *inside executors*, registered via
``spark.dataSource.register`` and read with
``spark.read.format("http_stream")``.

This is the one Spark read path for connector streams (the Spark-
idiomatic answer to the reference's in-process runner loop,
proto.go:283-293):

- **No projection pushdown yet**: the reader forwards the fields of
  the schema it is handed into the HTTP query (``fields=``/``$select=``,
  the reference's P1, shopify.go:52, storm.go:47), but on Spark 4.1.2
  ``reader(schema)`` receives the stream's full schema whatever the
  query selects, so every request asks for every field and Spark drops
  the unselected columns after the read. ROADMAP item K makes the
  projection reach the request.
- **Distributed pagination**: for offset/limit APIs
  (OffsetLimitPaginator), N input partitions fetch interleaved
  offset strides (partition p takes offsets p, p+N, p+2N, ... pages)
  — pagination chains run in parallel across executors. Token/
  link-style paginations are inherently sequential, so they get one
  partition (the API, not Spark, is the bottleneck there).
- **One sync window per read**: the driver reads the clock once and
  every partition's cursor bounds, plus the returned state, come
  from that instant.
- The stream spec travels to executors by pickle (everything in
  sources/ is picklable by construction).

``Engine.read_dataframes`` reads every stream through this module.
"""

from __future__ import annotations

import base64
import datetime as dt
import functools
import json
import pickle
import weakref
from collections.abc import Iterator
from dataclasses import dataclass, replace

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from go_integ_spark.protocols.base import Clock, utc_now
from go_integ_spark.sources.http import OffsetLimitPaginator
from go_integ_spark.sources.source import HttpStream


@dataclass
class _StridePartition(InputPartition):
    index: int
    num: int


class HttpStreamDataSource(DataSource):
    """options:
    - ``spec``: base64(pickle(HttpStream))      [required]
    - ``config``: JSON connector config          [required]
    - ``now``: ISO instant closing the cursor window [required]
    - ``state``: JSON per-stream state           [optional]
    - ``num_partitions``: offset-stride fan-out  [optional, offset/limit only]
    """

    @classmethod
    def name(cls) -> str:
        return "http_stream"

    def _stream(self) -> HttpStream:
        return pickle.loads(base64.b64decode(self.options["spec"]))

    def schema(self):
        return self._stream().schema.struct

    def reader(self, schema) -> "HttpStreamReader":
        return HttpStreamReader(self._stream(), self.options, schema)


class HttpStreamReader(DataSourceReader):
    def __init__(self, stream: HttpStream, options, schema):
        self.stream = stream
        self.config = json.loads(options.get("config", "{}"))
        self.state = json.loads(options["state"]) if options.get("state") else None
        self.now = dt.datetime.fromisoformat(options["now"])
        self.num_partitions = int(options.get("num_partitions", "1"))
        self.transport = (
            pickle.loads(base64.b64decode(options["transport"]))
            if options.get("transport")
            else None
        )
        # Catalyst-pruned schema -> the projection pushed to the server.
        self.fields = [f.name for f in schema.fields]

    def partitions(self):
        if self.num_partitions > 1 and isinstance(
            self.stream.paginator(), OffsetLimitPaginator
        ):
            return [
                _StridePartition(i, self.num_partitions)
                for i in range(self.num_partitions)
            ]
        return [_StridePartition(0, 1)]

    def read(self, partition: _StridePartition) -> Iterator[tuple]:
        stream = self.stream
        if partition.num > 1:
            base = stream.paginator()
            stream = replace(
                stream,
                paginator=functools.partial(
                    OffsetLimitPaginator,
                    offset_param=base.offset_param,
                    limit_param=base.limit_param,
                    page_size=base.page_size,
                    start=partition.index * base.page_size,
                    stride=partition.num,
                ),
            )
        pages, _ = stream.read(
            self.config,
            self.state,
            transport=self.transport,
            clock=lambda: self.now,
            fields=self.fields,
        )
        names = self.fields
        for page in pages:
            for rec in page:
                yield tuple(rec.get(n) for n in names)


def _warmup_transport(req):
    """Canned empty page: the warmup read stops after one request per
    partition (module-level so it pickles to executors — a __main__
    function does not unpickle in pyspark.daemon workers)."""
    from go_integ_spark.sources.http import HttpResponse

    return HttpResponse(
        status=200,
        headers={"content-type": "application/json"},
        body=b'{"records": []}',
    )


def _warmup_paginator():
    return OffsetLimitPaginator(offset_param="start", limit_param="num", page_size=500)


def warmup_datasource(spark, num_partitions: int = 8) -> None:
    """One empty N-partition Python DataSource read of one of two
    columns: spins up the DataSource planning + worker path, column
    pruning included, so its one-time cost is not billed to whichever
    connector query runs first — the same treatment bench.py gives the
    pandas-UDF worker pool; the CDS training run calls it too. A cold read
    starts three Python daemons in sequence (lookup_data_sources ->
    create_data_source -> plan_data_source_read); importing pyspark
    from the shadow home's bytecode directory (session.py) cuts a fresh
    interpreter's pyspark imports from 1.27 s to 0.37 s."""
    from go_integ_spark.schema.stream import StreamSchema

    warm_stream = HttpStream(
        schema=StreamSchema.from_ddl("warm", "id bigint, name string"),
        path="/warm",
        record_path="records",
        paginator=_warmup_paginator,
    )
    df, _ = stream_dataframe(
        spark,
        warm_stream,
        {"url": "http://warmup.invalid"},
        None,
        transport=_warmup_transport,
        num_partitions=num_partitions,
    )
    df.select("id").write.format("noop").mode("overwrite").save()


# Sessions HttpStreamDataSource is registered in. Registering again
# costs a JVM round trip and logs a "replaced a previously registered
# data source" warning.
_registered: weakref.WeakSet = weakref.WeakSet()


def stream_dataframe(
    spark,
    stream: HttpStream,
    config: dict,
    state,
    transport=None,
    num_partitions: int = 1,
    clock: Clock = utc_now,
):
    """Register + read an HttpStream as a DataFrame via the Python
    DataSource. Returns (df, new_state). The clock is read once, here:
    every partition's cursor window and new_state end at that instant,
    however late the frame's action runs.

    ``transport`` (stub, auth-wrapping, throttled client) is pickled
    into the DataSource options so executors actually use it; a
    non-picklable transport raises here rather than being silently
    swapped for the default urllib transport mid-read.
    """
    if spark not in _registered:
        spark.dataSource.register(HttpStreamDataSource)
        _registered.add(spark)
    transport_opt = None
    if transport is not None:
        try:
            transport_opt = base64.b64encode(pickle.dumps(transport)).decode()
        except Exception as ex:
            raise ValueError(
                "distributed read requires a picklable transport (or None "
                "for the default urllib transport); got "
                f"{type(transport).__name__}: {ex}"
            ) from ex
    now = clock()
    new_state = stream.cursor.new_state(now) if stream.cursor is not None else None
    reader = (
        spark.read.format("http_stream")
        .option("spec", base64.b64encode(pickle.dumps(stream)).decode())
        .option("config", json.dumps(config))
        .option("now", now.isoformat())
        .option("num_partitions", str(num_partitions))
    )
    if state is not None:
        reader = reader.option("state", json.dumps(state))
    if transport_opt is not None:
        reader = reader.option("transport", transport_opt)
    return reader.schema(stream.schema.struct).load(), new_state
