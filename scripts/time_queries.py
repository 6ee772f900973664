"""Time every registered query (warm session) and print a JSON cost
map — the source of __spark_entry__._MEASURED_COST, which orders the
driver's correctness-gate sweep cheapest-first.

Usage: python scripts/time_queries.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    import __spark_entry__ as entry
    from go_integ_spark.session import get_spark

    spark = get_spark(master="local[8]", shuffle_partitions=8)
    # Throwaway warm-up: the first job in a session absorbs ~5 s of
    # executor/codegen start-up that would otherwise be billed to
    # whichever query happens to run first.
    entry.entry(spark).count()
    times: dict[str, object] = {}
    # Build the streaming gate queries' ONE-TIME stream-source parquet
    # writes and the two cached_persist artifacts many queries share
    # (the shingle-set cache, the verified LSH pair frame) before any
    # query is timed: whichever consumer ran first used to absorb the
    # whole build — streaming_srp_registry's 4.85 s cost-map entry was
    # 3.1 s of one-time embeddings stream-source write over a 1.7 s
    # warm query (VERDICT r7 item 4). The map holds registered queries
    # only.
    from go_integ_spark.operators.dedup import _cached_doc_sets, dedup_minhash_lsh
    from go_integ_spark.streaming import queries as sq
    from go_integ_spark.tables import load_table

    for builder in (sq._events_stream_source, sq._docs_stream_source, sq._emb_stream_source):
        builder(spark, sf_dir)
    _cached_doc_sets(load_table(spark, sf_dir, "documents")).count()
    dedup_minhash_lsh(spark, sf_dir).count()
    for name, fn in entry.queries().items():
        t0 = time.time()
        try:
            fn(spark, sf_dir).count()
            times[name] = round(time.time() - t0, 2)
        except Exception as ex:  # noqa: BLE001 - report, keep timing
            times[name] = f"ERR {ex}"
    print(json.dumps(times, indent=1))


if __name__ == "__main__":
    main()
