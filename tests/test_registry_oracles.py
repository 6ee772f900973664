"""No two registered ops check the same result. An op whose oracle SQL
equals another op's computes a result the registry already has; such a
pair stays only when each side does work the other does not, and says
which on the list below."""

from __future__ import annotations

from go_integ_spark.registry import load_all

SHARED_ORACLE = {
    ("agg_histogram", "streaming_histogram"): "the twin runs the Structured Streaming state store",
    ("events_anomaly_mad", "streaming_anomaly_mad"): "the twin runs the Structured Streaming state store",
    ("events_changepoint_cusum", "streaming_changepoint_cusum"): "the twin runs the Structured Streaming state store",
    ("streaming_chunk_manifest", "text_chunk_overlap"): "the twin runs the Structured Streaming state store",
    ("dedup_minhash_lsh", "dedup_ngram_jaccard"): "LSH candidates versus the exact join; both are benchmark ops",
}


def test_no_two_ops_share_an_oracle_unless_listed():
    by_sql: dict[str, list[str]] = {}
    for name, spec in sorted(load_all().items()):
        if spec.oracle is not None:
            by_sql.setdefault(" ".join(spec.oracle.split()), []).append(name)
    shared = {tuple(names) for names in by_sql.values() if len(names) > 1}
    assert shared == set(SHARED_ORACLE), shared ^ set(SHARED_ORACLE)


def test_coverage_index_lists_the_registry():
    """COVERAGE.md's appendix table (``| `name` | tags | oracle |``)
    lists exactly the registered ops, each with its registered tags."""
    import pathlib

    text = (pathlib.Path(__file__).parents[1] / "COVERAGE.md").read_text()
    appendix = text.split("## Appendix: full registry index", 1)[1]
    listed = {}
    for line in appendix.splitlines():
        if line.startswith("| `"):
            name, tags = (c.strip() for c in line.strip("|").split("|")[:2])
            listed[name.strip("`")] = tags
    registered = {name: ", ".join(spec.tags) for name, spec in load_all().items()}
    missing = sorted(registered.keys() - listed.keys())
    stale = sorted(listed.keys() - registered.keys())
    wrong_tags = sorted(
        n for n in registered.keys() & listed.keys() if registered[n] != listed[n]
    )
    assert (missing, stale, wrong_tags) == ([], [], [])
