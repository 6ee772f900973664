"""go_integ_spark — a PySpark-native data-integration + analytics engine.

Re-expresses the capability surface of the reference connector
framework (ajzo90/go-integ, see SURVEY.md) idiomatically on Spark:

- ``schema``     declarative stream schemas -> StructType + key metadata
                 (reference: schema.go:5-105)
- ``sources``    paginated HTTP extraction, auth, retry, pushdown
                 (reference: frontend.go, integrations/*)
- ``protocols``  Airbyte / Singer NDJSON message encoders
                 (reference: pkg/airbyte, pkg/singer)
- ``engine``     spec/check/discover/read lifecycle + state management
                 (reference: proto.go, sourcedef.go)
- ``operators``  analytics layer: relational queries, dedup, similarity
                 search, text analysis (no counterpart in the
                 reference; Spark-first designs)
- ``streaming``  Structured Streaming incremental sync analogues

Everything is DataFrame-declarative so Catalyst handles pushdown,
pruning, join strategy, and AQE handles skew/coalescing at scale.
"""

__version__ = "0.1.0"
