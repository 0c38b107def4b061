"""trafficteach_spark — a PySpark-native analytics engine.

A from-scratch rebuild of the query and data-processing capabilities of
the reference traffic-checkpoint analytics system (ABigdataer/TrafficTeach,
see SURVEY.md) as a library of composable, declarative DataFrame operators:

- every operator is a pure function ``(spark, sf_dir) -> DataFrame``;
- plans stay in DataFrame/Catalyst land end-to-end (no RDDs, no
  driver-side loops), so predicate pushdown, column pruning, partial
  aggregation, broadcast selection and AQE all apply for free;
- each query ships with an ANSI-SQL oracle (DuckDB-runnable) used by the
  correctness harness;
- designed for 100 TB scale: date-partition-friendly filters, broadcast
  hints for small dims, bucketized interval joins, LSH-banded near-dup,
  approx-distinct variants.

Package layout (SURVEY.md §8):
    session.py    SparkSession builder with scale-ready defaults + cache_scope
    schemas.py    single source of truth for table schemas
    sources/      parquet/JDBC/JSONL/CSV loaders, sinks, bucketed layout
    operators/    the query library (relational, windows, sequences, llm, ...)
    functions/    reusable column-expression helpers
    streaming/    Structured Streaming twins of the batch aggregations
    registry.py   query-key -> (fn, oracle SQL) registry for the harness
(plan inspection / shuffle audit tooling lives in tools/plan_audit.py
at the repo root, alongside tools/parity.py)

Reusable library entry points beyond the registered queries
(each tested in tests/, with its scale contract in the docstring):
    operators.sequences.asof_join        backward/forward as-of + tolerance
    operators.sequences.funnel           parameterized ordered-step funnel
    operators.timeseries.range_join      bucketized point-in-interval join
    operators.skew.salted_join           deterministic-salt skew escape hatch
    operators.skew.salted_distinct_count two-stage distinct under skew
    operators.analytics.merge_upsert     SCD1 MERGE semantics
    operators.analytics.feature_bins     equi-depth binning (sketch default)
    operators.llm.dedup.*                shingles/minhash/simhash/clusters
    operators.llm.similarity.kmeans_train / knn variants
    operators.llm.corpus.bpe_train / bpe_encode
    operators.llm.multimodal.image_features (+ BMP/PPM/PNG stdlib decoders)
    streaming.rollup.start_incremental_rollup  idempotent foreachBatch merge
    streaming.demo.stream_session_windows / stream_dedup_events
"""

__version__ = "0.1.0"
