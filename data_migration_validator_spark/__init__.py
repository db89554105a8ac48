"""data_migration_validator_spark — a PySpark-native CDC ingest-and-validate engine.

Built from scratch (NOT a port) with the query and data-processing capabilities
of the public ``nayeemuddinmoin-db/data_migration_validator`` reference
(see SURVEY.md).  Everything here is plain PySpark DataFrame/SQL: Catalyst
optimizes the plans; the only Python execution is Arrow-vectorized pandas UDFs.

Modules
-------
- ``session``     SparkSession factory tuned for the sandbox (local[N]) and scale.
- ``lake``        from-scratch lake-table format: manifest JSON + bucketed parquet,
                  copy-on-write MERGE, column-id schema evolution, snapshots,
                  per-snapshot applied-batch set (the Iceberg-shaped
                  substrate; no external jars).
- ``cdc``         deterministic change-event generator, last-writer-wins batch
                  applier with salted repartitioning, replay loop with
                  exactly-once batch commits and lineage metrics.
- ``streaming``   Structured Streaming wrapper (readStream → foreachBatch →
                  idempotent sink) with checkpoint resume.
- ``validation``  reference-faithful comparison suite: sha256 digest reconcile,
                  full-outer per-column metrics, anti-join extras, EXCEPT ALL
                  row mismatches, PK validation, windowed validation, schema
                  compare + widen-only compatibility lattice, summary statuses.
- ``functions``   digest / text expression helpers (JVM-side first, pandas UDF
                  where required).
- ``operators``   large-scale training-data pipeline ops: exact/MinHash/SimHash
                  dedup, ANN similarity, text analysis, multimodal plumbing.
"""

__version__ = "0.1.0"
