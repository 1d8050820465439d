"""PySpark-native analytics engine with the query and data-processing
capabilities of aws-samples/aws-kinesis-data-streams-replicator.

The reference is a cross-region Kinesis CDC replicator (one Java Lambda,
``KinesisReplicatorFunction/src/main/java/consumer/Handler.java``).  This
package re-expresses its entire dataflow surface — stream-name extraction,
payload decode, JSON probe, active-region gating, ordered replication,
keyed-checkpoint upsert, partial-batch retry semantics, batch metrics —
as idiomatic Spark DataFrame / Structured Streaming plans, and extends it
with the LLM-data-pipeline operators (dedup, similarity search, text
analysis, multimodal columns, event-time windows) that a 100 TB training
pipeline needs.

Layout:
    session     SparkSession factory tuned for the local[N] test rig
    sources     parquet table loaders + Kinesis-envelope simulator
    functions   column-expression helpers (ARN parse, JSON, hashing, vectors)
    operators   the operator library (replication, dedup, similarity, text,
                windows, multimodal)
    plans       named query registry + DuckDB oracle SQL (correctness gate)
    streaming   Structured Streaming wrap: sources, foreachBatch sinks,
                per-batch metrics
"""

__version__ = "0.1.0"
