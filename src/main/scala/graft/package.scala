/** graft — a Spark-native analytics engine with the query and
  * data-processing capabilities of Samsung/spark-cep, rebuilt on Spark 4
  * (DataFrames + Catalyst + Structured Streaming) and extended with
  * LLM-training-pipeline operators.
  *
  * Map of the library (see MIGRATION.md for the reference-API mapping,
  * SCALE.md for 100 TB behavior, VERIFICATION.md for claims→evidence):
  *
  *  - [[graft.SparkEntry]] / [[graft.Verify]] / [[graft.Bench]] — the
  *    driver contract: 56 declared queries (53 DuckDB-oracle-checked),
  *    the correctness dump, and the benchmark main.
  *  - [[graft.GraftSession]] — one call to expose everything through
  *    `spark.sql`; [[graft.Tables]] — the shared loader (owns the
  *    TIMESTAMP(NANOS) → micros fix).
  *  - `graft.queries` — the declared query catalog by tier (Core /
  *    Relational / Cep / TextOps / VectorOps).
  *  - `graft.streaming` — StreamOps windows/joins/dedup; ChainEngine, the
  *    one flatMapGroupsWithState engine for every unquantified MATCH
  *    PATTERN chain (sequences, N-step chains, optional steps, absence,
  *    MEASURES), beside the quantified/skip/permute/overlap detectors;
  *    CepSequenceTws (transformWithState + event-time timers);
  *    ContinuousQueries runtime management, RocksDB StreamingConf.
  *  - `graft.operators` — TemporalJoins (interval/as-of), Dedup
  *    (exact/shingles/MinHash-LSH/verifyJaccard/simhash), Components
  *    (duplicate resolution), Similarity (topK/nearDupPairs/IVF/LSH),
  *    Panes (incremental sliding aggregation), Skew (salting).
  *  - `graft.functions` — codegen vector kernels (cosine_sim,
  *    dot_product, l2_distance), MinHashAgg typed aggregator.
  *  - `graft.plans` — SparkSessionExtensions wiring + optimizer rules.
  *  - `graft.sources` — file/rate/socket/Kafka stream sources and sinks.
  *  - `graft.multimodal` — binary-payload plumbing with stubbed codecs.
  */
package object graft
