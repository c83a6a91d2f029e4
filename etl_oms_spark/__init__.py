"""etl_oms_spark — a PySpark-native analytics/ETL engine.

A from-scratch, Spark-first re-expression of the query and data-processing
capabilities of the reference project EliasGhennam/ETL_OMS (a pandas epidemic
ETL: heterogeneous CSV/JSON → long-format facts / star schema / Postgres
upsert warehouse), extended with the operators a large-scale training-data
pipeline needs (dedup, similarity search, multimodal columns, text analysis).

Everything is declared through the DataFrame API so Catalyst/Tungsten pick
the physical plan: predicate pushdown, column pruning, broadcast joins,
whole-stage codegen, AQE. Python UDFs are avoided on the hot path; where
Python is unavoidable (embeddings, multimodal decode) we use Arrow-batched
pandas UDFs / mapInPandas.

Module map
----------
- session        SparkSession factory with scale-aware defaults
- schema         canonical schemas, synonym maps, unit/disease maps
- reconcile      schema reconciliation (normalize/rename/complete/tag)
- transform      tolerant casts, date filters, lag-diff derivation, guards
- reshape        unpivot (melt) / pivot
- star           dimension + fact builders (star schema)
- merge          upsert/merge semantics (keep-last dedup, full-outer merge)
- sources.readers   CSV/JSON/parquet/directory scans, JDBC dim reads
- sources.writers   CSV/JSON sinks, bucketed tables, JSONL shard export,
                    JDBC staging+upsert sink
- operators.dedup        exact / minhash-LSH / simhash / n-gram-jaccard /
                         containment dedup; PPJoin prefix-filter join,
                         bloom decontamination, substring spans + repair
- operators.similarity   cosine top-k, LSH ANN, IVF ANN, embedding near-dup
- operators.text         language-ID, quality score/filter, token counts,
                         fingerprints
- operators.multimodal   binary media columns: schema + mapInPandas plumbing
- operators.llm          LLMClient seam, Arrow-batched inference column
- operators.stateful     sessionization, grouped-map EMA
- operators.temporal     as-of join, range join
- operators.rollup       hierarchical continuous time rollups
- operators.graph        connected components, transitive dedup closure,
                         k-core peeling, multi-source BFS
- operators.sampling     hash-stable sampling / train-test splits
- sources.merge_table    partition-pruned parquet MERGE, CDC merge,
                         aggregate refresh
- streaming.events       windows/watermarks, dedup-within-watermark,
                         foreachBatch merge
- streaming.joins        stream-stream interval join (batch-twin exact)
- catalog                temp-view registration + SQL surface
- util                   parallelism guard, salted join, plan introspection
- plans.pipelines        EP1/EP2/EP3-equivalent reference pipelines
- plans.training_pipeline  end-to-end training-data curation
"""

__version__ = "0.1.0"
