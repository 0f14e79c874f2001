"""sdc_mapreduce_spark — a PySpark-native analytics engine.

A brand-new engine with the query and data-processing capabilities of the
reference MapReduce framework (srics96/SDC_Mapreduce, surveyed in SURVEY.md),
re-expressed Spark-first:

- the reference's entire dataflow surface (scan, shard, map, hash shuffle,
  partial+final aggregation, per-partition sorted sinks, subprocess user code
  — SURVEY.md §2 O1-O19) as DataFrame compositions;
- the full relational layer the reference lacks (joins, window functions,
  rollup/cube, set ops, top-k, scalar functions — SURVEY.md §2.2);
- Structured Streaming over event data (windows, watermarks, stateful dedup);
- large-scale training-data-pipeline operators: deduplication (exact,
  MinHash-LSH, SimHash, n-gram Jaccard, embedding cosine), similarity search,
  text analysis, multimodal binary-column plumbing.

Everything is declared through the DataFrame API so Catalyst/Tungsten pick the
physical strategy; Python UDFs appear only where built-ins genuinely cannot
express the semantics, and then only as Arrow-batched pandas UDFs.
"""

__version__ = "0.1.0"
