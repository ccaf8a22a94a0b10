"""document_retrieval_spark — a PySpark-native full-text retrieval engine.

Brand-new engine (NOT a port) with the query/data-processing capabilities of
the reference document-retrieval system (Harkeerat2002/document-retrieval):
distributed inverted-index construction over transcript tables, BM25 and
TF-IDF-cosine top-k retrieval, expressed Spark-first (DataFrame/SQL +
vectorized Arrow/pandas UDFs only in the genuinely custom spots: the
delta+varbyte posting codec and the block-max WAND scorer).

Layout
------
- ``config``     : TokenizerConfig / BM25Config / IndexConfig (shared by engine + oracle)
- ``fixtures``   : deterministic synthetic transcripts + query sets (seeded; no external data)
- ``oracle``     : pure-NumPy reference oracle (BM25 variant 1, cosine) for rank-identity tests
- ``functions``  : text pipeline (tokenize, stopwords, quality, lang-id, fingerprints)
- ``operators``  : doc assembly, stats, postings, top-k, dedup, dense-vector
                   similarity (brute-force and IVF cosine top-k, embedding near-dups)
- ``index``      : resumable index build pipeline (checkpoints, lineage, metrics)
- ``query``      : exhaustive join scorer, block-max WAND scorer, cosine scorer, IR metrics
- ``sources``    : table IO (Iceberg if jars present, partitioned parquet fallback)
- ``streaming``  : structured-streaming ingest of transcript turns
- ``session``    : get_spark, the local session builder (worker daemon in
                   ``_worker_daemon``, JIT thresholds)
"""

__version__ = "0.1.0"
