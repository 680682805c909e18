"""easyner_spark — a from-scratch PySpark-native knowledge-graph
construction engine with the query/data-processing capabilities of
Aitslab/EasyNER (reference studied at /root/reference, snapshot
2026-03-27).

NOT a port: the reference is a sequential file-pipeline of Python dict
loops; this package re-expresses every stage as a lazy Spark DataFrame
DAG (scan -> extract -> split -> NER -> NEL -> canonicalize -> triples
-> aggregate) with vectorized pandas/Arrow UDFs for the two genuinely
non-relational steps (sentence splitting, gazetteer matching) and
built-in Catalyst operators for everything else.

Layout:
    session      SparkSession builder tuned for local[N] test mode
    textops      pure deterministic text functions shared by Spark UDFs
                 and the pure-Python oracle (parity by construction)
    corpus       deterministic synthetic Common-Crawl-style page corpus
    stages/      the KG pipeline stages (extract, split, ner, nel,
                 analysis, triples, canonical, merge)
    ops/         training-data-pipeline operators (dedup, similarity,
                 text quality, multimodal plumbing)
    io/          Iceberg-style partitioned-parquet catalog with
                 per-partition commit manifests (checkpoint/resume)
    streaming/   Structured Streaming incremental ingest
    oracle/      pure-Python reference-semantics oracle for P/R tests
"""

__version__ = "0.2.0"
