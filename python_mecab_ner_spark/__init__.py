"""PySpark-native knowledge-graph construction engine.

A from-scratch re-expression of the query/data-processing capabilities
of the reference library (YoungchanChang/python-mecab-ner) as an
idiomatic Spark pipeline: vectorized tokenization, broadcast gazetteer
mention detection, triple extraction, entity linking, MinHash-LSH
canonicalization, salted graph materialization, plus the training-data
operators (dedup, ANN, text analysis) a 100 TB corpus pipeline needs.

Layout:
    kernel/     pure-Python deterministic semantics (tokenizer, matcher,
                jamo, restore) shared by the pandas UDFs and the single
                process "pyref" oracle used for P/R scoring.
    sources/    corpus synthesis, gazetteer ingest, table catalog.
    functions/  reusable Column helpers (portable hashing, text stats,
                similarity).
    operators/  Spark DataFrame operators: the KG path (annotate,
                linking, canonicalize, graph) plus the driver-contract
                families (dedup, ann, spans, retrieval, sampling, ...).
    plans/      end-to-end pipeline orchestration, lineage + resume.
    streaming/  the Structured-Streaming ingest query (pages -> triples,
                exactly once per input file via its checkpoint).
"""

__version__ = "0.1.0"
