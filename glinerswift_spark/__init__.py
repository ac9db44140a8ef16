"""glinerswift_spark — a from-scratch PySpark-native knowledge-graph
construction engine with the query/data-processing capabilities of
thomasaiwilcox/GLiNERSwift (reference at /root/reference, read-only).

The reference is a Swift/Core ML on-device GLiNER2 zero-shot NER runtime
(one document at a time). This package re-expresses the same dataflow —
prompt-conditioned span scoring -> sigmoid threshold -> greedy NMS ->
char-offset entities — as cluster-scale batched Spark operators
(mapInPandas inference, DataFrame relational glue), and extends it per
the north rule with relation templating, MinHash-LSH entity linking,
connected-components canonicalization, and graph materialization.

Layout
------
config.py            Configuration defaults (ref: Models/Configuration.swift:45-65)
schema.py            Schema/extraction-request builder (ref: API/Schema.swift)
functions/           pure text/vector/hash functions (word split, chunker, minhash)
scoring/             span enumeration + scoring backends + greedy decode
operators/           Spark DataFrame operators (extract, dedup, linking, cc, ...)
sources/             readers/writers (pages table, JSONL fixtures, graph sinks)
plans/               end-to-end composed pipelines (flagship KG construction)
"""

__version__ = "0.1.0"
