"""sciencebeam_parser_spark — a PySpark-native analytics engine with the
query and data-processing capabilities of elifesciences/sciencebeam-parser.

The reference (read-only at /root/reference) is a single-node Python document
dataflow engine (PDF → layout tree → semantic tree → TEI XML). This package
re-expresses every reference operator as idiomatic Spark: DataFrame/SQL
transformations compiled by Catalyst, with pandas UDFs only where built-in
operators cannot express the semantics (model inference, XML build).

Layout:
    session     — SparkSession factory tuned for local[] test / cluster use
    pydaemon    — Python worker daemon entry (get_spark selects it)
    schemas     — explicit StructTypes for the core relations (tokens, labels,
                  graphics, entities) per SURVEY.md §1.2 / FIXTURES.md
    sources     — ingest: ALTO XML → token table, binary files, text
    operators   — dataflow operators (BIO grouping, features, matching,
                  dedup, similarity, text analysis, ...)
    functions   — scalar parsers as column expressions (page ranges, DOIs...)
    plans       — the cascade driver (reference FullTextProcessor analog)
    streaming   — Structured Streaming operators over event streams
    queries     — the registered relational query surface (Spark + oracle SQL)
    sinks       — TEI/JATS/text sinks
"""

__version__ = "0.1.0"
