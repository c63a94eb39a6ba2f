"""acuvate_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the query and data-processing
capabilities of the reference system (KondaReddy-DataEngineer/Acuvate,
a Flask tag-registry / P&ID digitization backend — see SURVEY.md) as an
idiomatic Spark DataFrame/SQL engine, plus the large-scale
training-data-pipeline operators (dedup, similarity search, text
analysis, multimodal plumbing) such an engine needs at 100 TB scale.

Layout:
    session.py    — SparkSession bootstrap + driver-session compatibility tuning
    pydaemon.py   — Python worker daemon that keeps zip importers' directories
    tables.py     — canonical loaders for the synthetic test tables
    functions/    — column-expression libraries (tag grammar, text, vectors)
    operators/    — reusable DataFrame->DataFrame operators (joins, dedup, graph...)
    queries/      — the named query registry: each entry is a (spark, sf_dir) ->
                    DataFrame callable paired with an ANSI-SQL DuckDB oracle
    streaming/    — Structured Streaming analogues of the reference's blob loop
"""

__version__ = "0.1.0"
