"""marketing_etl_analytics_spark — a PySpark-native analytics engine.

A from-scratch Spark implementation of the query and data-processing
capabilities of the reference marketing-analytics warehouse
(``NontFakungkun/marketing-etl-analytics``: CSV -> staging -> star schema
-> KPI views -> 12 analytics queries), re-expressed as idiomatic
DataFrame / Spark SQL code, plus LLM-data-pipeline extensions (dedup,
similarity search, text analysis, multimodal columns, streaming)
designed for 100 TB scale.

Layout:
    session      SparkSession factory (UTC, AQE, sane shuffle config)
    schemas      explicit StructTypes for raw CSVs + warehouse tables
    sources      CSV reader, ACID table format, JDBC source/sink
    functions    scalar column builders (dates, text, KPIs, bands,
                 portable rounding)
    etl          star-schema build (staging -> dims -> facts)
    views        KPI view layer (channel_daily, kpi_channel, kpi_campaign)
    queries      the 12-query analytics library (marketing schema)
    suite        driver-facing query suite on the synthetic testdata,
                 each with a DuckDB oracle twin
    ext          dedup / similarity / text-analysis / multimodal
    streaming    Structured Streaming re-expression of the nightly batch
"""

__version__ = "0.1.0"
