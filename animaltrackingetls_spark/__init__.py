"""animaltrackingetls_spark — a PySpark-native analytics engine.

A brand-new, Spark-first implementation of the query and data-processing
capabilities of the reference ETL system (conrad1451/animaltrackingetls,
studied read-only at /root/reference). Everything here is expressed with
the public PySpark DataFrame / SQL / Structured Streaming API so Catalyst
and Tungsten plan the physical execution; there is no translation of the
reference's pandas code paths.

Layout:
    session      SparkSession factory (UTC, AQE, Arrow).
    schema       Canonical 35-column occurrence schema + align helpers.
    functions/   Scalar expression library (date rescue, parsing, coercion).
    cleaning     Clean/reject two-branch DAG (the reference's cleaning kernel).
    pipeline     The §3.1 flagship lifecycle composed end-to-end
                 (extract → clean → enrich → load → register → rejects).
    enrichment   Geocode enrichment as broadcast join / mapInPandas.
    inventory    Load-catalog upsert (MERGE-style), table naming, date
                 helpers, and the versioned-table layer (snapshot-atomic
                 upserts, deletes, time travel).
    filestats    Per-file column statistics of versioned snapshots
                 (data skipping, churn pruning).
    serving      Dynamic serving filters, date match, JSON edge sink.
    serving_http HTTP sightings endpoint over the serving filters.
    io           Parquet/JDBC/CSV readers and writers (incl. nanos rescue).
    operators/   Relational + LLM-data-pipeline operators (dedup,
                 similarity search, text analysis, as-of/range joins,
                 snapshot diff / SCD2, multimodal plumbing); each module
                 is imported on its own.
    sources/     Paginated REST DataSource (partition-per-page, pushdown).
    streaming/   Structured Streaming jobs (windowed aggs, watermarks).
    plans/       Plan inspection helpers (explain auditing).
"""

__version__ = "0.1.0"
