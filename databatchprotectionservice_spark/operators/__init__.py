"""DataFrame-level operators.

``relational``   the declarative query suite (joins, aggregations,
                 windows, sorts/limits, set ops, scalar/JSON functions) —
                 everything Catalyst executes natively.
``protection``   protect/unprotect pipeline queries (the reference's
                 capability expressed over DataFrames).
``textops``      text analysis: token stats, quality scoring, language ID,
                 fingerprinting.
``dedup``        exact + MinHash-LSH + SimHash + n-gram-Jaccard dedup.
``similarity``   embedding similarity search (brute-force + LSH-bucketed).
``multimodal``   opaque binary columns with typed metadata and stubbed
                 decoders (Spark plumbing is real, codecs are stubs).
``ingest``       container-ingest + format-walk queries (WARC/tar/ZIP/
                 TFRecord/Avro/ORC/MessagePack/zstd/LZ4 walks, the
                 parquet footer/read/write trio, the lakehouse
                 transaction log), each registered with its DuckDB
                 oracle like every other module here.
"""
