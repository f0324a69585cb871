"""databatchprotectionservice_spark — a PySpark-native column-protection
and large-scale data-pipeline engine.

A ground-up rebuild, on Apache Spark, of the data-processing capabilities of
the reference C++ service ``protegrity/DataBatchProtectionService`` (a
column-batch encrypt/decrypt HTTP service; see ``SURVEY.md``), extended with
the operators a 100 TB LLM-training-data pipeline needs: deduplication,
similarity search, multimodal (binary) columns, and text analysis.

Layout
------
``core/``       codec/crypto library (no Spark) over numpy and a required C
                helper: keystream, ciphertext wire format, compression,
                page-level sequencer.
``agent``       the ``ProtectionAgent`` API mirroring the reference's
                ``DataBatchProtectionAgentInterface`` contract.
``functions/``  Spark column functions: protect/unprotect pandas UDFs, text
                analysis, vector math (built-in-function compositions).
``operators/``  DataFrame-level operators: relational query suite, dedup
                (exact / MinHash-LSH / SimHash / n-gram Jaccard / embedding),
                similarity search (brute-force + LSH-bucketed ANN),
                multimodal column plumbing.
``sources/``    the protected-dataset sink and sources (``write_protected``,
                ``read_protected``, the ``dbps_protected`` data source), plus
                the test-dataset catalog, bucketing and compaction.
``plans/``      SparkSession construction tuned for scale + plan inspection
                helpers.
``streaming/``  Structured Streaming protect pipeline + windowed aggregation.

Importing the package inside a Spark Python worker freezes the importers of
Spark's own archives, so later tasks skip re-reading their zip directories
(``sparkpath``).
"""

from .sparkpath import freeze_spark_archives

__version__ = "0.1.0"

freeze_spark_archives()
