"""amharic_ecommerce_data_extractor_spark — a from-scratch, PySpark-native
knowledge-graph construction engine with the query/data-processing
capabilities of the reference repo michaWorku/amharic-ecommerce-data-extractor.

Layout
------
kernels/    exact-semantics Python ports of the reference's text pipeline
            (run per distinct text inside the Arrow-batched extract UDF AND
            as the pinned parity oracle for tests)
functions/  pure Spark Column-expression fast paths (JVM / whole-stage codegen)
operators/  extraction, triple emission, MinHash-LSH entity linking, connected
            components, vendor scorecard, dedup suite, similarity search, EDA
sources/    CoNLL distributed reader/writer, CSV/ZIP ingest, checkpointing
plans/      end-to-end pipeline orchestration (stages, lineage, resume)
streaming/  Structured Streaming variants
data/       deterministic synthetic fixture generator (seed=42)
"""

__version__ = "0.1.0"
