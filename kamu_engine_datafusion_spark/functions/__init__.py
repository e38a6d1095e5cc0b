"""Column-expression helpers (hashing, shingles, vector math) and the
Arrow twin of the MinHash pipeline.

Everything in ``columns.py`` returns Spark ``Column`` expressions built
from ``pyspark.sql.functions`` so they stay JVM-side / codegen'd;
``arrow_hash.py`` computes the same MinHash signatures in numpy inside
an Arrow-batched pandas UDF.
"""
