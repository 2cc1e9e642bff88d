"""Training-data pipeline operators over document/embedding tables.

Spark-first: relational work (filters, joins, group-bys, shuffles) uses
built-in ``pyspark.sql.functions`` and stays JVM-side (whole-stage codegen).
The exception is per-element array work, which Spark can only express as
higher-order functions (``transform``/``array_min`` lambdas) that run
interpreted, not codegen'd: the 16 minhash signature expressions built that
way measured 18.4 s over 600k docs at local[32], ~30× the raw hash cost,
where the Arrow kernel computes signatures and band keys in under 2 s.  Such
work — shingle/minhash/bands, bucket pair emission, simhash bit
accumulation, rolling fingerprints — runs in Arrow-vectorized numpy kernels
(``mapInArrow``) over whole batches: the same no-per-row-Python rule as the
encode engine.
"""
