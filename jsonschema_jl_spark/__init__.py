"""PySpark-native validation-gated near-duplicate detection engine.

A brand-new engine (NOT a port) with the query/validation capabilities of
fredo-dedup/JSONSchema.jl (reference at /root/reference, v1.5.0) re-expressed
Spark-first, plus the north-rule dedup pipeline: a JSONSchema-style vectorized
validation gate feeding MinHash/LSH caption dedup, SimHash/Hamming phash
dedup, substring containment, and iterative connected components.

Layout:
  gate/       JSON-Schema Draft 4/6/7 compiler + validator (native Column
              fast path + Arrow pandas-UDF dynamic backend)
  operators/  dedup dataflow operators (shingle, minhash, lsh, verify,
              phash, substring, components, textops, similarity)
  datagen/    deterministic synthetic `images` table (input_hint shape)
  io/         table read/write + checkpoint/resume manifests
  zipcache    per-worker zip-directory reuse across pyspark tasks
"""

from . import zipcache

zipcache.install()

__version__ = "0.1.0"
