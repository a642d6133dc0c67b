"""sketchlib — a PySpark-native distributed sketch / approximate-aggregation
library (brand-new, Spark-first; capabilities of f0t1h/bloomfilter
generalized to Bloom / HLL / count-min / KLL / t-digest per BASELINE.json).

Layers:
  sketchlib.hashing   — the XXH64 key-hash domain (= Spark xxhash64) +
                        derived families
  sketchlib.params    — sizing math (standard Bloom formula)
  sketchlib.sketch    — the five mergeable sketch kernels (pure numpy)
  sketchlib.agg       — the Spark aggregation engine (partials -> tree merge)
  sketchlib.textops   — tokenize / shingles / langid / quality / fingerprints
  sketchlib.dedup     — exact + MinHash-LSH + SimHash near-dup
  sketchlib.similarity— cosine top-k ANN (brute force + IVF)
  sketchlib.synth     — deterministic Common-Crawl-style table generator
  sketchlib.extract   — deterministic html -> text extraction
  sketchlib.checkpoint— resumable per-shard sketch builds + lineage
"""

import sys

__version__ = "0.1.0"

if "pyspark.worker" in sys.modules:  # only inside a PySpark Python worker
    from sketchlib import _worker

    _worker.install()
