"""pimbloomfilters_spark — a brand-new PySpark-native distributed sketch library.

Re-expresses the query semantics of BioPIM/PimBloomFilters (a C++ UPMEM-PIM
blocked Bloom filter library, see /root/reference) as mergeable,
partition-parallel sketches built with vectorized pandas/Arrow UDFs on top of
the public PySpark DataFrame API:

- ``sketches``   — numpy sketch cores: blocked Bloom, HyperLogLog,
                   count-min, KLL quantiles. build → merge → query → (de)serialize.
                   Bloom insert/probe run a fused C kernel, numpy as fallback.
- ``operators``  — Spark-side build (mapInPandas partials + associative merge),
                   probe (broadcast + pandas_udf), checkpoint/resume, salting.
- ``sources``    — testdata loaders, deterministic token-table derivation and
                   synthetic generator (seeded; no wall clock).
- ``functions``  — training-data pipeline ops: dedup (exact/minhash/simhash/
                   ngram-jaccard/embedding), similarity search, text analysis,
                   multimodal column plumbing.
- ``streaming``  — Structured Streaming sketch maintenance.
- ``plans``      — the named query catalog exposed through __spark_entry__.

Everything here derives from public knowledge only: the Apache Spark API, the
reference repo's observable behavior, and published sketch papers.
"""

__version__ = "0.4.0"

from ._worker import install_zip_cache_guard

install_zip_cache_guard()
