"""fever_spark — a from-scratch PySpark-native sketch / approximate-aggregation
engine with the query and data-processing capabilities of DCSO/fever.

Everything here is built on public knowledge only: the Apache Spark / PySpark
API, the published sketch literature (Flajolet et al. HyperLogLog, Cormode &
Muthukrishnan count-min, Karnin-Lang-Liberty KLL, Dunning t-digest, Bloom
1970), and the behavior of the reference repo at /root/reference (DCSO/fever).

Layout
------
- ``fever_spark.sketch``     pure numpy sketch kernels (no Spark deps)
- ``fever_spark.ops``        Spark build / two-level merge / estimate / bloom match
- ``fever_spark.operators``  fever aggregator & filter parity, dedup, ANN
- ``fever_spark.functions``  text analysis, URL canonicalization
- ``fever_spark.sources``    synthetic pages generator, Iceberg-or-parquet IO
- ``fever_spark.streaming``  Structured Streaming sketch builds
- ``fever_spark.jobs``       checkpoint / lineage / resume pipeline
"""

__version__ = "0.1.0"
