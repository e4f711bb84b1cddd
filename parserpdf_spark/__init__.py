"""parserpdf_spark — a PySpark-native main-content extraction engine.

A from-scratch reimplementation of the *capabilities* of the reference
repo ``semmyk-research/parserPDF`` (a Gradio batch PDF/HTML→markdown
converter), re-expressed as an idiomatic Spark dataflow over an
interleaved-documents table::

    docs(doc_id string,
         spans  array<struct<kind string, text string,
                             media_ref string, offset int>>)

The engine's layers:

- :mod:`parserpdf_spark.kernels`   — pure pandas/python extraction kernels
  (HTML DOM + boilerplate heuristics, PDF layout reading-order +
  classification).  No Spark imports; unit-testable standalone.
- :mod:`parserpdf_spark.operators` — Spark operators: the mapInPandas
  extraction stage, skew-salted reassembly, dedup family, ANN,
  text-analysis ops.
- :mod:`parserpdf_spark.sources`   — scans and the deterministic
  interleaved-docs synthesizer.
- :mod:`parserpdf_spark.plans`     — chunked checkpoint/commit/resume.
- :mod:`parserpdf_spark.streaming` — incremental ingestion.
- :mod:`parserpdf_spark.zipcache`  — keeps reused Python workers from
  re-reading ``pyspark.zip`` before every task (installed on import).

Reference parity notes cite ``/root/reference`` files as ``file:line``.
"""

from parserpdf_spark import zipcache

# every worker that unpickles an engine function passes through here once
zipcache.install()

__version__ = "0.1.0"
