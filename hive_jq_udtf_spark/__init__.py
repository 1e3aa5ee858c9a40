"""hive_jq_udtf_spark — a PySpark-native JSON-query engine with the
capabilities of CyberAgent/hive-jq-udtf (reference studied at
/root/reference; re-architected Spark-first, not ported).

Layers (SURVEY §0):
  A. ``jqlib``      — from-scratch jq expression engine (pure Python)
  B. ``marshal``    — typed marshalling: jq JSON results → Spark rows
  C. ``udtf``       — PySpark UDTF + SQL registration + lateral joins
     ``native``     — simple-path jq → Catalyst Column compiler
     ``worker``     — per-process setup of Spark's Python workers
  D. ``operators``  — LLM-data-pipeline operators (dedup, similarity,
                      text analysis, multimodal) — driver mandate
"""

from . import worker as _worker

__version__ = "0.1.0"

# a no-op outside a Spark Python worker (worker.py)
_worker.install()
