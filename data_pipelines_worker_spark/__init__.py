"""data_pipelines_worker_spark — a PySpark-native analytics/pipeline engine.

A brand-new engine with the query and data-processing capabilities of the
reference worker (firewut/data-pipelines-worker, a Go block-pipeline
executor), re-expressed Spark-first:

- the reference's ``input_config`` dataflow algebra (JSONPath extraction,
  array fan-out, positional zip/merge, gather, priority-coalesce,
  index targeting) becomes declarative DataFrame plan builders
  (:mod:`.operators.dataflow`);
- the 26 block operators become column expressions, pandas-UDF stages, or
  sinks (:mod:`.functions`, :mod:`.operators`);
- pipeline JSON specs compile to DataFrame programs
  (:mod:`.plans.compiler`) with per-stage Parquet materialization for
  resume/regenerate (:mod:`.sources.stage_store`);
- beyond the reference: dedup, similarity search, multimodal columns and
  text analysis designed for 100 TB scale (:mod:`.operators.dedup`,
  :mod:`.operators.similarity`, :mod:`.operators.text_analysis`,
  :mod:`.operators.multimodal`).

Everything here derives from the public Apache Spark API and the public
reference repo only.
"""

__version__ = "0.1.0"
