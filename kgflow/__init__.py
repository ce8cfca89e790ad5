"""kgflow — a from-scratch PySpark-native knowledge-graph construction engine.

Generalizes the row-to-graph semantics of the reference pipeline
(joy-neo4j/neo4j-databricks-azure-pipeline, studied read-only at /root/reference)
into a four-stage DataFrame job over a source-code repository table:

    ingest -> extract -> link -> canonicalize -> materialize

Everything is declarative DataFrame/Catalyst: extraction is JVM
regexp_extract_all and the content hash is the builtin sha2, so no
Python runs on the pipeline's datapath.

Design notes (vs the reference, cited by file:line in each module):
  * stages communicate only through stage-output tables (the one
    architecture decision of the reference worth keeping — its job DAG
    hands state between clusters only via Delta tables,
    databricks/jobs/etl-pipeline-job.json:12-85);
  * the reference's driver-side collect()+batched-Cypher sink
    (databricks/notebooks/neo4j-loading.py:202-336) is replaced by fully
    distributed file materialization in Neo4j bulk-loader shape;
  * checkpoint/resume and per-partition lineage, aspirational in the
    reference (configs/data-sources.yml:112), are mandatory here.
"""

__version__ = "0.1.0"
