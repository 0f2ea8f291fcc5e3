"""Batch operator library (DataFrame → DataFrame stages).

The Spark-first re-expression of the reference's operator families
(SURVEY.md §2). Stages are plain functions composed into lazy DataFrame
DAGs — Catalyst owns pushdown/pruning/join planning; the reference's
step-file materialization between operators has no analogue here.

There is no registry: the reference's ``OPERATOR_REGISTRY``
decorator/lazy-import machinery (dataflow/utils/registry.py:208) maps
onto ``contract.QUERIES``, which names each operator's query, and
callers import the stage modules directly.
"""
