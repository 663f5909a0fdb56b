"""Spark DataFrame operators.

Hot-path stages (annotate) are fused, Arrow-batched mapInArrow
transforms — embarrassingly parallel, zero shuffles, scale linearly
with executors.  Relational stages (linking, canonicalization, graph,
dedup, spans) are declarative DataFrame plans Catalyst optimizes.

The knowledge-graph build reaches annotate, linking, canonicalize,
graph, weblinks and schemas (tests/test_kg_closure.py pins the list);
every other module here backs only driver-contract queries in
__spark_entry__.py.
"""
