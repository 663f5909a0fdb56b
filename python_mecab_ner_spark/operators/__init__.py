"""Spark DataFrame operators.

Hot-path stages (annotate) are fused, Arrow-batched mapInArrow
transforms — embarrassingly parallel, zero shuffles, scale linearly
with executors.  Relational stages (linking, canonicalization, graph,
dedup, spans) are declarative DataFrame plans Catalyst optimizes.
"""
