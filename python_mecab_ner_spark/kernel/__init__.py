"""Pure-Python deterministic kernel.

One source of truth for the reference semantics (tokenization,
gazetteer matching, span merge, surface restore), imported both by the
Spark operators (operators/; annotate runs it in one mapInArrow) and by
the single-process oracle (kernel.pyref) used to score
precision/recall.  Tokens travel as columns (kernel.tokenizer.
TokenColumns), not as one dict per token.
"""
