"""coco_search_spark — PySpark-native knowledge-graph construction engine.

A brand-new, Spark-first re-expression of the capabilities of
``VioletCranberry/coco-search`` (reference at /root/reference, cited by
file:line in docstrings): parse → chunk → embed → hybrid-retrieve becomes
segment → extract (subj, pred, obj) triples → embed → hybrid entity linking
(cosine ⊕ keyword overlap via Reciprocal Rank Fusion) → MinHash/LSH-blocked
connected-components canonicalization → salted graph materialization, over
tables of multi-turn conversation transcripts.

Everything is declared through the DataFrame API so Catalyst owns the
physical plan; Python only runs inside the chunk embedding's Arrow-batched
pandas UDF — never per-row.
"""

__version__ = "0.1.0"
