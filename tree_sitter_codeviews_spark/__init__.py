"""tree_sitter_codeviews_spark — a PySpark-native spatial-join + tiling engine.

A from-scratch engine with the query semantics of the reference
(jaid-monwar/tree-sitter-codeviews, surveyed in SURVEY.md) re-expressed
Spark-first over Common-Crawl-style web-page tables:

- deterministic per-page text extraction (byte-identical per url; the
  analogue of the reference's preprocessor contract,
  ``utils/preprocessor.py:6-68``),
- entity -> hierarchical cell index (Morton quadkey cells standing in for
  H3/S2; parent = bit-truncation, the analogue of the reference's
  scope-stack prefix containment, ``tree_parser/c_parser.py:127-140``),
- two-phase containment joins (cell-cover prefilter + exact ray-casting
  refine; the analogue of ``scope_check`` + ``longest_scope_match``),
- iterative ring-expansion kNN (the analogue of the reference's RDA
  fixed point, ``codeviews/SDFG/SDFG_c.py:1200-1261``, done with
  delta-convergent DataFrame loops instead of deepcopy+DeepDiff),
- tile aggregation with cell-hierarchy rollup/compaction,
- space-filling-curve (Hilbert) layout (``s2.zorder_repartition``),
- batch checkpoint/lineage tables for mid-job resume.

Everything here is public-API PySpark: DataFrame/SQL + Arrow-batched
pandas UDFs. No per-row Python on hot paths.
"""

__version__ = "0.1.0"
