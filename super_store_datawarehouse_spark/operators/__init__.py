"""Reusable dataflow operators beyond the reference's surface.

The curation-operator families that run beside the warehouse (each is
reached by a harness entry in ``plans``):

- ``dedup``: exact, n-gram Jaccard, MinHash+LSH, SimHash, embedding-cosine
- ``similarity``: brute-force cosine top-k + LSH-bucketed ANN
- ``text``: tokenization, language-ID heuristic, quality scoring,
  polynomial fingerprinting, overlapping chunking
- ``multimodal``: opaque-binary column plumbing with stubbed decoders
- ``temporal``: as-of join, bucketed range/interval join
- ``sampling``: deterministic hash sampling, train/val/test splits,
  stratified sampling, weighted dataset mixtures
- ``skew``: salted count-distinct and salted joins for hot keys

All hot paths are native Column expressions (JVM-side, codegen'd);
Python appears only in clearly-marked mapInPandas stubs for multimodal
decode, where a real deployment would plug in image/audio libraries.
"""
