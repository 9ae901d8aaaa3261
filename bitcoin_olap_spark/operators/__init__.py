"""Reusable composable operators.

- text.py       tokenization, shingling, language-ID, quality scoring,
                fingerprinting (all JVM-side expressions)
- dedup.py      exact, n-gram Jaccard, MinHash+LSH, SimHash near-dup
- vectors.py    cosine similarity / ANN search over embedding columns
- chunking.py   document chunking and context packing
- multimodal.py image/audio/video columns as opaque binary
- graph.py      integer PageRank and BFS reachability
- temporal.py   as-of and banded range joins
- skew.py       salted joins
- bloom.py      Bloom-filter semi-join reduction
- acidtable.py  the ACID table format (versioned manifests)
- cacheutil.py  the file-identity memo and the bounded relation cache
"""
