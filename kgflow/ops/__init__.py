"""Large-scale training-data pipeline operators over the documents and
embeddings tables: deduplication (exact, minhash-LSH, simhash, n-gram
Jaccard), similarity search (brute-force, LSH and IVF cosine top-k; IVF-PQ),
and text analysis (quality scoring, token counting, fingerprinting,
language ID)."""
