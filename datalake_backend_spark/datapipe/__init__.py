"""LLM-training-data pipeline operators (beyond the reference surface).

Deduplication (exact, MinHash-LSH, SimHash, n-gram Jaccard), similarity
search over embedding columns, text analysis (tokens, normalization,
PII redaction, fingerprints, BM25/TF-IDF/LM scoring), BPE pair
statistics, and multimodal binary-column plumbing — all
DataFrame-native, designed for 100 TB corpora: shuffles only on
content-hash / bucket keys, no driver-side materialization, Pandas UDFs
only where byte-level decoding is genuinely required.
"""
