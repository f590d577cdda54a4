"""Web-scale near-duplicate detection + clustering pipeline (the north-rule
target): extraction -> shingling -> MinHash -> LSH banding -> SimHash
verification -> exact-substring containment (CDC chunk candidates + winnowed
L-gram verifier; a suffix array is its test oracle) -> connected-components
clustering, with per-stage checkpoints, lineage sketch metrics, and exact
resume."""
