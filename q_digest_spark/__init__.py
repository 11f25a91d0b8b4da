"""q_digest_spark — a PySpark-native mergeable-sketch & training-data
analytics engine.

Built from scratch against the behavior of the reference C Q-Digest
(ettoremiglioranza1012/Q-Digest; see SURVEY.md for the file:line
parity map), extended per BASELINE.json north_rule with KLL, t-digest,
HLL, Count-Min, Bloom, MinHash/SimHash dedup, ANN search, text
analysis, and multimodal plumbing — all expressed as vectorized
Arrow/pandas state flowing through hand-built two-level partial
aggregation (Spark's seqOp/combOp contract, which the reference's
unfinished MPI tree-reduce was reaching for).
"""

from .sketches import (
    HLL,
    KLL,
    Bloom,
    CountMin,
    QDigest,
    TDigest,
    from_bytes,
    universe_bits_for,
)

__version__ = "0.1.0"

__all__ = [
    "HLL",
    "KLL",
    "Bloom",
    "CountMin",
    "QDigest",
    "TDigest",
    "from_bytes",
    "universe_bits_for",
]
