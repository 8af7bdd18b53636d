"""similarities_spark — a from-scratch, PySpark-native distributed BM25
inverted-index engine with the query capabilities of shibing624/similarities.

The reference (/root/reference, v1.2.3) is a single-process in-memory Python
library; this package re-expresses its BM25 text-search path (and the
surrounding literal-similarity operator family) as an idiomatic Spark engine:

- DataFrame/Catalyst for all relational work (dedup, stats, joins, top-k).
- Arrow-vectorized pandas UDFs only for tokenization and posting-block
  codec/WAND scoring (the two genuinely non-relational kernels).
- Term-partitioned, block-compressed (bit-packed frame-of-reference) posting lists with
  per-block max-score metadata and doc-range salting for head-term skew.
- Resumable index builds via per-partition checkpoint manifests with lineage.

Semantics contract: rank-identical top-k (docIDs AND float64 BM25 scores) vs
the reference's BM25Okapi math (reference similarities/utils/rank_bm25.py:78-114)
and BM25Similarity.most_similar ordering (literal_similarity.py:416-442).
"""

from similarities_spark.config import EngineConfig
from similarities_spark.tokenize import tokenize_text, make_tokenizer_udf
from similarities_spark.oracle import BM25Oracle
from similarities_spark.index.build import BM25IndexBuilder, BM25Index
from similarities_spark.query.engine import BM25QueryEngine

__version__ = "0.1.0"

__all__ = [
    "EngineConfig",
    "tokenize_text",
    "make_tokenizer_udf",
    "BM25Oracle",
    "BM25IndexBuilder",
    "BM25Index",
    "BM25QueryEngine",
    "__version__",
]
