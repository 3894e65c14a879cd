"""lucene_spark — a PySpark-native inverted-index + BM25 engine.

Brand-new engine with the indexing/search capabilities of Apache Lucene's
core (reference: /root/reference, mayya-sharipova/lucene @ 9.0.0-dev),
re-expressed Spark-first: DataFrame dataflow for the index build, parquet
tables for segments/termdict/norms, Arrow-batched pandas UDFs + numpy block
kernels for analysis/compression/scoring, and rank-identical float32 BM25
top-k with windowed Block-Max pruning.
"""

from . import zipcache
from .analysis import ENGLISH_STOP_WORDS, analyze, tokenize
from .index import Index, assign_docids, build_index, build_or_resume, read_index, write_index
from .oracle import OracleIndex
from .search import TopDocs, parse_query, rewrite, search
from .similarity import BM25Scorer, CollectionStats

# Python workers import this package when they unpickle an engine UDF; their
# later tasks then skip PySpark's per-task zip directory re-reads (zipcache)
zipcache.install()

__all__ = [
    "ENGLISH_STOP_WORDS",
    "analyze",
    "tokenize",
    "Index",
    "assign_docids",
    "build_index",
    "build_or_resume",
    "read_index",
    "write_index",
    "OracleIndex",
    "TopDocs",
    "parse_query",
    "rewrite",
    "search",
    "BM25Scorer",
    "CollectionStats",
]
