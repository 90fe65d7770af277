from similarity_search_with_hadoop_mapreduce_spark.functions.text import (
    java_split_tokens,
    staged_shingles_frame,
)
from similarity_search_with_hadoop_mapreduce_spark.functions.vector import (
    cosine_similarity,
    dot,
    l2_norm,
)

__all__ = [
    "java_split_tokens",
    "staged_shingles_frame",
    "cosine_similarity",
    "dot",
    "l2_norm",
]
