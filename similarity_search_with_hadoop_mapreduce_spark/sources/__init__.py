from similarity_search_with_hadoop_mapreduce_spark.sources.tables import (
    TABLES,
    load_corpus_dir,
    load_table,
)

__all__ = ["TABLES", "load_table", "load_corpus_dir"]
