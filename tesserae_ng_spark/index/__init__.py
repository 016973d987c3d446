from tesserae_ng_spark.index.build import (
    prepare_docs,
    term_doc_table,
    docs_table,
    corpus_stats,
)

__all__ = [
    "prepare_docs",
    "term_doc_table",
    "docs_table",
    "corpus_stats",
]
