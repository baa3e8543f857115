"""Build an index from a directory of text files — Spark re-expression
of the reference's files/-directory lifecycle (reference
components/index_manager.py: build-from-dir + regenerate;
build_index.py: batch build entrypoint).

``binaryFile`` is the scan format (not ``text``): it yields one row
per file with path + bytes + size + mtime, parallelizes across files,
and the same reader then serves docx/multimodal payloads. At 100 TB
the file listing itself is driver work — point the loader at a
partitioned layout (e.g. ``root/shard=*/**``) so listing distributes,
and let ``pathGlobFilter`` prune non-text files at the source instead
of with a post-filter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import chunking, embed


def read_text_dir(
    spark: SparkSession,
    path: str,
    glob: str = "*.txt",
    encoding: str = "UTF-8",
) -> DataFrame:
    """Directory of text files → ``(doc_id, path, text, n_bytes,
    modified)``. doc_id = xxhash64(path): stable across re-ingests of
    the same layout, no driver-side id assignment."""
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
    )
    return files.select(
        F.abs(F.xxhash64(F.col("path"))).alias("doc_id"),
        F.col("path"),
        F.decode(F.col("content"), encoding).alias("text"),
        F.col("length").alias("n_bytes"),
        F.col("modificationTime").alias("modified"),
    )


def build_index_from_dir(
    spark: SparkSession,
    path: str,
    dim: int = 64,
    glob: str = "*.txt",
    min_size: int = 500,
    max_size: int = 2000,
    overlap: int = 100,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """The reference's IndexManager.build pipeline, declaratively:
    read dir → greedy-chunk → feature-hash embed → index rows
    ``(vec_id, doc_id, chunk_id, chunk, embedding)`` ready for
    ``index_store.save_index``. Everything stays one lazy plan with no
    shuffle (each chunk's ids and text ride its embedding row), so a
    1000-executor build needs no driver round-trips."""
    docs = read_text_dir(spark, path, glob)
    chunks = chunking.chunk_greedy(
        docs, min_size=min_size, max_size=max_size, overlap=overlap
    )
    keyed = chunks.select(
        F.abs(
            F.xxhash64(F.concat_ws("#", F.col("doc_id"), F.col("chunk_id")))
        ).alias("vec_id"),
        "doc_id",
        "chunk_id",
        F.col("chunk"),
    )
    return embed.embed_documents(
        keyed, dim=dim, id_col="vec_id", text_col="chunk", hash_fn=hash_fn,
        keep_cols=("doc_id", "chunk_id", "chunk"),
    ).select("vec_id", "doc_id", "chunk_id", "chunk", "embedding")
