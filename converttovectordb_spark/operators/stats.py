"""Corpus statistics — the reference's `/stats` aggregate suite.

Reference (mock_vector_db_api.py:314-379) computes in one Python loop:
  A1 total row count                     (:366)
  A2 count grouped by extension, missing → 'unknown'   (:334,340-342)
  A3 exact distinct count of non-empty paths           (:335,344-347)
  A4 sum of content sizes, reported in KB              (:336,349-351,369)
  A5 avg chunks per file: per-path last total_chunks, then mean
     (:337,353-360,370)

Spark-first: the whole suite is ONE action over the documents table —
one aggregate over two grouping sets, per path and per extension, and
a second that folds the per-path rows into one row beside the
per-extension rows. Catalyst prunes the embedding column out of it —
the reference reads every full row. At 100 TB these are map-side
partial aggregates plus small shuffles of the partials, whose size
follows the distinct paths and extensions, not the rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def corpus_stats_full(docs: DataFrame) -> dict:
    """A1–A5 and the average content length in ONE Spark action.

    A5 already forces a per-path groupBy, and every other statistic
    but A2 is recoverable from per-path partials; A2 needs a group per
    extension, and a path's rows may carry several extensions (REST
    writes set ``extension`` freely). So one aggregate runs over the
    grouping sets ``(path)`` and ``(extension)`` — one Expand, one
    shuffle of partials — and a second folds the per-path rows into
    one row, keeping the per-extension rows as they are:
      total_documents   = sum of per-extension row counts
      unique_files      = count of non-empty path groups (path='' and
                          NULL-path groups excluded, matching
                          countDistinct(when(path != '', path)))
      total_content_kb  = sum of per-path content-length sums / 1024
      avg_content_chars = global length sum / non-NULL content rows
      avg_chunks_per_file = avg of per-path max(total_chunks), every
                          path group included
      documents_by_extension = rows per extension, NULL → 'unknown'
    Exact: ``grouping(path)`` tells a NULL-path group from an
    extension row, and the collected result is one row per extension
    plus one."""
    partials = (
        docs.select(
            "path",
            F.coalesce(F.col("extension"), F.lit("unknown")).alias("extension"),
            F.length("content").alias("_len"),
            "total_chunks",
        )
        .groupingSets([["path"], ["extension"]], "path", "extension")
        .agg(
            F.grouping("path").alias("_by_ext"),
            F.count(F.lit(1)).alias("_n"),
            F.count("_len").alias("_n_content"),
            F.sum("_len").alias("_len"),
            F.max("total_chunks").alias("_chunks"),
        )
    )
    rows = (
        partials.groupBy("_by_ext", "extension")
        .agg(
            F.sum("_n").alias("n_docs"),
            F.count(F.when(F.col("path") != "", 1)).alias("files"),
            F.sum("_n_content").alias("n_content"),
            F.sum("_len").alias("len"),
            F.sum("_chunks").alias("chunks"),
            F.count("_chunks").alias("n_chunks"),
        )
        .collect()
    )
    by_ext = [r for r in rows if r["_by_ext"]]
    paths = next((r for r in rows if not r["_by_ext"]), None)

    def total(c: str) -> int:
        return (paths[c] or 0) if paths is not None else 0

    length, n_content = total("len"), total("n_content")
    n_chunks = total("n_chunks")
    return {
        "total_documents": sum(r["n_docs"] for r in by_ext),
        "unique_files": total("files"),
        "total_content_kb": length / 1024.0,
        "avg_content_chars": length / n_content if n_content else None,
        "avg_chunks_per_file": (
            total("chunks") / n_chunks if n_chunks else None
        ),
        "documents_by_extension": {
            r["extension"]: r["n_docs"] for r in by_ext
        },
    }


def health(docs: DataFrame) -> dict:
    """A6 analog: basic liveness counters."""
    row = docs.agg(
        F.count(F.lit(1)).alias("documents_count"),
        F.count(F.col("embedding")).alias("embeddings_count"),
    ).collect()[0]
    return {
        "status": "healthy",
        "documents_count": row["documents_count"],
        "embeddings_count": row["embeddings_count"],
    }
