"""Index builder: Markdown corpus -> Parquet index tables (S3-S6 + build
pipeline of SURVEY.md §3.1).

The reference's build path (cli.index -> indexer.index_directories) is a
process pool per file plus ONE serial driver-process embedding call
(indexer.py:86-96); here the whole build is one lazy DataFrame chain —
 files -> chunks (mapInPandas) -> ids -> path trim -> embeddings
(pandas_udf, executor-parallel) -> write — and the FTS tables derive from
the chunk tokens once (`build_fts_index_from_tokens`): one explode +
groupBy gives postings, persisted; docfreq is its groupBy by term; the
corpus stats are observed on the docstats write and reach corpus_stats
and postings_scored as values, so no table re-aggregates another.
Layout per SURVEY.md §4.3: narrow tables so a BM25 probe never reads
content bytes and a kNN scan streams only vectors.

A full build (`index_directories`) and an incremental one
(`index_incremental`) share one chunk pipeline, driven by the build
settings recorded in meta.json, and one writer, which writes the tables
of TABLES in order, each as zstd-compressed Parquet, and counts each
table's rows on its own write. A full build of fixtures/docs runs 12
Spark jobs.

`--clear` semantics (reference db.py:199-206): each table is written in
overwrite mode, which deletes the table's directory and then writes it
anew, one table after another. A build is not atomic: a reader that opens
the index while it runs can find a table missing or a mix of old and new
tables.
"""

from __future__ import annotations

import json
import os
import shutil
from typing import Callable

import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..config import TEST_EMBED_DIM
from .catalog import read_table
from ..models.embedder import embed_udf
from ..operators.chunker import chunk_documents, with_doc_ids
from ..sources.markdown import read_markdown_dirs

# every table a build writes, in write order
TABLES = ("documents", "embeddings", "postings", "docfreq", "docstats",
          "corpus_stats", "postings_scored")
# the types of a global count (never null) and average (null over no rows)
CORPUS_STATS_SCHEMA = "n_docs bigint not null, avgdl double"


def build_fts_index_from_tokens(docs: DataFrame,
                                write: Callable[..., dict] | None = None
                                ) -> dict[str, DataFrame]:
    """The FTS tables of pre-tokenized chunks (tokens array column),
    TABLES[2:] in write order, each derived once and handed to
    ``write(name, frame, *observed)`` as soon as it is derived. ``write``
    materializes the frame and returns its row count ``rows`` and the
    ``observed`` aggregates, taken on that run; by default the frame
    runs to Spark's noop sink.

    postings is one explode + groupBy, persisted while docfreq and
    postings_scored read it; it carries each chunk's length dl, so
    postings_scored joins docfreq alone. The corpus stats are what the
    docstats write observes: corpus_stats is a one-row local frame of
    them, and postings_scored carries them as literals. The rows equal
    operators/bm25.fts_tables + scored_postings of the same chunks.

    postings and postings_scored are hash-partitioned by doc_id and
    sorted by (doc_id, term): each Parquet file's doc_id dictionary then
    holds only its own documents' ids, the largest part of both tables
    (64 characters each)."""
    write = write or (lambda name, df, *observed: _write(df, None, *observed))
    toks = docs.select("doc_id", F.col("tokens").alias("toks"))
    count, dl = F.count(F.lit(1)), F.size("toks").alias("dl")
    by_doc = ("doc_id", "term")
    postings = (
        toks.repartition("doc_id")
        .select("doc_id", dl, F.explode("toks").alias("term"))
        .groupBy("term", "doc_id", "dl").agg(count.alias("tf"))
        .sortWithinPartitions(*by_doc)
        .persist())
    index = {
        "postings": postings.select("term", "doc_id", "tf"),
        "docfreq": postings.groupBy("term").agg(count.alias("df"))
        .sortWithinPartitions("term"),
        "docstats": toks.select("doc_id", dl),
    }
    try:
        write("postings", index["postings"])
        write("docfreq", index["docfreq"])
        seen = write("docstats", index["docstats"],
                     F.avg("dl").alias("avgdl"))
        n_docs, avgdl = seen["rows"], seen["avgdl"]
        index["corpus_stats"] = docs.sparkSession.createDataFrame(
            pd.DataFrame({"n_docs": [n_docs], "avgdl": [avgdl]}),
            CORPUS_STATS_SCHEMA)
        write("corpus_stats", index["corpus_stats"])
        # a no-op when the join keeps postings' layout (docfreq broadcast)
        index["postings_scored"] = (
            postings.join(index["docfreq"], "term")
            .select("term", "doc_id", "tf", "df", "dl",
                    F.lit(n_docs).cast("long").alias("n_docs"),
                    F.lit(avgdl).cast("double").alias("avgdl"))
            .repartition("doc_id").sortWithinPartitions(*by_doc))
        write("postings_scored", index["postings_scored"])
    finally:
        postings.unpersist()
    return index


def trim_prefix_expr(col, prefix: str | None):
    """T10 path trim as a pure SQL expression (reference indexer.py:112-136).

    Built entirely from the passed Column (no hardcoded column name), and
    the prefix is normpath'd to mirror the reference's normalize-both
    behavior; the path side is produced normalized by the markdown source.
    """
    if not prefix:
        return col
    norm = os.path.normpath(prefix)
    trimmed = F.regexp_replace(
        F.substring(col, len(norm) + 1, 2**31 - 1), "^/+", ""
    )
    return F.when(col.startswith(norm), trimmed).otherwise(col)


def _chunks(spark: SparkSession, dirs: list[str],
            settings: dict[str, str | None]) -> DataFrame:
    """The `documents` table of `dirs` under the build settings, persisted:
    read -> chunk -> deterministic ids (over the untrimmed path) -> path
    trim. Chunking runs once and feeds documents, embeddings and the FTS
    tables; the caller unpersists."""
    files = read_markdown_dirs(spark, dirs)
    chunks = with_doc_ids(chunk_documents(
        files, int(settings["chunk_size"]), int(settings["chunk_overlap"]),
        settings["strategy"], settings["tokenizer"]))
    trim = trim_prefix_expr(F.col("file_path"),
                            settings.get("remove_path_prefix"))
    return chunks.select(
        "doc_id", trim.alias("file_path"), "header_path", "line_start",
        "line_end", "content", "tokens").persist()


def _embeddings(chunks: DataFrame, settings: dict[str, str | None]
                ) -> DataFrame:
    embed = embed_udf(settings["embedding_backend"],
                      settings["embedding_model"],
                      int(settings["embedding_dim"]))
    return chunks.select("doc_id", embed(F.col("content")).alias("embedding"))


def _write(df: DataFrame, path: str | None, *observed) -> dict:
    """Write df as zstd Parquet at path (to Spark's noop sink without
    one); returns its row count ``rows`` and the ``observed`` aggregates,
    observed on the write itself."""
    obs = Observation()
    w = df.observe(obs, F.count(F.lit(1)).alias("rows"), *observed) \
        .write.mode("overwrite")
    if path is None:
        w.format("noop").save()
    else:
        w.parquet(path, compression="zstd")
    return obs.get


def _write_index(documents: DataFrame, embeddings: DataFrame,
                 out_dir: str) -> dict[str, int]:
    """Write every table of TABLES under out_dir; returns each table's
    row count, observed on the write itself."""
    counts: dict[str, int] = {}

    def write(name: str, df: DataFrame, *observed) -> dict:
        seen = _write(df, os.path.join(out_dir, name), *observed)
        counts[name] = seen["rows"]
        return seen

    write("documents", documents)
    write("embeddings", embeddings)
    build_fts_index_from_tokens(documents, write)
    return counts


def index_directories(
    spark: SparkSession,
    dirs: list[str],
    out_dir: str,
    *,
    chunk_size: int = 512,
    chunk_overlap: int = 50,
    strategy: str = "header",
    tokenizer: str = "jp_heuristic",
    embed_backend: str = "hash",
    embedding_model: str = "hash-embedder",
    embed_dim: int = TEST_EMBED_DIM,
    remove_path_prefix: str | None = None,
) -> dict[str, int]:
    """Build all index tables under out_dir; returns row counts."""
    settings = {
        "embedding_model": embedding_model,
        "embedding_backend": embed_backend,
        "embedding_dim": str(embed_dim),
        "tokenizer": tokenizer,
        "chunk_size": str(chunk_size),
        "chunk_overlap": str(chunk_overlap),
        "strategy": strategy,
        "remove_path_prefix": remove_path_prefix,
    }
    chunks = _chunks(spark, dirs, settings)
    counts = _write_index(chunks, _embeddings(chunks, settings), out_dir)
    chunks.unpersist()
    with open(os.path.join(out_dir, "meta.json"), "w") as f:
        json.dump(settings, f, indent=2)
    return counts


def index_incremental(
    spark: SparkSession,
    dirs: list[str],
    out_dir: str,
) -> dict[str, int]:
    """Re-index only what changed, under the build settings recorded in
    out_dir's meta.json (path trim included; a meta.json without
    `remove_path_prefix` means no trim). Deterministic chunk ids (sha2
    over file/line/content — T9) turn incremental indexing into set
    algebra: chunks whose id already exists keep their stored EMBEDDING
    (the expensive stage); only genuinely new/changed chunks are
    embedded. Derived FTS tables are recomputed from the merged corpus
    (cheap relative to embedding; and df/avgdl are global, so they must
    be). The result holds the same rows as a full rebuild.

    Tables are written to a temp subdir, then swapped in one at a time,
    so the build never overwrites parquet it is still lazily reading.

    Returns counts: added, kept, removed, plus per-table row counts.
    """
    settings = read_meta(out_dir)
    chunks = _chunks(spark, dirs, settings)

    old_docs = read_table(spark, os.path.join(out_dir, "documents"))
    old_emb = read_table(spark, os.path.join(out_dir, "embeddings"))

    ids = chunks.select("doc_id")
    kept_emb = old_emb.join(ids, "doc_id", "left_semi")
    new_chunks = chunks.join(old_docs.select("doc_id"), "doc_id", "left_anti")
    counts = {"added": new_chunks.count(), "kept": kept_emb.count(),
              "removed": old_docs.join(ids, "doc_id", "left_anti").count()}

    tmp = os.path.join(out_dir, "_incremental_tmp")
    counts.update(_write_index(
        chunks, kept_emb.unionByName(_embeddings(new_chunks, settings)), tmp))
    chunks.unpersist()
    for name in TABLES:
        final = os.path.join(out_dir, name)
        shutil.rmtree(final, ignore_errors=True)
        os.replace(os.path.join(tmp, name), final)
    shutil.rmtree(tmp, ignore_errors=True)
    return counts


def read_meta(index_dir: str) -> dict[str, str | None]:
    with open(os.path.join(index_dir, "meta.json")) as f:
        return json.load(f)


def resolve_model(index_dir: str, requested: str | None) -> tuple[str, str, int]:
    """Stored-model-wins reconciliation (reference db.py:61-70): the model
    recorded at index time overrides a conflicting request, with a warning."""
    meta = read_meta(index_dir)
    stored = meta["embedding_model"]
    if requested and requested != stored:
        import warnings

        warnings.warn(
            f"index was built with embedding model {stored!r}; ignoring "
            f"requested {requested!r} (stored model wins)",
            stacklevel=2,
        )
    return stored, meta["embedding_backend"], int(meta["embedding_dim"])
