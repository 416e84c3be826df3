"""Zarr-style chunked matrix store: parallel chunk write + parallel chunk
read (SURVEY.md §2.A A1 ``zarr read``, A2 ``zarr write``, A13 chunk-aligned
repartition; ref ``zarr_spark.py`` / ``anndata_spark.py`` [M]).

The reference enumerates Zarr chunk indices on the driver and maps a read
over them (§3.1 EP1); writes repartition the RDD to chunk-aligned
partitions first (A13).  The Spark-first equivalents:

- **write**: ``groupBy(chunk_id).applyInPandas`` — the chunk-aligned
  repartition IS the groupBy exchange; each task serializes exactly one
  chunk (vec_ids + float32 value block, ``np.savez``) next to a JSON
  manifest.  No driver collection at any scale.
- **read**: ``spark.read.format("binaryFile")`` over the chunk files (the
  manifest scan — storage-parallel like Zarr's chunk grid) →
  ``mapInPandas`` decode to wide rows.  Arrow batches keep the Python
  boundary columnar.

The container has no ``zarr``; the format here is numpy's npz (public,
self-describing) with the same chunking/addressing semantics.  A real Zarr
store swaps the (de)serializer lines only.

``chunkstore_roundtrip`` write→read→COO is registered with the plain COO
oracle — equality with the parquet-derived COO proves the store faithful.
"""

from __future__ import annotations

import hashlib
import io
import json
import os
import shutil
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from ..catalog import load_table
from ..registry import query

ROWS_PER_CHUNK = 64

# The worker-side functions below are module-level: cloudpickle sends them
# by reference, so a Python worker that runs them imports the package, and
# with it ``session``'s zip-directory shim.


def _save_chunk(path: str, chunk_id: int, pdf: pd.DataFrame) -> pd.DataFrame:
    """Write one chunk's rows (vec_ids + float32 value block) as
    ``chunk_<id>.npz`` under ``path``; returns its ``(chunk_id, n_rows)``."""
    pdf = pdf.sort_values("vec_id")
    vec_ids = pdf["vec_id"].to_numpy(dtype=np.int64)
    values = np.array(pdf["embedding"].to_list(), dtype=np.float32)
    buf = io.BytesIO()
    np.savez(buf, vec_ids=vec_ids, values=values)
    with open(os.path.join(path, f"chunk_{chunk_id:06d}.npz"), "wb") as f:
        f.write(buf.getvalue())
    return pd.DataFrame({"chunk_id": [chunk_id], "n_rows": [len(pdf)]})


def _decode_chunks(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """``mapInPandas`` decode of binaryFile rows to (vec_id, embedding)."""
    for pdf in batches:
        for content in pdf["content"]:
            arch = np.load(io.BytesIO(content), allow_pickle=False)
            yield pd.DataFrame(
                {
                    "vec_id": arch["vec_ids"],
                    # one ndarray per row -> Arrow list<double> batch
                    "embedding": list(arch["values"].astype(np.float64)),
                }
            )


def write_chunk_store(wide: DataFrame, path: str, rows_per_chunk: int = ROWS_PER_CHUNK) -> int:
    """Write (vec_id, embedding) rows as a chunked store at ``path``.

    Chunk assignment is ``vec_id div rows_per_chunk`` (fixed grid, like a
    Zarr chunk index); ``groupBy(chunk_id).applyInPandas`` performs the
    chunk-aligned repartition (A13) and one file write per chunk (A2).
    Overwrite semantics: the store directory is cleared first, since the
    reader globs ``chunk_*.npz`` and stale chunks from a previous (larger)
    write would silently corrupt the matrix.  Returns the chunk count.
    """
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)

    result_schema = StructType(
        [StructField("chunk_id", LongType()), StructField("n_rows", LongType())]
    )

    def _write_chunk(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        return _save_chunk(path, key[0], pdf)

    chunks = (
        wide.select("vec_id", "embedding")
        .withColumn("chunk_id", F.expr(f"vec_id div {rows_per_chunk}"))
        .groupBy("chunk_id")
        .applyInPandas(_write_chunk, schema=result_schema)
        .collect()
    )
    meta = {
        "rows_per_chunk": rows_per_chunk,
        "n_chunks": len(chunks),
        "n_rows": int(sum(r["n_rows"] for r in chunks)),
        "dtype": "float32",
    }
    with open(os.path.join(path, ".zmeta.json"), "w") as f:
        json.dump(meta, f)
    return len(chunks)


_READ_SCHEMA = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(DoubleType())),
    ]
)


def read_chunk_store(spark: SparkSession, path: str) -> DataFrame:
    """Parallel chunk read (A1): binaryFile manifest scan → per-chunk numpy
    decode in ``mapInPandas`` → (vec_id, embedding array<double>) rows.

    Each executor decodes only its chunk files (storage-parallel; the
    binaryFile source splits the listing across tasks).  The value block
    crosses the Python boundary as a native Arrow list<double> column —
    one zero-copy-ish columnar batch per chunk, no per-row serialization.
    """
    # The directory plus a name filter, not a glob path: a glob as the load
    # path makes FileStreamSink warn, with a stack trace, on every read.
    files = spark.read.format("binaryFile").option("pathGlobFilter", "chunk_*.npz").load(path)
    return files.select("content").mapInPandas(_decode_chunks, schema=_READ_SCHEMA)


_ROUNDTRIP_ORACLE = """
SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
       round(CAST(unnest(embedding) AS DOUBLE), 6) AS v
FROM embeddings
"""


@query("chunkstore_roundtrip", oracle=_ROUNDTRIP_ORACLE, tags=("sources", "zarr"), cache=False)
def chunkstore_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1+A2+A13 end-to-end: embeddings → chunk-aligned parallel write →
    parallel chunk read → COO.  Hash-equality with the parquet-derived COO
    oracle proves the store reproduces the matrix bit-for-bit (float32
    values round-tripped exactly, rounded to 6 only for the oracle's
    double formatting)."""
    import tempfile

    e = load_table(spark, sf_dir, "embeddings")
    # Stable digest (str hash is per-process randomized); write_chunk_store
    # clears the dir, so reuse across runs is safe.
    store = os.path.join(
        tempfile.gettempdir(),
        f"sce_chunkstore_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}",
    )
    write_chunk_store(e, store)
    wide = read_chunk_store(spark, store)
    return wide.select("vec_id", F.posexplode("embedding").alias("pos0", "vd")).select(
        "vec_id",
        (F.col("pos0") + 1).alias("pos"),
        F.round(F.col("vd"), 6).alias("v"),
    )
