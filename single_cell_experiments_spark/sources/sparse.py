"""Sparse CSR/CSC matrix encodings for the Zarr v2 group (r14 verdict #2).

AnnData ships real 10x matrices sparse: the group ``X`` is not one dense
2-D array but a subgroup of three 1-D arrays — ``indptr`` (int64,
n_major+1 extents), ``indices`` (int64, nnz minor ids), ``data``
(float64, nnz values) — tagged ``encoding-type: csr_matrix`` (major =
row) or ``csc_matrix`` (major = column) in the group's ``.zattrs`` (the
public AnnData on-disk spec; the reference's flagship 1.3M-neuron matrix
is ~93% zeros, so dense rows would be ~30× the bytes).

- **write** (CSR; CSC is the CSR writer on the transposed stream): one
  aggregate grouped by row block ``row_id div entries_per_chunk`` is
  collected — each block's entry count and row/col bounds, so the
  out-of-shape guard, ``nnz`` and every block's offset come from
  O(n_rows / entries_per_chunk) driver state.  One ``groupBy(block) ⟶
  applyInPandas`` pass then sorts each block's entries by (row, col),
  places them at ``offset + rank``, writes the block's ``indptr`` chunk
  (the row block and the ``indptr`` chunk are the same rows) and feeds
  the placed entries to ``chunkgrid.write_chunk_grid``, which writes the
  ``indices`` and ``data`` chunks.  A row block with no entries still
  gets its ``indptr`` chunk: every block carries one marker row.  Each
  array's ``.zarray`` goes out after the chunk job.
- **read**: the group is a ``tenx.ZarrCscStore``, so both layouts decode
  in ``tenx.ingest_csc``: ``indptr`` on the driver, nnz-balanced slices
  of a whole number of chunks, one ``mapInPandas`` decoding each slice's
  overlapping ``indices``/``data`` chunks.

Scale note: chunk sizes are in ENTRIES, so object count scales with nnz
(bytes ≈ 12·nnz compressed), not n_rows×n_cols — the whole point of the
encoding; SCALE.md records the measured dense-vs-CSR byte ratio.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import query
from .chunkgrid import Member, write_chunk_grid
from .tenx import ZarrCscStore, ingest_csc
from .zarrv2 import _DEFAULT_COMPRESSOR, _v2_meta, _v2_put

#: entries per chunk object for the three CSR arrays — sized so one
#: compressed object is a few hundred KB at float64, the object-store
#: sweet spot (at 100 TB this is what keeps object counts sane).
CSR_ENTRIES_PER_CHUNK = 4096

_CSR_ATTRS = {"encoding-type": "csr_matrix", "encoding-version": "0.1.0"}


def write_zarr_csr(
    coo: DataFrame,
    group_path: str,
    n_rows: int,
    n_cols: int,
    entries_per_chunk: int = CSR_ENTRIES_PER_CHUNK,
    compressor: dict | None = _DEFAULT_COMPRESSOR,
) -> dict:
    """Write COO ``(row_id, col, v)`` (0-based dense row space 0..n_rows-1,
    0-based cols < n_cols; absent pairs are zeros) as an AnnData-encoded
    CSR group at ``group_path``: ``indptr``/``indices``/``data`` member
    arrays + the ``csr_matrix`` ``.zattrs`` tag carrying ``shape``.
    All-zero rows are legal (their indptr extent is empty).  Within a
    row, entries order by ``col`` — the canonical CSR layout.  Returns
    {shape, nnz, n_chunks}."""
    spark = coo.sparkSession
    shutil.rmtree(group_path, ignore_errors=True)
    os.makedirs(group_path, exist_ok=True)
    epc = entries_per_chunk
    n_blocks = -(-(n_rows + 1) // epc)  # indptr chunks = row blocks

    entries = coo.select(
        F.expr(f"row_id div {epc}").alias("b"), F.col("row_id").cast("bigint").alias("row_id"),
        F.col("col").cast("bigint").alias("col"), F.col("v").cast("double").alias("v"),
    )
    blocks = entries.groupBy("b").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("row_id").alias("rmin"),
        F.max("row_id").alias("rmax"),
        F.min("col").alias("cmin"),
        F.max("col").alias("cmax"),
    ).collect()
    nnz = sum(int(r["n"]) for r in blocks)
    if blocks:
        rmin, rmax = min(r["rmin"] for r in blocks), max(r["rmax"] for r in blocks)
        cmin, cmax = min(r["cmin"] for r in blocks), max(r["cmax"] for r in blocks)
        if not (0 <= rmin and rmax < n_rows and 0 <= cmin and cmax < n_cols):
            raise ValueError(
                f"csr write: entries outside shape [{n_rows}, {n_cols}]:"
                f" rows [{rmin}, {rmax}], cols [{cmin}, {cmax}]"
            )
    counts = np.zeros(n_blocks, dtype=np.int64)
    for r in blocks:
        counts[int(r["b"])] = int(r["n"])
    offs = np.cumsum(counts) - counts

    put, meta = _v2_put(compressor), _v2_meta(compressor)
    indptr = Member(os.path.join(group_path, "indptr"), "p", np.dtype("<i8"))
    os.makedirs(indptr.path, exist_ok=True)

    def _place(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        # row block b: its indptr chunk, and its entries at offs[b] + rank
        # by (row, col); the marker row (row_id -1) only makes b present
        b = int(key[0])
        pdf = pdf[pdf["row_id"] >= 0].sort_values(["row_id", "col"], kind="stable")
        rows, off = pdf["row_id"].to_numpy(np.int64), int(offs[b])
        valid = min(epc, n_rows + 1 - b * epc)
        ptr = np.zeros(epc, dtype=np.int64)
        ptr[:valid] = off + np.searchsorted(rows, b * epc + np.arange(valid))
        put(indptr.path, (b,), ptr, valid)
        return pd.DataFrame(
            {
                "idx": off + np.arange(len(rows), dtype=np.int64),
                "ic": pdf["col"].to_numpy(np.int64),
                "dv": pdf["v"].to_numpy(np.float64),
            }
        )

    markers = spark.range(n_blocks).select(
        F.col("id").alias("b"), F.lit(-1).cast("bigint").alias("row_id"),
        F.lit(-1).cast("bigint").alias("col"), F.lit(0.0).alias("v"),
    )
    placed = entries.unionByName(markers).groupBy("b").applyInPandas(
        _place, schema="idx long, ic long, dv double"
    )
    members = [
        Member(os.path.join(group_path, "indices"), "ic", np.dtype("<i8")),
        Member(os.path.join(group_path, "data"), "dv", np.dtype("<f8")),
    ]
    n_chunks = write_chunk_grid(placed, "idx", max(nnz, 1), epc, members, put, meta)
    meta(indptr, [n_rows + 1], [epc])
    with open(os.path.join(group_path, ".zgroup"), "w") as f:
        json.dump({"zarr_format": 2}, f)
    with open(os.path.join(group_path, ".zattrs"), "w") as f:
        json.dump({**_CSR_ATTRS, "shape": [n_rows, n_cols]}, f, sort_keys=True)
    return {"shape": [n_rows, n_cols], "nnz": nnz, "n_chunks": int(n_chunks)}


def _check_encoding(group_path: str, want: str) -> None:
    with open(os.path.join(group_path, ".zattrs")) as f:
        got = json.load(f).get("encoding-type")
    if got != want:
        raise ValueError(f"not a {want} group: {group_path} (encoding-type = {got!r})")


def _read_compressed(spark: SparkSession, group_path: str) -> DataFrame:
    """``ingest_csc`` over a Zarr group: ``(row=minor, col=major, value)``,
    one slice per core, each a whole number of ``data`` chunks."""
    store = ZarrCscStore(group_path)
    n, c = int(store.meta["data"]["shape"][0]), int(store.meta["data"]["chunks"][0])
    cores = spark.sparkContext.defaultParallelism
    return ingest_csc(spark, store, c * max(1, -(-n // (c * cores))))


def read_zarr_csr(spark: SparkSession, group_path: str) -> DataFrame:
    """Read an AnnData CSR group back to COO ``(row_id, col, v)`` —
    zeros stay implicit.  Validates the ``csr_matrix`` encoding tag
    (a dense array or CSC group must not decode as CSR silently)."""
    _check_encoding(group_path, "csr_matrix")
    return _read_compressed(spark, group_path).select(
        F.col("col").alias("row_id"), F.col("row").alias("col"), F.col("value").alias("v")
    )


def read_zarr_csc(spark: SparkSession, group_path: str) -> DataFrame:
    """Read an AnnData CSC group back to COO ``(row_id, col, v)`` — the
    column-compressed twin (10x HDF5 matrices ship CSC, so a no-transpose
    migration wants this layout on the Zarr side too)."""
    _check_encoding(group_path, "csc_matrix")
    return _read_compressed(spark, group_path).select(
        F.col("row").alias("row_id"), "col", F.col("value").alias("v")
    )


def write_zarr_csc(
    coo: DataFrame,
    group_path: str,
    n_rows: int,
    n_cols: int,
    entries_per_chunk: int = CSR_ENTRIES_PER_CHUNK,
    compressor: dict | None = _DEFAULT_COMPRESSOR,
) -> dict:
    """Write COO ``(row_id, col, v)`` in the AnnData ``csc_matrix`` group
    encoding: ``indptr`` spans COLUMNS, ``indices`` holds row ids, entries
    order by (col, row).  Implemented as the CSR writer on the transposed
    entry stream (column blocks placed from driver-known offsets), then the
    attrs re-tagged with the csc encoding and the UNtransposed shape —
    byte-level the members are exactly what the spec says a CSC group
    holds."""
    info = write_zarr_csr(
        coo.select(
            F.col("col").alias("row_id"), F.col("row_id").alias("col"), "v"
        ),
        group_path,
        n_cols,
        n_rows,
        entries_per_chunk=entries_per_chunk,
        compressor=compressor,
    )
    with open(os.path.join(group_path, ".zattrs"), "w") as f:
        json.dump(
            {
                "encoding-type": "csc_matrix",
                "encoding-version": "0.1.0",
                "shape": [n_rows, n_cols],
            },
            f,
            sort_keys=True,
        )
    return {"shape": [n_rows, n_cols], "nnz": info["nnz"], "n_chunks": info["n_chunks"]}


_ZARR_SPARSE_ORACLE = """
SELECT vec_id, pos, round(v, 6) AS v
FROM (
  SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
)
WHERE v > 0.25
"""


@query(
    "zarr_sparse_roundtrip",
    oracle=_ZARR_SPARSE_ORACLE,
    tags=("sources", "zarr", "sparse", "csr"),
    cache=False,
)
def zarr_sparse_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AnnData sparse CSR encoding end to end (r14 verdict #2): sparsify
    the embeddings matrix (keep entries > 0.25 — rows losing every entry
    exercise the all-zero-row indptr path), write the
    ``indptr``/``indices``/``data`` group (entries placed per row block
    from driver-known block offsets), read it back through the 10x slice
    decoder (``tenx.ingest_csc`` over the Zarr group), and hash the
    recovered COO against the oracle's direct sparsification.
    float64 ``data`` round-trips the values exactly (rounded to 6 only
    for the oracle's formatting, like every zarr roundtrip); bytes scale
    with nnz, not n×d — the measured ratio is a SCALE.md row."""
    import tempfile

    e = load_table(spark, sf_dir, "embeddings")
    dim = int(e.agg(F.max(F.size("embedding"))).collect()[0][0])
    n = e.count()
    coo = (
        e.select("vec_id", F.posexplode("embedding").alias("p0", "v32"))
        .select(
            F.col("vec_id").alias("row_id"),
            F.col("p0").alias("col"),
            F.col("v32").cast("double").alias("v"),
        )
        .where(F.col("v") > 0.25)
    )
    store = os.path.join(
        tempfile.gettempdir(),
        f"sce_zarr_csr_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}",
    )
    write_zarr_csr(coo, store, n, dim)
    back = read_zarr_csr(spark, store)
    return back.select(
        F.col("row_id").alias("vec_id"),
        (F.col("col") + 1).cast("bigint").alias("pos"),
        F.round("v", 6).alias("v"),
    )


_ZARR_CSC_ORACLE = """
SELECT vec_id, pos, round(v, 6) AS v
FROM (
  SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
)
WHERE v < -0.25
"""


@query(
    "zarr_csc_roundtrip",
    oracle=_ZARR_CSC_ORACLE,
    tags=("sources", "zarr", "sparse", "csc"),
    cache=False,
)
def zarr_csc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AnnData sparse CSC encoding end to end — the column-compressed
    twin of ``zarr_sparse_roundtrip`` (10x HDF5 ships CSC, so a
    no-transpose Zarr-side landing wants this layout).  Sparsify the
    embeddings matrix on the NEGATIVE tail (entries < -0.25 — disjoint
    from the CSR query's slice, so the two roundtrips cannot mask each
    other), write the column-majored ``indptr``/``indices``/``data``
    group via the CSR writer on the transposed stream, read it back
    through the 10x slice decoder (major=col, no transpose), and hash
    the recovered COO against the oracle's direct sparsification.  The
    on-disk members are byte-level what the AnnData spec says a
    ``csc_matrix`` group holds; bytes scale with nnz either way."""
    import tempfile

    e = load_table(spark, sf_dir, "embeddings")
    dim = int(e.agg(F.max(F.size("embedding"))).collect()[0][0])
    n = e.count()
    coo = (
        e.select("vec_id", F.posexplode("embedding").alias("p0", "v32"))
        .select(
            F.col("vec_id").alias("row_id"),
            F.col("p0").alias("col"),
            F.col("v32").cast("double").alias("v"),
        )
        .where(F.col("v") < -0.25)
    )
    store = os.path.join(
        tempfile.gettempdir(),
        f"sce_zarr_csc_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}",
    )
    write_zarr_csc(coo, store, n, dim)
    back = read_zarr_csc(spark, store)
    return back.select(
        F.col("row_id").alias("vec_id"),
        (F.col("col") + 1).cast("bigint").alias("pos"),
        F.round("v", 6).alias("v"),
    )
