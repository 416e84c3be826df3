"""Sparse CSR matrix encoding for the Zarr v2 group (r14 verdict #2).

AnnData ships real 10x matrices sparse: the group ``X`` is not one dense
2-D array but a subgroup of three 1-D arrays — ``indptr`` (int64,
n_rows+1 row extents), ``indices`` (int64, nnz column indices), ``data``
(float64, nnz values) — tagged ``encoding-type: csr_matrix`` in the
group's ``.zattrs`` (the public AnnData on-disk spec; the reference's
flagship 1.3M-neuron matrix is ~93% zeros, so dense rows would be ~30×
the bytes).  This module writes and reads that encoding with the same
distributed chunk machinery as the dense writer (``zarrv2.py``):

- **write**: two passes, both O(nnz) shuffle and O(partitions) driver
  state — (1) per-row counts → exclusive prefix offsets via the
  range-partitioned prefix-sum pattern (``api.AnnFrame.reindex``'s
  shape: per-partition totals to the driver, never O(rows) driver
  state), giving every entry its global FLAT position; (2) entries
  keyed by ``flat div chunk`` go through the shared
  ``chunkgrid.write_chunk_grid``, which writes one ``indices`` + one
  ``data`` chunk object per grid cell.  ``indptr`` is the same
  prefix-sum vector written through the same chunk writer; each
  array's ``.zarray`` is written after its chunk job.
- **read**: ``indptr`` rebuilds per-row extents with a self-join on
  ``i+1`` (equi-join, no global window), ``sequence``+``explode``
  enumerates each row's flat positions, and two flat-keyed equi-joins
  recover (row, col, value) — every step shuffle-bounded by nnz.

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

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import query
from .chunkgrid import Member, write_chunk_grid
from .zarrv2 import (
    _DEFAULT_COMPRESSOR,
    _v2_meta,
    _v2_put,
    read_zarr_vector,
)

#: entries per chunk object for the three CSR arrays — sized so one
#: compressed object is a few hundred KB at float64, the object-store
#: sweet spot (at 100 TB this is what keeps object counts sane).
CSR_ENTRIES_PER_CHUNK = 4096

_CSR_ATTRS = {"encoding-type": "csr_matrix", "encoding-version": "0.1.0"}


def _exclusive_prefix_sums(vals: DataFrame, n_part: int) -> DataFrame:
    """(i, c) → (i, off) where off = Σ c(j) for j < i — the
    range-partitioned prefix-sum: partition-local running sums plus
    O(partitions) exclusive partition offsets collected to the driver
    (never O(rows) driver state; the ``reindex`` pattern)."""
    spark = vals.sparkSession
    ids = (
        vals.repartitionByRange(n_part, "i")
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    totals = {
        int(r["pid"]): int(r["s"])
        for r in ids.groupBy("pid").agg(F.sum("c").alias("s")).collect()
    }
    offs, acc = [], 0
    for p in range(max(totals, default=-1) + 1):
        offs.append(acc)
        acc += totals.get(p, 0)
    offs_df = spark.createDataFrame([(offs,)], "offs array<bigint>")
    w = W.partitionBy("pid").orderBy("i").rowsBetween(W.unboundedPreceding, 0)
    return ids.crossJoin(F.broadcast(offs_df)).select(
        "i",
        (
            F.element_at("offs", F.col("pid") + 1) + F.sum("c").over(w) - F.col("c")
        ).alias("off"),
    )


def _write_chunked_vectors(
    entries: DataFrame,
    specs: list[tuple[str, str, str]],
    n: int,
    chunk: int,
    compressor: dict | None,
) -> int:
    """Write one or more 1-D arrays in ONE ``write_chunk_grid`` pass:
    ``entries`` carries (idx, <col per spec>); each spec is (src_col,
    array_path, dtype in {'<i8','<f8'}); each ``.zarray`` is written
    after the chunk job."""
    members = [Member(apath, src, np.dtype(dt)) for src, apath, dt in specs]
    return write_chunk_grid(
        entries, "idx", n, chunk, members, _v2_put(compressor), _v2_meta(compressor)
    )


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
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))

    guard = coo.agg(
        F.count(F.lit(1)).alias("nnz"),
        F.min("row_id").alias("rmin"),
        F.max("row_id").alias("rmax"),
        F.min("col").alias("cmin"),
        F.max("col").alias("cmax"),
    ).collect()[0]
    nnz = int(guard["nnz"])
    if nnz and not (
        0 <= int(guard["rmin"])
        and int(guard["rmax"]) < n_rows
        and 0 <= int(guard["cmin"])
        and int(guard["cmax"]) < n_cols
    ):
        raise ValueError(
            f"csr write: entries outside shape [{n_rows}, {n_cols}]:"
            f" rows [{guard['rmin']}, {guard['rmax']}],"
            f" cols [{guard['cmin']}, {guard['cmax']}]"
        )

    # indptr = exclusive prefix sums of per-row counts over the FULL row
    # spine (all-zero rows contribute 0), with the closing total at i=n.
    counts = coo.groupBy(F.col("row_id").alias("i")).agg(
        F.count(F.lit(1)).alias("c")
    )
    spine = (
        spark.range(n_rows + 1)
        .select(F.col("id").alias("i"))
        .join(counts, "i", "left")
        .select("i", F.coalesce("c", F.lit(0)).alias("c"))
    )
    indptr = _exclusive_prefix_sums(spine, n_part).localCheckpoint(eager=True)

    _write_chunked_vectors(
        indptr.select(F.col("i").alias("idx"), F.col("off").alias("p")),
        [("p", os.path.join(group_path, "indptr"), "<i8")],
        n_rows + 1,
        entries_per_chunk,
        compressor,
    )

    # every entry's flat position = its row's offset + rank-within-row
    rk = F.row_number().over(W.partitionBy("row_id").orderBy("col")) - 1
    flat = (
        coo.join(indptr.select(F.col("i").alias("row_id"), "off"), "row_id")
        .select((F.col("off") + rk).alias("idx"), "col", "v")
    )
    n_chunks = _write_chunked_vectors(
        flat.select("idx", F.col("col").alias("ic"), F.col("v").alias("dv")),
        [
            ("ic", os.path.join(group_path, "indices"), "<i8"),
            ("dv", os.path.join(group_path, "data"), "<f8"),
        ],
        max(nnz, 1),
        entries_per_chunk,
        compressor,
    )
    with open(os.path.join(group_path, ".zgroup"), "w") as f:
        json.dump({"zarr_format": 2}, f)
    with open(os.path.join(group_path, ".zattrs"), "w") as f:
        json.dump({**_CSR_ATTRS, "shape": [n_rows, n_cols]}, f, sort_keys=True)
    return {"shape": [n_rows, n_cols], "nnz": nnz, "n_chunks": int(n_chunks)}


def _read_compressed_axis(
    spark: SparkSession, group_path: str, n_major: int
) -> DataFrame:
    """Decode an indptr/indices/data triple to ``(major, minor, v)`` —
    the shared extent-join kernel under both compressed layouts (CSR:
    major=row; CSC: major=col).  Every step is shuffle-bounded by nnz:
    the indptr self-join on ``i+1`` is an equi-join (no global window),
    ``sequence``+``explode`` enumerates each extent's flat positions, and
    two flat-keyed equi-joins recover the entries."""
    ptr = read_zarr_vector(spark, os.path.join(group_path, "indptr"))
    starts = ptr.where(F.col("row") < n_major).select(
        F.col("row").alias("major"), F.col("value").alias("lo")
    )
    ends = ptr.where(F.col("row") > 0).select(
        (F.col("row") - 1).alias("major"), F.col("value").alias("hi")
    )
    extents = starts.join(ends, "major").where(F.col("hi") > F.col("lo"))
    flats = extents.select(
        "major",
        F.explode(F.sequence("lo", F.col("hi") - 1)).alias("idx"),
    )
    idxs = read_zarr_vector(spark, os.path.join(group_path, "indices")).select(
        F.col("row").alias("idx"), F.col("value").alias("minor")
    )
    data = read_zarr_vector(spark, os.path.join(group_path, "data")).select(
        F.col("row").alias("idx"), F.col("value").alias("v")
    )
    return flats.join(idxs, "idx").join(data, "idx").select("major", "minor", "v")


def _validated_attrs(group_path: str, want: str) -> dict:
    with open(os.path.join(group_path, ".zattrs")) as f:
        attrs = json.load(f)
    if attrs.get("encoding-type") != want:
        raise ValueError(
            f"not a {want} group: {group_path} (encoding-type ="
            f" {attrs.get('encoding-type')!r})"
        )
    return attrs


def read_zarr_csr(spark: SparkSession, group_path: str) -> DataFrame:
    """Read an AnnData CSR group back to COO ``(row_id, col, v)`` —
    zeros stay implicit.  Validates the ``csr_matrix`` encoding tag
    (a dense array or CSC group must not decode as CSR silently)."""
    attrs = _validated_attrs(group_path, "csr_matrix")
    return _read_compressed_axis(spark, group_path, int(attrs["shape"][0])).select(
        F.col("major").alias("row_id"), F.col("minor").alias("col"), "v"
    )


def read_zarr_csc(spark: SparkSession, group_path: str) -> DataFrame:
    """Read an AnnData CSC group back to COO ``(row_id, col, v)`` — the
    column-compressed twin (10x HDF5 matrices ship CSC, so a no-transpose
    migration wants this layout on the Zarr side too)."""
    attrs = _validated_attrs(group_path, "csc_matrix")
    return _read_compressed_axis(spark, group_path, int(attrs["shape"][1])).select(
        F.col("minor").alias("row_id"), F.col("major").alias("col"), "v"
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
    entry stream (identical distributed prefix-sum machinery), then the
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
    ``indptr``/``indices``/``data`` group with distributed prefix-sum
    flat placement, read it back through the extent-join decoder, and
    hash the recovered COO against the oracle's direct sparsification.
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
    group via the shared prefix-sum writer on the transposed stream,
    read it back through the extent-join decoder (major=col), and hash
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
