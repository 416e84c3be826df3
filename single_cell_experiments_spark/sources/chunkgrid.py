"""One chunk grid for every padded Zarr store, both halves (SURVEY.md
§2.A A1 ``zarr read`` and A2 ``zarr write`` + A13, the chunk-aligned
repartition; ref ``zarr_spark.py``'s one read and one write helper).

Every positional writer — Zarr v2 (``zarrv2``), Zarr v3 plain and
sharded (``zarrv3``) and the CSR/CSC ``indices``/``data`` arrays
(``sparse``, fed by its per-row-block placement pass, which writes each
block's ``indptr`` chunk with the same v2 ``put``) — is one call of
:func:`write_chunk_grid`:

- ``groupBy(id div rows_per_chunk) ⟶ applyInPandas``: the exchange IS
  the chunk-aligned repartition, one task per row chunk, no driver
  collection;
- each task scatters its rows into one block per :class:`Member` at
  ``id − chunk·rows_per_chunk``; the block starts at the member's fill
  value, or at what the caller's ``start`` returns (an append's decoded
  boundary chunk).  2-D blocks split into ``cols_per_chunk`` pieces,
  the right-edge piece padded with the fill value;
- each piece goes to the store's ``put(path, coords, block,
  valid_rows)``: the payload encoding (v2 compressor, v3 codec chain or
  shard) and the key naming are, with the ``meta`` document writer,
  all a format adds.

Dense-id guard: the caller's one bounds aggregate (:func:`dense_rows`)
checks ``count == n``, ``min == lo`` and ``max == lo+n−1``; each task
raises on a duplicate or out-of-range id before it writes anything.  An
id maps to exactly one chunk, so the per-task check is exact, and
count + range + distinct is density.  Metadata last: each member's
metadata goes out through the format's ``meta`` only after the chunk
job succeeds (callers write group documents after that), so a rejected
write leaves no readable array and a rejected append leaves the store
at its old shape.

Every dense read is planned from the array metadata alone — the chunk
indices are a function of ``shape`` and ``chunks``, so nothing is
listed and a stray file in the array directory is never opened:

- :func:`row_chunks` is ``spark.range(n_row_chunks)`` with one partition
  per core, at most one per chunk; the caller adds one ``mapInPandas``
  (:func:`read_chunk_grid` for one array, ``zarrv2.read_zarr_rows`` for
  the row-aligned members of a group);
- :func:`emit_row_chunk` turns one row chunk into rows: ``(row, col0,
  values)`` slices, one per column chunk, for 2-D arrays and ``(row,
  value)`` for 1-D ones, edge padding trimmed by the shape;
- a format supplies only the full-block fetch ``chunk(coords)``
  (``zarrv2._read_chunk``, ``zarrv3._read_chunk_v3``), where a chunk
  absent from the store reads as the array's ``fill_value`` through
  :func:`fill_chunk` — the spec rule, and the write side's block start —
  and an array declaring ``fill_value: null`` raises.

Two chunk writers stay outside on purpose: ``chunkstore`` writes an npz
of only the rows present (no grid padding, no fill value), and the
``pyds`` DataSource writer is fed an Arrow iterator and commits
per-attempt temp files.  The ``pyds`` DataSource readers plan one
partition per grid cell and call :func:`emit_row_chunk` from ``read()``.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterator
from dataclasses import dataclass

import numpy as np
import pandas as pd

from pyspark.errors import PythonException
from pyspark.sql import Column, DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DataType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

_DUP = "chunk-grid write needs dense ids"


@dataclass(frozen=True)
class Member:
    """One array written from the rows: its directory, its source column
    and its block layout.  ``fill`` is the block's starting value and the
    metadata ``fill_value``.  ``width`` > 0 makes a 2-D ``[rows, width]``
    member split into ``cols_per_chunk`` (0 = ``width``) column pieces.
    ``encode`` maps the source column to block values when the default
    (float rows, scalars, UTF-8 ``|S`` strings) does not fit."""

    path: str
    src: str
    dtype: np.dtype
    fill: object = 0
    width: int = 0
    cols_per_chunk: int = 0
    encode: Callable[[pd.Series], np.ndarray] | None = None

    def blank(self, shape: tuple[int, ...]) -> np.ndarray:
        """A fresh block at the fill value (zero bytes for a zero or null
        fill, whatever the dtype — ``np.full`` would write ``b"0"`` into
        ``|S``)."""
        block = np.zeros(shape, dtype=self.dtype)
        if self.fill:
            block[...] = self.fill
        return block

    def values(self, col: pd.Series) -> np.ndarray:
        if self.encode is not None:
            return self.encode(col)
        if self.dtype.kind == "S":  # NULL → b"": |S<n> has no NULL sentinel
            return np.array([(s or "").encode("utf-8") for s in col], dtype=self.dtype)
        if self.width:
            return np.array(col.to_list(), dtype=self.dtype)
        return col.to_numpy(dtype=self.dtype)


def dense_rows(
    rows: DataFrame,
    id_col: str,
    *aggs: Column,
    n: int | None = None,
    lo: int = 0,
    what: str = "zarr positional write needs dense 0..n-1 ids",
) -> tuple[int, Row]:
    """The bounds aggregate of a positional write: ``aggs`` plus the
    dense-id guard, which raises ``ValueError`` unless ``n`` rows (default:
    however many there are) carry ids spanning exactly ``lo..lo+n-1``.
    Zero rows pass when ``n`` is not given.  Returns ``(n, row)``."""
    b = rows.agg(
        F.count(F.lit(1)).alias("_n"), F.min(id_col).alias("_lo"),
        F.max(id_col).alias("_hi"), *aggs,
    ).collect()[0]
    got = (int(b["_n"]), b["_lo"], b["_hi"])
    if n is None and got[0] == 0:
        return 0, b
    n = got[0] if n is None else n
    if got != (n, lo, lo + n - 1):
        raise ValueError(
            f"{what}: expected ids {lo}..{lo + n - 1},"
            f" got {got[0]} rows over [{got[1]}, {got[2]}]"
        )
    return n, b


def write_chunk_grid(
    rows: DataFrame,
    id_col: str,
    n: int,
    rows_per_chunk: int,
    members: list[Member],
    put: Callable[[str, tuple[int, ...], np.ndarray, int], None],
    meta: Callable[[Member, list[int], list[int]], None],
    lo: int = 0,
    start: Callable[[Member, int], np.ndarray | None] | None = None,
) -> int:
    """Write ``members`` of ``rows`` (ids ``lo..lo+n-1`` in ``id_col``) as
    padded chunk blocks in one distributed pass, then each member's
    metadata through ``meta(member, shape, chunks)``; returns the number
    of row chunks written.  ``put`` receives grid coords ``(r,)`` or
    ``(r, c)``, the full padded block and the rows of it inside the
    array."""
    rpc, end = rows_per_chunk, lo + n
    for m in members:
        os.makedirs(m.path, exist_ok=True)

    def _write_chunk(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        chunk = int(key[0])
        ids = pdf[id_col].to_numpy(dtype=np.int64)
        offs = ids - chunk * rpc
        if ids.min() < lo or ids.max() >= end or len(np.unique(offs)) != len(offs):
            raise ValueError(
                f"{_DUP} {lo}..{end - 1}: row chunk {chunk} holds a"
                " duplicate or out-of-range id"
            )
        valid = min(rpc, end - chunk * rpc)
        for m in members:
            block = start(m, chunk) if start is not None else None
            if block is None:
                block = m.blank((rpc, m.width) if m.width else (rpc,))
            block[offs] = m.values(pdf[m.src])
            if not m.width:
                put(m.path, (chunk,), block, valid)
                continue
            cpc = m.cols_per_chunk or m.width
            for c in range(-(-m.width // cpc)):
                piece = block[:, c * cpc : (c + 1) * cpc]
                if piece.shape[1] < cpc:  # right-edge chunk: pad per the spec
                    pad = m.blank((rpc, cpc))
                    pad[:, : piece.shape[1]] = piece
                    piece = pad
                put(m.path, (chunk, c), piece, valid)
        return pd.DataFrame({"chunk_id": [chunk]})

    srcs = list(dict.fromkeys([id_col, *(m.src for m in members)]))
    try:
        n_chunks = (
            rows.select(*srcs)
            .withColumn("chunk_id", F.expr(f"{id_col} div {rpc}"))
            .groupBy("chunk_id")
            .applyInPandas(_write_chunk, schema="chunk_id long")
            .count()
        )
    except PythonException as exc:
        msg = str(exc)
        if _DUP not in msg:
            raise
        raise ValueError(msg[msg.index(_DUP) :].splitlines()[0]) from None
    for m in members:
        if m.width:
            meta(m, [end, m.width], [rpc, m.cols_per_chunk or m.width])
        else:
            meta(m, [end], [rpc])
    return n_chunks


# --- read half -----------------------------------------------------------------


def fill_chunk(where: str, chunks: list[int], dtype: np.dtype, fill) -> np.ndarray:
    """The block of a chunk absent from the store: ``fill`` everywhere
    (zarr-python omits all-fill chunks by default).  A null fill has no
    defined contents, so the read raises instead."""
    if fill is None:
        raise ValueError(
            f"chunk {where} is missing and the array declares fill_value"
            " null, so it has no defined contents"
        )
    return np.full(chunks, fill, dtype=dtype)


def as_column(vals: np.ndarray, int_kinds: str):
    """1-D decoded values -> the column the readers emit: int64 for the
    format's integer kinds, UTF-8 strings for fixed-width bytes (numpy
    strips the trailing null padding on item access), float64 otherwise."""
    kind = vals.dtype.kind
    if kind in int_kinds:
        return vals.astype(np.int64)
    if kind == "S":
        return [b.decode("utf-8") for b in vals]
    return vals.astype(np.float64)


def column_type(dtype: np.dtype, int_kinds: str) -> DataType:
    """The Spark type of :func:`as_column`'s output for ``dtype``."""
    kind = np.dtype(dtype).kind
    return LongType() if kind in int_kinds else StringType() if kind == "S" else DoubleType()


def emit_row_chunk(
    chunk: Callable[[tuple[int, ...]], np.ndarray],
    shape: list[int],
    chunks: list[int],
    r: int,
    int_kinds: str,
    cols: tuple[int, ...] | None = None,
) -> Iterator[pd.DataFrame]:
    """Row chunk ``r`` as rows, edge padding trimmed by ``shape``: for a
    2-D array one ``(row, col0, values)`` frame per column chunk in
    ``cols`` (default: all of them), for a 1-D array one ``(row, value)``
    frame.  ``chunk(coords)`` returns the full padded block."""
    row0 = r * int(chunks[0])
    rows = np.arange(row0, min(row0 + int(chunks[0]), int(shape[0])), dtype=np.int64)
    if len(shape) == 1:
        vals = chunk((r,))[: len(rows)]
        yield pd.DataFrame({"row": rows, "value": as_column(vals, int_kinds)})
        return
    cpc = int(chunks[1])
    for c in range(-(-int(shape[1]) // cpc)) if cols is None else cols:
        col0 = c * cpc
        vals = chunk((r, c))[: len(rows), : int(shape[1]) - col0].astype(np.float64)
        yield pd.DataFrame({"row": rows, "col0": col0, "values": list(vals)})


def row_chunks(spark: SparkSession, n_rows: int, rows_per_chunk: int) -> DataFrame:
    """The read plan's source: one ``id`` per row chunk, one partition per
    core and at most one per chunk."""
    n_chunks = -(-n_rows // rows_per_chunk)
    n_parts = max(1, min(spark.sparkContext.defaultParallelism, n_chunks))
    return spark.range(n_chunks, numPartitions=n_parts)


def read_chunk_grid(
    spark: SparkSession,
    meta: dict,
    chunk: Callable[[tuple[int, ...]], np.ndarray],
    int_kinds: str,
    ndim: int,
    what: str,
) -> DataFrame:
    """One array's rows in one ``mapInPandas`` over :func:`row_chunks`:
    ``(row, col0, values array<double>)`` slices for ``ndim`` 2 and
    ``(row, value)`` for 1; ``meta`` needs ``shape``, ``chunks`` and
    ``dtype``.  ``what`` names the reader in the dimension error."""
    shape, chunks = meta["shape"], meta["chunks"]
    if len(shape) != ndim:
        raise ValueError(f"{what} expects a {ndim}-D array, got {shape}")
    if ndim == 2:
        fields = [("col0", LongType()), ("values", ArrayType(DoubleType()))]
    else:
        fields = [("value", column_type(meta["dtype"], int_kinds))]
    schema = StructType([StructField(n, t) for n, t in [("row", LongType()), *fields]])

    def _emit(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for r in pdf["id"]:
                yield from emit_row_chunk(chunk, shape, chunks, int(r), int_kinds)

    return row_chunks(spark, int(shape[0]), int(chunks[0])).mapInPandas(_emit, schema=schema)
