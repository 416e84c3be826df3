"""One chunk-grid writer for every padded Zarr store (SURVEY.md §2.A A2
``zarr write`` + A13, the chunk-aligned repartition; ref
``zarr_spark.py``'s one write helper).

Every positional writer — Zarr v2 (``zarrv2``), Zarr v3 plain and
sharded (``zarrv3``) and the CSR/CSC member arrays (``sparse``) — is one
call of :func:`write_chunk_grid`:

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

Two chunk writers stay outside on purpose: ``chunkstore`` writes an npz
of only the rows present (no grid padding, no fill value), and the
``pyds`` DataSource writer is fed an Arrow iterator and commits
per-attempt temp files.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass

import numpy as np
import pandas as pd

from pyspark.errors import PythonException
from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F

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
