"""Native Zarr v3 store: spec-faithful parallel write + parallel read
(SURVEY.md §2.A A1/A2 widened to the CURRENT format generation — modern
zarr-python writes v3 by default, so it is the first store layout a 2026
user points this engine at; r9 verdict #4).

Zarr v3 layout (public spec, zarr-specs v3.0):

- ONE metadata document per node: ``zarr.json``.  Arrays carry
  ``zarr_format: 3``, ``node_type: "array"``, ``shape``, ``data_type``
  (named types, e.g. ``"float32"`` — no numpy typestr), ``chunk_grid``
  (``{"name": "regular", "configuration": {"chunk_shape": [...]}}``),
  ``chunk_key_encoding`` (``"default"``: keys ``c/0/1`` with a
  configurable ``/``/``.`` separator; ``"v2"``: dot-joined coords like
  v2), ``fill_value`` (JSON number or ``"NaN"``/``"Infinity"``/
  ``"-Infinity"``; ``null`` is not allowed and raises), and a ``codecs`` CHAIN replacing v2's single
  compressor + filters;
- the codec chain is staged: array→array codecs (``transpose``), then
  exactly one array→bytes codec (``bytes``, carrying the endianness
  that v2 kept in the dtype), then bytes→bytes codecs (``gzip``,
  ``blosc``, ``zstd``, ``crc32c``);
- chunk objects are FULL chunks in C order (edge chunks padded with
  ``fill_value``), one object per grid cell, under nested ``c/…`` paths
  for the default key encoding.

Spark-first mapping — identical shape to ``zarrv2`` (one driver-side
JSON GET for metadata, then the shared chunk grid), so the v3 module is
metadata parsing + the codec chain, and the COO assembly
(``zarrv2.zarr_matrix_coo``) is shared.  Every writer (group plain and
sharded, dictionary vector, obsm member) is one call of the shared
``chunkgrid.write_chunk_grid``; ``_v3_put`` supplies the codec chain or
shard packing and the key encoding, and ``zarr.json`` documents are
written only after the chunk job succeeds.  Every reader is one call of
``chunkgrid.read_chunk_grid``, planned from ``shape`` and ``chunks``
alone; ``_read_chunk_v3`` supplies the block at grid coords through the
key encoding (nested ``c/0/1`` or v2-style), then the codec chain or
the shard index.  Nothing is listed: on object stores that saves the
LIST, and a chunk object absent from the store reads as ``fill_value``.

Codecs: ``bytes`` (little/big endian), ``gzip`` (stdlib), ``blosc``
(the pure-Python container codec in ``blosc_py`` — v3 spells shuffle as
``"shuffle"``/``"noshuffle"``/``"bitshuffle"`` strings), and ``crc32c``
(Castagnoli checksum verified + stripped on read, appended on write —
table-driven pure Python below), plus the ``sharding_indexed`` codec
(r10): one shard object packs a C-order grid of independently-encoded
inner chunks behind a crc32c-protected (offset, nbytes) index at either
end — the v3 answer to object-store economics at 100 TB (PUT/LIST per
big shard, one range-read per cache-sized inner chunk; absent inner
chunks are fill-valued per the sparse-shard sentinel).  ``transpose``
(non-identity), nested sharding, whole-shard outer compression, and
``zstd`` without a zstd module raise a clear error naming the construct
— the module contract shared with ``minih5``/``blosc_py``: never
garbage-decode.
"""

from __future__ import annotations

import functools
import gzip
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
from .chunkgrid import Member, dense_rows, fill_chunk, read_chunk_grid, write_chunk_grid

# --- crc32c (Castagnoli, reflected poly 0x82F63B78) ---------------------------

_CRC32C_TABLE: list[int] = []
for _n in range(256):
    _c = _n
    for _ in range(8):
        _c = (_c >> 1) ^ 0x82F63B78 if _c & 1 else _c >> 1
    _CRC32C_TABLE.append(_c)


def crc32c(data: bytes) -> int:
    """CRC-32C (Castagnoli) of ``data`` — the v3 ``crc32c`` codec's
    checksum (RFC 3720 §B.4; table-driven, reflected, init/xorout
    0xFFFFFFFF)."""
    crc = 0xFFFFFFFF
    for b in data:
        crc = _CRC32C_TABLE[(crc ^ b) & 0xFF] ^ (crc >> 8)
    return crc ^ 0xFFFFFFFF


# --- metadata ------------------------------------------------------------------

#: v3 named data types -> numpy kind+size (endianness comes from the
#: ``bytes`` codec, not the dtype — a deliberate v3 spec change).
_V3_DTYPES = {
    "bool": "b1",
    "int8": "i1",
    "int16": "i2",
    "int32": "i4",
    "int64": "i8",
    "uint8": "u1",
    "uint16": "u2",
    "uint32": "u4",
    "uint64": "u8",
    "float32": "f4",
    "float64": "f8",
}

_FILL_STRINGS = {"NaN": np.nan, "Infinity": np.inf, "-Infinity": -np.inf}


def _v3_dtype(meta: dict) -> np.dtype:
    name = meta.get("data_type")
    if name not in _V3_DTYPES:
        raise NotImplementedError(f"zarr v3 data_type {name!r} is not supported")
    base = _V3_DTYPES[name]
    endian = "little"
    for codec in meta.get("codecs", []):
        if codec.get("name") == "bytes":
            endian = (codec.get("configuration") or {}).get("endian", "little")
    prefix = "|" if base[1] == "1" else ("<" if endian == "little" else ">")
    return np.dtype(prefix + base)


def _validate_plain_chain(codecs: list[dict], ndim: int, where: str) -> None:
    """Validate a non-sharded codec chain: exactly one ``bytes``
    array→bytes codec, identity-only ``transpose``, bytes→bytes tail from
    gzip/blosc/zstd/crc32c — raising NAMING the unsupported construct."""
    n_bytes = 0
    for codec in codecs:
        name, conf = codec.get("name"), codec.get("configuration") or {}
        if name == "bytes":
            n_bytes += 1
        elif name == "transpose":
            order = conf.get("order")
            if order != list(range(ndim)):
                raise NotImplementedError(
                    f"zarr v3 transpose with non-identity order {order} ({where})"
                )
        elif name == "sharding_indexed":
            raise NotImplementedError(
                f"zarr v3 nested sharding_indexed is not supported ({where})"
            )
        elif name not in ("gzip", "blosc", "zstd", "crc32c"):
            raise NotImplementedError(f"zarr v3 codec {name!r} ({where})")
    if n_bytes != 1:
        raise ValueError(
            f"zarr v3 {where} codec chain needs exactly one 'bytes' codec,"
            f" got {n_bytes}"
        )


def _validate_index_chain(index_codecs: list[dict]) -> None:
    """The shard index must decode with what this reader implements:
    one little-endian ``bytes`` codec plus optional ``crc32c`` — the
    combination zarr-python writes; anything else raises by name."""
    names = [c.get("name") for c in index_codecs]
    if names not in (["bytes"], ["bytes", "crc32c"]):
        raise NotImplementedError(
            f"zarr v3 shard index_codecs {names} are not supported"
        )
    conf = index_codecs[0].get("configuration") or {}
    if conf.get("endian", "little") != "little":
        raise NotImplementedError("zarr v3 big-endian shard index")


def read_zarr_v3_meta(array_path: str) -> dict:
    """Parse + validate an array's ``zarr.json`` (one driver-side GET).

    Enforces the constructs this reader implements and raises NAMING the
    unsupported one otherwise: regular chunk grid, default/v2 chunk key
    encodings, and either a plain chain (exactly one ``bytes``
    array→bytes codec + gzip/blosc/zstd/crc32c tail, identity-only
    ``transpose``) or a ``sharding_indexed`` chain (optional identity
    transpose, then the shard codec LAST — whole-shard outer compression
    is rejected by name; inner and index chains re-validated with the
    same rules).  For sharded arrays ``chunks`` is the SHARD shape (the
    outer grid the chunk keys address) and ``sharding`` carries the
    inner-chunk geometry."""
    with open(os.path.join(array_path, "zarr.json")) as f:
        meta = json.load(f)
    return _validate_v3_array_meta(meta, array_path)


def _validate_v3_array_meta(meta: dict, array_path: str) -> dict:
    """The v3 array-metadata guards, shared by the per-array ``zarr.json``
    path and the consolidated-group path (same document, same refusals)."""
    if meta.get("zarr_format") != 3 or meta.get("node_type") != "array":
        raise ValueError(f"not a zarr v3 array: {array_path}")
    grid = meta.get("chunk_grid", {})
    if grid.get("name") != "regular":
        raise NotImplementedError(f"zarr v3 chunk grid {grid.get('name')!r}")
    keyenc = meta.get("chunk_key_encoding", {"name": "default"})
    if keyenc.get("name") not in ("default", "v2"):
        raise NotImplementedError(
            f"zarr v3 chunk_key_encoding {keyenc.get('name')!r}"
        )
    fill = meta.get("fill_value", 0)
    if fill is None:
        raise ValueError(
            f"zarr v3 array {array_path}: fill_value null is not allowed by the v3 spec"
        )
    if isinstance(fill, str):
        if fill not in _FILL_STRINGS:
            raise NotImplementedError(f"zarr v3 fill_value {fill!r}")
        fill = _FILL_STRINGS[fill]
    shape = meta["shape"]
    chunks = grid["configuration"]["chunk_shape"]
    codecs = meta.get("codecs", [])
    sharding = None
    if any(c.get("name") == "sharding_indexed" for c in codecs):
        *head, last = codecs
        if last.get("name") != "sharding_indexed":
            raise NotImplementedError(
                "zarr v3 codecs after sharding_indexed (whole-shard outer"
                " compression) are not supported"
            )
        for codec in head:
            if codec.get("name") != "transpose" or (
                codec.get("configuration") or {}
            ).get("order") != list(range(len(shape))):
                raise NotImplementedError(
                    f"zarr v3 codec {codec.get('name')!r} before sharding_indexed"
                )
        conf = last.get("configuration") or {}
        inner = conf["chunk_shape"]
        if len(inner) != len(chunks) or any(
            s % i for s, i in zip(chunks, inner)
        ):
            raise ValueError(
                f"zarr v3 shard shape {chunks} not divisible by inner"
                f" chunk shape {inner}"
            )
        inner_codecs = conf.get("codecs", [{"name": "bytes"}])
        _validate_plain_chain(inner_codecs, len(shape), "shard inner")
        index_codecs = conf.get(
            "index_codecs", [{"name": "bytes"}, {"name": "crc32c"}]
        )
        _validate_index_chain(index_codecs)
        loc = conf.get("index_location", "end")
        if loc not in ("start", "end"):
            raise NotImplementedError(f"zarr v3 index_location {loc!r}")
        sharding = {
            "inner": inner,
            "codecs": inner_codecs,
            "index_codecs": index_codecs,
            "index_location": loc,
        }
        dtype_codecs = inner_codecs
    else:
        _validate_plain_chain(codecs, len(shape), "array")
        dtype_codecs = codecs
    return {
        "shape": shape,
        "chunks": chunks,
        "dtype": _v3_dtype({**meta, "codecs": dtype_codecs}),
        "fill_value": fill,
        "codecs": codecs,
        "key_encoding": keyenc,
        "sharding": sharding,
        "attributes": meta.get("attributes") or {},
    }


# --- codec chain ----------------------------------------------------------------

_V3_SHUFFLE = {"noshuffle": 0, "shuffle": 1, "bitshuffle": 2}


def _decode_chain(blob: bytes, codecs: list[dict]) -> bytes:
    """Run the bytes→bytes tail of the codec chain in REVERSE (the spec's
    decode direction); the ``bytes`` codec itself is handled by the
    caller's ``np.frombuffer`` dtype."""
    for codec in reversed(codecs):
        name, conf = codec.get("name"), codec.get("configuration") or {}
        if name in ("bytes", "transpose"):
            continue
        if name == "crc32c":
            payload, tail = blob[:-4], blob[-4:]
            want = int.from_bytes(tail, "little")
            got = crc32c(payload)
            if got != want:
                raise ValueError(
                    f"zarr v3 crc32c mismatch: stored {want:#010x}, computed {got:#010x}"
                )
            blob = payload
        elif name == "gzip":
            blob = gzip.decompress(blob)
        elif name == "blosc":
            from . import blosc_py

            blob = blosc_py.decompress(blob)
        elif name == "zstd":
            try:
                import zstandard  # type: ignore

                blob = zstandard.ZstdDecompressor().decompress(blob)
            except ImportError as exc:
                raise NotImplementedError(
                    "zarr v3 zstd codec needs a zstd module"
                ) from exc
    return blob


def _encode_chain(block: bytes, codecs: list[dict], typesize: int) -> bytes:
    for codec in codecs:
        name, conf = codec.get("name"), codec.get("configuration") or {}
        if name in ("bytes", "transpose"):
            continue
        if name == "gzip":
            block = gzip.compress(block, compresslevel=conf.get("level", 5), mtime=0)
        elif name == "blosc":
            shuffle = _V3_SHUFFLE.get(conf.get("shuffle", "noshuffle"), 0)
            if shuffle == 2:
                raise NotImplementedError("blosc bit-shuffle needs the native library")
            from . import blosc_py

            block = blosc_py.compress(
                block,
                conf.get("typesize", typesize),
                cname=conf.get("cname", "zstd"),
                clevel=conf.get("clevel", 5),
                shuffle=shuffle == 1,
                blocksize=conf.get("blocksize", 0),
            )
        elif name == "crc32c":
            block = block + crc32c(block).to_bytes(4, "little")
        elif name == "zstd":
            raise NotImplementedError("zarr v3 zstd encode needs a zstd module")
    return block


# --- sharding_indexed ---------------------------------------------------------

_MISSING = (1 << 64) - 1  # the spec's "chunk absent" offset/nbytes sentinel


def _index_nbytes(n_inner: int, index_codecs: list[dict]) -> int:
    """Encoded shard-index size: 16 bytes per inner chunk (two uint64 LE)
    through the ``bytes`` codec, +4 per ``crc32c`` in the chain."""
    return 16 * n_inner + 4 * sum(
        1 for c in index_codecs if c.get("name") == "crc32c"
    )


def _decode_shard(blob: bytes, meta: dict) -> np.ndarray:
    """One shard object → the full (outer-chunk-shaped) ndarray: parse the
    footer/header index (two uint64 LE per inner chunk, crc32c-verified),
    decode each PRESENT inner chunk through the inner codec chain, place
    it on its C-order grid cell, and fill absent cells with
    ``fill_value`` — the spec's sparse-shard semantics."""
    sh = meta["sharding"]
    inner, dtype = sh["inner"], meta["dtype"]
    grid = [s // i for s, i in zip(meta["chunks"], inner)]
    n = int(np.prod(grid))
    isz = _index_nbytes(n, sh["index_codecs"])
    idx_blob = blob[:isz] if sh["index_location"] == "start" else blob[-isz:]
    offs = np.frombuffer(
        _decode_chain(idx_blob, sh["index_codecs"]), dtype="<u8"
    ).reshape(n, 2)
    block = np.full(meta["chunks"], meta["fill_value"], dtype=dtype)
    for i in range(n):
        off, nb = int(offs[i, 0]), int(offs[i, 1])
        if off == _MISSING:
            continue
        part = np.frombuffer(
            _decode_chain(blob[off : off + nb], sh["codecs"]), dtype=dtype
        ).reshape(inner)
        pos = np.unravel_index(i, grid)
        block[tuple(slice(p * c, (p + 1) * c) for p, c in zip(pos, inner))] = part
    return block


def _encode_shard(
    inners: list[bytes | None], index_codecs: list[dict], index_location: str
) -> bytes:
    """Pack encoded inner chunks (C-order over the inner grid; ``None`` =
    absent) into one shard object with its (offset, nbytes) index —
    offsets are absolute within the shard per the spec, so a header
    index shifts the body base."""
    import struct

    isz = _index_nbytes(len(inners), index_codecs)
    base = isz if index_location == "start" else 0
    body = bytearray()
    entries = []
    for enc in inners:
        if enc is None:
            entries.append((_MISSING, _MISSING))
        else:
            entries.append((base + len(body), len(enc)))
            body.extend(enc)
    idx = _encode_chain(
        b"".join(struct.pack("<QQ", o, nb) for o, nb in entries),
        index_codecs,
        8,
    )
    assert len(idx) == isz
    return idx + bytes(body) if index_location == "start" else bytes(body) + idx


# --- chunk keys ------------------------------------------------------------------


def _chunk_key_v3(coords: tuple[int, ...], keyenc: dict) -> str:
    sep = (keyenc.get("configuration") or {}).get(
        "separator", "/" if keyenc.get("name") == "default" else "."
    )
    body = sep.join(str(c) for c in coords)
    return f"c{sep}{body}" if keyenc.get("name") == "default" else body


# --- read ------------------------------------------------------------------------


#: integer dtype kinds the v3 readers emit as ``bigint`` (a bool reads as
#: ``bigint`` too)
_INT_KINDS = "iub"


def _read_chunk_v3(array_path: str, meta: dict, coords: tuple[int, ...]) -> np.ndarray:
    """The full block at grid ``coords``: the object named by the key
    encoding, decoded through the codec chain (or unpacked from its
    shard).  A chunk object absent from the store reads as the array's
    ``fill_value`` (``chunkgrid.fill_chunk``)."""
    key = _chunk_key_v3(coords, meta["key_encoding"])
    try:
        with open(os.path.join(array_path, key), "rb") as fh:
            blob = fh.read()
    except FileNotFoundError:
        return fill_chunk(
            f"{key!r} of {array_path}", meta["chunks"], meta["dtype"], meta["fill_value"]
        )
    if meta["sharding"]:
        return _decode_shard(blob, meta)
    return np.frombuffer(_decode_chain(blob, meta["codecs"]), dtype=meta["dtype"]).reshape(
        meta["chunks"]
    )


def _read_grid_v3(spark: SparkSession, array_path: str, meta: dict, ndim: int) -> DataFrame:
    kind = "matrix" if ndim == 2 else "vector"
    chunk = functools.partial(_read_chunk_v3, array_path, meta)
    return read_chunk_grid(spark, meta, chunk, _INT_KINDS, ndim, f"read_zarr_v3_{kind}")


def read_zarr_v3_matrix(spark: SparkSession, array_path: str) -> DataFrame:
    """2-D Zarr v3 array -> (row, col0, values: array<double>) slice rows
    — the ``zarrv2.read_zarr_matrix`` contract, so ``zarr_matrix_coo``
    and every downstream consumer work unchanged on v3 stores."""
    return _read_grid_v3(spark, array_path, read_zarr_v3_meta(array_path), 2)


def read_zarr_v3_vector(spark: SparkSession, array_path: str) -> DataFrame:
    """1-D Zarr v3 array -> (row: bigint, value: bigint|double) rows."""
    return _read_grid_v3(spark, array_path, read_zarr_v3_meta(array_path), 1)


# --- write -----------------------------------------------------------------------

_DEFAULT_KEYENC = {"name": "default", "configuration": {"separator": "/"}}
#: the modern-default-ish chain the registered roundtrip exercises:
#: endian-explicit bytes codec, blosc container (zlib cname — the one
#: decodable without native libs), integrity checksum.
_DEFAULT_CODECS = [
    {"name": "bytes", "configuration": {"endian": "little"}},
    {
        "name": "blosc",
        "configuration": {
            "cname": "zlib",
            "clevel": 3,
            "shuffle": "shuffle",
            "blocksize": 0,
        },
    },
    {"name": "crc32c"},
]


def _write_v3_meta(
    path: str,
    shape: list[int],
    chunks: list[int],
    data_type: str,
    codecs: list[dict],
    fill_value,
    keyenc: dict,
    attributes: dict | None = None,
) -> None:
    os.makedirs(path, exist_ok=True)
    meta = {
        "zarr_format": 3,
        "node_type": "array",
        "shape": shape,
        "data_type": data_type,
        "chunk_grid": {
            "name": "regular",
            "configuration": {"chunk_shape": chunks},
        },
        "chunk_key_encoding": keyenc,
        "fill_value": fill_value,
        "codecs": codecs,
        "attributes": attributes or {},
    }
    with open(os.path.join(path, "zarr.json"), "w") as f:
        json.dump(meta, f)


_DEFAULT_INDEX_CODECS = [
    {"name": "bytes", "configuration": {"endian": "little"}},
    {"name": "crc32c"},
]


def _byteorder(codecs: list[dict]) -> str:
    """The numpy byte-order prefix the chain's ``bytes`` codec asks for."""
    endian = "little"
    for codec in codecs:
        if codec.get("name") == "bytes":
            endian = (codec.get("configuration") or {}).get("endian", "little")
    return "<" if endian == "little" else ">"


def _v3_put(codecs: list[dict], keyenc: dict, shard_inner_rows: int | None = None):
    """The v3 ``put`` for ``write_chunk_grid``: encode the block through
    the codec chain — or, with ``shard_inner_rows``, encode each inner
    row-slab and pack them behind the shard index, slabs wholly inside
    the edge padding written as ABSENT — and name the object by the
    key encoding."""

    def put(path: str, coords: tuple[int, ...], block: np.ndarray, valid: int) -> None:
        size = block.dtype.itemsize
        if shard_inner_rows is None:
            payload = _encode_chain(block.tobytes(), codecs, size)
        else:
            inners = [
                None if r0 >= valid
                else _encode_chain(block[r0 : r0 + shard_inner_rows].tobytes(), codecs, size)
                for r0 in range(0, len(block), shard_inner_rows)
            ]
            payload = _encode_shard(inners, _DEFAULT_INDEX_CODECS, "end")
        full = os.path.join(path, _chunk_key_v3(coords, keyenc))
        os.makedirs(os.path.dirname(full), exist_ok=True)
        with open(full, "wb") as f:
            f.write(payload)

    return put


_V3_NAMES = {v: k for k, v in _V3_DTYPES.items()}  # "f4" -> "float32"


def _v3_meta(
    codecs: list[dict],
    keyenc: dict,
    shard_inner_rows: int | None = None,
    attributes: dict | None = None,
):
    """The v3 ``meta`` for ``write_chunk_grid``: one ``zarr.json``, its
    chain wrapped in ``sharding_indexed`` when the chunks are shards of
    ``shard_inner_rows``-row inner chunks."""

    def meta(m, shape: list[int], chunks: list[int]) -> None:
        chain = codecs
        if shard_inner_rows is not None:
            conf = {
                "chunk_shape": [shard_inner_rows, *chunks[1:]],
                "codecs": codecs,
                "index_codecs": _DEFAULT_INDEX_CODECS,
                "index_location": "end",
            }
            chain = [{"name": "sharding_indexed", "configuration": conf}]
        name = _V3_NAMES[m.dtype.str[1:]]
        _write_v3_meta(m.path, shape, chunks, name, chain, m.fill, keyenc, attributes)

    return meta


def write_zarr_v3_group(
    wide: DataFrame,
    path: str,
    rows_per_chunk: int = 64,
    codecs: list[dict] | None = None,
    cols_per_chunk: int | None = None,
    keyenc: dict | None = None,
    shard_inner_rows: int | None = None,
) -> dict:
    """Write (vec_id, embedding) rows as a Zarr v3 group at ``path``
    (``X`` 2-D float32 + ``vec_id`` 1-D int64) — the ``zarrv2``
    ``groupBy(chunk)⟶applyInPandas`` write with v3 metadata, key
    encoding, and codec chain.  The groupBy exchange IS the
    chunk-aligned repartition; the driver writes only ``zarr.json``
    documents.

    ``shard_inner_rows`` switches the arrays to ``sharding_indexed``:
    each outer chunk becomes ONE shard object packing
    ``rows_per_chunk / shard_inner_rows`` inner chunks (``codecs``
    becomes the inner chain) behind a crc32c-protected footer index —
    the v3 answer to object-store PUT/LIST costs at 100 TB (big objects
    outside, cache-sized chunks inside, one range-read per inner chunk).
    Inner chunks entirely inside the edge padding are written as ABSENT
    (the spec's sparse-shard sentinel), like real writers do."""
    codecs = codecs if codecs is not None else _DEFAULT_CODECS
    keyenc = keyenc if keyenc is not None else _DEFAULT_KEYENC
    if shard_inner_rows is not None and rows_per_chunk % shard_inner_rows:
        raise ValueError(
            f"shard_inner_rows {shard_inner_rows} must divide"
            f" rows_per_chunk {rows_per_chunk}"
        )
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)

    n_rows, bounds = dense_rows(wide, "vec_id", F.max(F.size("embedding")).alias("dim"))
    if n_rows == 0:
        raise ValueError("write_zarr_v3_group got no rows: needs dense ids 0..n-1 with n >= 1")
    dim = int(bounds["dim"])
    cpc = cols_per_chunk or dim
    bo = _byteorder(codecs)
    members = [
        Member(os.path.join(path, "X"), "embedding", np.dtype(bo + "f4"), 0.0, dim, cpc),
        Member(os.path.join(path, "vec_id"), "vec_id", np.dtype(bo + "i8")),
    ]
    n_chunks = write_chunk_grid(
        wide, "vec_id", n_rows, rows_per_chunk, members,
        _v3_put(codecs, keyenc, shard_inner_rows), _v3_meta(codecs, keyenc, shard_inner_rows),
    )
    with open(os.path.join(path, "zarr.json"), "w") as f:
        json.dump({"zarr_format": 3, "node_type": "group", "attributes": {}}, f)
    return {
        "shape": [n_rows, dim],
        "chunks": [rows_per_chunk, cpc],
        "n_chunks": int(n_chunks) * ((dim + cpc - 1) // cpc),
    }


# --- registered roundtrip ----------------------------------------------------------

_ZARR_V3_ORACLE = """
SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
       round(CAST(unnest(embedding) AS DOUBLE), 6) AS v
FROM embeddings
"""


@query("zarr_v3_roundtrip", oracle=_ZARR_V3_ORACLE, tags=("sources", "zarr", "v3"), cache=False)
def zarr_v3_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1+A2 on the CURRENT format generation: embeddings → Zarr v3 group
    write (2-D column-chunked grid so every matrix row spans two nested
    ``c/r/c`` objects; bytes→blosc(zlib,shuffle)→crc32c codec chain —
    endianness, container codec, and integrity checksum all live in the
    chain now) → parallel chunk read of both arrays → row-index join →
    COO.  Hash equality with the parquet-derived oracle proves metadata
    parsing, both chunk-key geometries, the codec chain, and the edge
    padding are bit-exact.  Unit tests pin hand-built spec vectors
    (including big-endian, gzip, v2-style keys, and a corrupted-crc32c
    reject) — the ``minih5`` fixture pattern."""
    import tempfile

    from .zarrv2 import zarr_matrix_coo

    e = load_table(spark, sf_dir, "embeddings")
    e_dim = int(e.agg(F.max(F.size("embedding"))).collect()[0][0])
    store = os.path.join(
        tempfile.gettempdir(),
        f"sce_zarr3_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}",
    )
    write_zarr_v3_group(e, store, cols_per_chunk=(e_dim + 1) // 2)
    x = read_zarr_v3_matrix(spark, os.path.join(store, "X"))
    ids = read_zarr_v3_vector(spark, os.path.join(store, "vec_id")).withColumnRenamed(
        "value", "vec_id"
    )
    return zarr_matrix_coo(x, ids)


@query(
    "zarr_v3_sharded_roundtrip",
    oracle=_ZARR_V3_ORACLE,
    tags=("sources", "zarr", "v3", "sharding"),
    cache=False,
)
def zarr_v3_sharded_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1+A2 through the ``sharding_indexed`` codec — the layout a REAL
    100 TB v3 array uses (one object per 64-row shard, 16-row inner
    chunks through the bytes→blosc→crc32c chain behind a crc32c-protected
    footer index; the final shard carries ABSENT trailing inner chunks,
    exercising the sparse sentinel).  Same parquet-derived COO oracle as
    ``zarr_v3_roundtrip``: hash equality proves index parse, per-inner-
    chunk decode, grid placement, absence fill, and edge trim are all
    bit-exact.  Unit tests add hand-built shard fixtures (header-index
    variant, corrupted index crc reject, missing-chunk fill)."""
    import tempfile

    from .zarrv2 import zarr_matrix_coo

    e = load_table(spark, sf_dir, "embeddings")
    store = os.path.join(
        tempfile.gettempdir(),
        f"sce_zarr3s_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}",
    )
    write_zarr_v3_group(e, store, shard_inner_rows=16)
    x = read_zarr_v3_matrix(spark, os.path.join(store, "X"))
    ids = read_zarr_v3_vector(spark, os.path.join(store, "vec_id")).withColumnRenamed(
        "value", "vec_id"
    )
    return zarr_matrix_coo(x, ids)


# --- consolidated metadata (inline in the root zarr.json) ------------------------

def consolidate_metadata_v3(group_path: str) -> dict:
    """Inline every child node's ``zarr.json`` into the root group
    document under ``consolidated_metadata`` — zarr-python 3's v3-native
    consolidation (``{"metadata": {"X": <array zarr.json>, ...},
    "kind": "inline", "must_understand": false}``; child keys are node
    paths relative to the group, no file-name suffix).  Same object-store
    motivation as v2's ``.zmetadata``: open the whole group with ONE
    metadata GET.  ``must_understand: false`` is what keeps the store
    readable by consumers that predate consolidation — they just fall
    back to per-node reads.  Written atomically (tmp + rename).
    """
    root_file = os.path.join(group_path, "zarr.json")
    with open(root_file) as fh:
        root = json.load(fh)
    if root.get("zarr_format") != 3 or root.get("node_type") != "group":
        raise ValueError(f"not a zarr v3 group: {group_path}")

    members: dict[str, dict] = {}
    for dirpath, dirs, files in os.walk(group_path):
        # Prune non-node subtrees in place: only directories that carry a
        # zarr.json are real child nodes; nested chunk-key trees
        # ("X/c/0/1") contain none, and walking them is O(total chunk
        # objects) local I/O for a metadata-only pass.
        dirs[:] = [
            d for d in dirs if os.path.exists(os.path.join(dirpath, d, "zarr.json"))
        ]
        if dirpath == group_path or "zarr.json" not in files:
            continue
        rel = os.path.relpath(dirpath, group_path).replace(os.sep, "/")
        with open(os.path.join(dirpath, "zarr.json")) as fh:
            members[rel] = json.load(fh)

    root["consolidated_metadata"] = {
        "metadata": {k: members[k] for k in sorted(members)},
        "kind": "inline",
        "must_understand": False,
    }
    # mkstemp (not a fixed tmp name): concurrent consolidations must each
    # rename a COMPLETE document into place (see zarrv2.consolidate_metadata).
    import tempfile as _tempfile

    fd, tmp = _tempfile.mkstemp(dir=group_path, prefix="zarr.json.tmp.")
    with os.fdopen(fd, "w") as fh:
        json.dump(root, fh, indent=1, sort_keys=True)
    # mkstemp's 0600 would survive the rename, making the one root
    # document more restrictive than the rest of the store (see
    # zarrv2._chmod_umask_default).
    from .zarrv2 import _chmod_umask_default

    _chmod_umask_default(tmp)
    os.replace(tmp, root_file)
    return root


def read_consolidated_meta_v3(group_path: str) -> dict:
    """Root ``zarr.json`` -> {child path: metadata dict} from the inline
    ``consolidated_metadata``.  Raises ``KeyError`` when the group is not
    consolidated and ``ValueError`` on a kind we did not implement
    against (per the spec, an unknown kind with ``must_understand`` unset
    must not be silently reinterpreted)."""
    with open(os.path.join(group_path, "zarr.json")) as fh:
        root = json.load(fh)
    if root.get("zarr_format") != 3 or root.get("node_type") != "group":
        raise ValueError(f"not a zarr v3 group: {group_path}")
    cm = root.get("consolidated_metadata")
    if cm is None:
        raise KeyError(f"group {group_path} carries no consolidated_metadata")
    if cm.get("kind") != "inline":
        raise ValueError(f"unsupported consolidated_metadata kind {cm.get('kind')!r}")
    md = cm.get("metadata")
    if not isinstance(md, dict):
        raise ValueError(f"malformed consolidated_metadata at {group_path}")
    return md


def _consolidated_v3_array_meta(group_path: str, array: str) -> dict:
    md = read_consolidated_meta_v3(group_path)
    if array not in md:
        raise KeyError(f"array {array!r} not in consolidated metadata ({group_path})")
    return _validate_v3_array_meta(md[array], f"{group_path}:{array}")


def read_zarr_v3_matrix_consolidated(
    spark: SparkSession, group_path: str, array: str = "X"
) -> DataFrame:
    """``read_zarr_v3_matrix`` planned from the group's inline
    consolidated metadata — the member ``zarr.json`` is never opened."""
    meta = _consolidated_v3_array_meta(group_path, array)
    return _read_grid_v3(spark, os.path.join(group_path, array), meta, 2)


def read_zarr_v3_vector_consolidated(
    spark: SparkSession, group_path: str, array: str
) -> DataFrame:
    """``read_zarr_v3_vector`` planned from the group's inline
    consolidated metadata."""
    meta = _consolidated_v3_array_meta(group_path, array)
    return _read_grid_v3(spark, os.path.join(group_path, array), meta, 1)


@query(
    "zarr_v3_consolidated_roundtrip",
    oracle=_ZARR_V3_ORACLE,
    tags=("sources", "zarr", "v3", "consolidated"),
    cache=False,
)
def zarr_v3_consolidated_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consolidated metadata on the CURRENT generation: embeddings → v3
    group write → inline consolidation into the root ``zarr.json``
    (zarr-python 3's format, ``must_understand: false``) → both arrays
    planned exclusively from the consolidated document → COO, hash-equal
    to the same oracle as ``zarr_v3_roundtrip``.  With v2's
    ``.zmetadata`` this completes one-GET group opening across BOTH
    format generations; exclusivity is pinned in tests by deleting the
    member ``zarr.json`` files from a consolidated copy.
    """
    import tempfile

    from .zarrv2 import zarr_matrix_coo

    e = load_table(spark, sf_dir, "embeddings")
    store = os.path.join(
        tempfile.gettempdir(),
        f"sce_zarr3_consol_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}",
    )
    write_zarr_v3_group(e, store)
    consolidate_metadata_v3(store)
    x = read_zarr_v3_matrix_consolidated(spark, store, "X")
    ids = read_zarr_v3_vector_consolidated(spark, store, "vec_id").withColumnRenamed(
        "value", "vec_id"
    )
    return zarr_matrix_coo(x, ids)


# --- dictionary-encoded (categorical) 1-D string vectors ---------------------------

def write_zarr_v3_dict_vector(
    vec: DataFrame,
    path: str,
    rows_per_chunk: int = 64,
    codecs: list[dict] | None = None,
    keyenc: dict | None = None,
) -> dict:
    """Write a dense (vec_id, value: string) column as a DICTIONARY-ENCODED
    Zarr v3 1-D array (r13 verdict #4: categorical obs annotations in the
    current format generation): an int64 ``codes`` array through the
    normal codec chain, with the sorted category list in the array's
    ``attributes`` (``{"encoding": "dictionary", "categories": [...]}``) —
    the AnnData categorical shape (codes + categories) expressed in the
    one v3 construct every reader parses anyway (the zarr.json document),
    avoiding both the fixed-width-bytes v3 extension dtype and a VLen
    filter codec.

    Categories are collected driver-side — O(distinct values), which is
    what CATEGORICAL means (cell types, batches: tens, not millions); the
    codes themselves are written distributed, one ``applyInPandas`` task
    per chunk, exactly like the group writer's ``vec_id`` array.  A code
    of -1 is reserved for NULL (AnnData's convention); fill_value is -1
    so absent tail rows read back as NULL, not as category 0.
    """
    codecs = codecs if codecs is not None else _DEFAULT_CODECS
    keyenc = keyenc if keyenc is not None else _DEFAULT_KEYENC
    shutil.rmtree(path, ignore_errors=True)

    n_rows, bounds = dense_rows(vec, "vec_id", F.collect_set("value").alias("cats"))
    cats = sorted(bounds["cats"])
    code_of = {c: i for i, c in enumerate(cats)}
    i8 = np.dtype(_byteorder(codecs) + "i8")

    def _codes(col: pd.Series) -> np.ndarray:
        return np.array([code_of.get(v, -1) if v is not None else -1 for v in col], dtype=i8)

    n_chunks = write_chunk_grid(
        vec, "vec_id", n_rows, rows_per_chunk, [Member(path, "value", i8, -1, encode=_codes)],
        _v3_put(codecs, keyenc),
        _v3_meta(codecs, keyenc, attributes={"encoding": "dictionary", "categories": cats}),
    )
    return {"shape": [n_rows], "chunks": [rows_per_chunk], "n_chunks": int(n_chunks),
            "categories": cats}


def read_zarr_v3_dict_vector(spark: SparkSession, array_path: str) -> DataFrame:
    """Read a dictionary-encoded v3 string vector back to
    (row: bigint, value: string): plan the int64 codes read as usual,
    then decode each code through the ``categories`` attribute with a
    row-local literal-array lookup (no join, no shuffle — the dictionary
    rides the plan as a constant, exactly how a categorical should
    scale).  Code -1 (the NULL sentinel / fill) decodes to NULL."""
    meta = read_zarr_v3_meta(array_path)
    attrs = meta.get("attributes") or {}
    if attrs.get("encoding") != "dictionary" or "categories" not in attrs:
        raise ValueError(
            f"not a dictionary-encoded vector: {array_path} (attributes"
            f" lack encoding=dictionary/categories)"
        )
    cats = attrs["categories"]
    codes = read_zarr_v3_vector(spark, array_path)
    lut = F.array(*[F.lit(c) for c in cats])
    return codes.select(
        "row",
        F.when(
            (F.col("value") >= 0) & (F.col("value") < len(cats)),
            F.element_at(lut, F.col("value").cast("int") + 1),
        ).alias("value"),
    )


_ZARR_V3_DICT_ORACLE = """
SELECT vec_id, 'cell_type_' || CAST(vec_id % 5 AS VARCHAR) AS ct
FROM embeddings
"""


@query(
    "zarr_v3_obs_dict_roundtrip",
    oracle=_ZARR_V3_DICT_ORACLE,
    tags=("sources", "zarr", "v3", "categorical"),
    cache=False,
)
def zarr_v3_obs_dict_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical annotation through the v3 generation end to end: derive
    a 5-level cell-type label per row, write it as a dictionary-encoded
    v3 vector (int64 codes + categories in attributes), read it back
    decoding codes through the stored dictionary, and hash-compare the
    decoded strings against the oracle's direct derivation.  Pins the
    whole codes↔categories contract: stable code assignment (sorted
    categories), chunk-grid placement of codes, the -1/NULL sentinel
    never colliding with a real category, and attribute round-tripping
    through the zarr.json document."""
    import tempfile

    e = load_table(spark, sf_dir, "embeddings")
    vec = e.select(
        "vec_id",
        F.concat(F.lit("cell_type_"), (F.col("vec_id") % 5).cast("string")).alias(
            "value"
        ),
    )
    store = os.path.join(
        tempfile.gettempdir(),
        f"sce_zarr3_dict_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}",
    )
    write_zarr_v3_dict_vector(vec, store)
    back = read_zarr_v3_dict_vector(spark, store)
    return back.select(F.col("row").alias("vec_id"), F.col("value").alias("ct"))


# --- obsm members + uns attributes (the AnnData component set, v3 side) --------

def write_zarr_v3_obsm_member(
    values: DataFrame,
    apath: str,
    n_rows: int,
    rows_per_chunk: int = 64,
    codecs: list[dict] | None = None,
    keyenc: dict | None = None,
) -> dict:
    """Write one AnnData ``obsm`` member — a computed per-cell matrix
    ``(row_id, values array<double>)`` with dense 0..n_rows-1 ids — as a
    2-D float64 Zarr v3 array (r14 verdict #1, the v3 twin of
    ``zarrv2.write_zarr_obsm_member``).  float64 because obsm members
    are DERIVED doubles (PCA scores, layouts): storing at compute
    precision keeps the write→read→re-use cycle bit-exact.  Same
    distributed shape as ``write_zarr_v3_group``: the groupBy(chunk)
    exchange is the chunk-aligned repartition; the driver writes only
    ``zarr.json``."""
    codecs = codecs if codecs is not None else _DEFAULT_CODECS
    keyenc = keyenc if keyenc is not None else _DEFAULT_KEYENC
    from .zarrv2 import _PER_CELL

    _, bounds = dense_rows(
        values, "row_id", F.max(F.size("values")).alias("dim"), n=n_rows, what=_PER_CELL
    )
    dim = int(bounds["dim"])
    n_chunks = write_chunk_grid(
        values, "row_id", n_rows, rows_per_chunk,
        [Member(apath, "values", np.dtype(_byteorder(codecs) + "f8"), 0.0, dim)],
        _v3_put(codecs, keyenc), _v3_meta(codecs, keyenc),
    )
    return {"shape": [n_rows, dim], "chunks": [rows_per_chunk, dim], "n_chunks": int(n_chunks)}


def write_group_attrs_v3(group_path: str, attrs: dict) -> None:
    """Merge ``attrs`` into the root group document's ``attributes`` —
    the v3-native ``uns`` carrier (v2 keeps a separate ``.zattrs``; v3
    folds user attributes into ``zarr.json``).  Read-modify-write of one
    small JSON, driver-side."""
    root_file = os.path.join(group_path, "zarr.json")
    with open(root_file) as fh:
        root = json.load(fh)
    if root.get("zarr_format") != 3 or root.get("node_type") != "group":
        raise ValueError(f"not a zarr v3 group: {group_path}")
    merged = dict(root.get("attributes") or {})
    merged.update(attrs)
    root["attributes"] = merged
    with open(root_file, "w") as fh:
        json.dump(root, fh, sort_keys=True)


def read_group_attrs_v3(group_path: str) -> dict:
    """Read the root group document's ``attributes`` (``{}`` if absent)."""
    with open(os.path.join(group_path, "zarr.json")) as fh:
        root = json.load(fh)
    return root.get("attributes") or {}


_ZARR_V3_OBSM_ORACLE = """
SELECT vec_id, pos, v, 4 AS uns_k
FROM (
  SELECT vec_id, 1 AS pos,
         round(CAST(embedding[1] AS DOUBLE) - CAST(embedding[2] AS DOUBLE), 6) AS v
  FROM embeddings
  UNION ALL
  SELECT vec_id, 2 AS pos,
         round(CAST(embedding[3] AS DOUBLE) + 2 * CAST(embedding[4] AS DOUBLE), 6) AS v
  FROM embeddings
)
"""


@query(
    "zarr_v3_obsm_roundtrip",
    oracle=_ZARR_V3_OBSM_ORACLE,
    tags=("sources", "zarr", "v3", "obsm"),
    cache=False,
)
def zarr_v3_obsm_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``obsm`` + ``uns`` through the v3 generation (r14 verdict #1, the
    generation twin of ``zarr_obsm_roundtrip``): write the embeddings
    group (X + vec_id), add a computed 2-D float64 ``obsm_X_umap``
    member (deterministic linear projection) through the v3 codec chain
    (bytes→blosc→crc32c), fold ``uns`` into the root group's
    ``attributes``, read both back, and hash the recovered COO with the
    recovered uns parameter.  Pins float64 through the v3 chain, the
    2-D chunk-key write of a derived member, and attribute merge
    round-tripping in the root document."""
    import tempfile

    e = load_table(spark, sf_dir, "embeddings")
    proj = e.select(
        F.col("vec_id").alias("row_id"),
        F.array(
            F.round(
                F.element_at("embedding", 1).cast("double")
                - F.element_at("embedding", 2).cast("double"),
                6,
            ),
            F.round(
                F.element_at("embedding", 3).cast("double")
                + F.lit(2.0) * F.element_at("embedding", 4).cast("double"),
                6,
            ),
        ).alias("values"),
    )
    store = os.path.join(
        tempfile.gettempdir(),
        f"sce_zarr3_obsm_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}",
    )
    info = write_zarr_v3_group(e, store)
    write_zarr_v3_obsm_member(proj, os.path.join(store, "obsm_X_umap"), info["shape"][0])
    write_group_attrs_v3(store, {"uns": {"neighbors": {"k": 4, "method": "exact"}}})
    uns = read_group_attrs_v3(store)["uns"]
    uns_k = int(uns["neighbors"]["k"])
    m = read_zarr_v3_matrix(spark, os.path.join(store, "obsm_X_umap"))
    ids = read_zarr_v3_vector(spark, os.path.join(store, "vec_id")).withColumnRenamed(
        "value", "vec_id"
    )
    return (
        m.join(ids, "row")
        .select("vec_id", "col0", F.posexplode("values").alias("p0", "v"))
        .select(
            "vec_id",
            (F.col("col0") + F.col("p0") + 1).cast("int").alias("pos"),
            "v",
            F.lit(uns_k).cast("int").alias("uns_k"),
        )
    )
