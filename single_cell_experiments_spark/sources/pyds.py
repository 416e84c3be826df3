"""Python DataSource API (Spark 4) connector for the engine's Zarr stores:
``spark.read.format("sce_zarr").option("path", <array dir>).load()``.

The mapInPandas read path (``zarrv2.read_zarr_matrix``) proves the decode;
this module lifts it into Spark's FIRST-CLASS connector surface — the
Python DataSource API (SPARK-44076, public since 4.0) — so a Zarr array
behaves like any other format: usable from ``spark.read.format``, from SQL
via ``CREATE TABLE ... USING sce_zarr``, and composable with every
downstream operator with no knowledge of the chunk layout.

Split planning is the part that matters at scale and it is explicit here:
``ZarrChunkReader.partitions()`` returns ONE InputPartition PER CHUNK
GRID CELL, so Spark schedules decode tasks at exactly the store's
parallel grain (the same contract a JVM FileSourceScan gets from its
split planner — and the property the reference's chunked executors were
built around).  The driver reads only the tiny JSON metadata; chunk
bytes are opened inside ``read()`` on executors through the format's
full-block fetch and ``chunkgrid.emit_row_chunk`` (the emitter every
dense Zarr reader shares), and rows come back as Arrow ``RecordBatch``es
(the vectorized lane of the API — never per-row Python tuples).

Scale notes: neither reader lists a directory.  The BATCH reader's
``partitions()`` are the grid cells ``shape``/``chunks`` imply, so a scan
costs one metadata GET on the driver and one chunk GET per task; a chunk
object absent from the store reads as the array's ``fill_value``, and a
stray file in the array directory is never opened.  The STREAM reader
maps a manifest index to its chunk name the same way, so each
``latestOffset`` poll probes existence only past the verified prefix —
O(new chunks) per poll, O(1) when idle (r11 verdict #1) — and a planned
chunk that is missing raises instead of reading as fill.
"""

from __future__ import annotations

import functools
import itertools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    InputPartition,
    WriterCommitMessage,
)

from ..registry import query
from .chunkgrid import column_type, emit_row_chunk


class ZarrChunkPartition(InputPartition):
    def __init__(self, coords: tuple[int, ...]):
        self.coords = coords


def zarr_format_version(array_path: str) -> int:
    """2 if the directory holds a v2 ``.zarray``, 3 for a v3 ``zarr.json``
    — the connector's format sniff (one driver-side stat each)."""
    if os.path.exists(os.path.join(array_path, ".zarray")):
        return 2
    if os.path.exists(os.path.join(array_path, "zarr.json")):
        return 3
    raise ValueError(
        f"sce_zarr: {array_path!r} has neither a v2 .zarray nor a v3 "
        "zarr.json metadata document"
    )


def _grid_format(version: int):
    """A format generation's ``(metadata reader, full-chunk fetch,
    integer kinds)`` — what the shared chunk-grid emitter needs."""
    if version == 2:
        from .zarrv2 import _INT_KINDS, _read_chunk, read_zarray_meta

        return read_zarray_meta, _read_chunk, _INT_KINDS
    from .zarrv3 import _INT_KINDS, _read_chunk_v3, read_zarr_v3_meta

    return read_zarr_v3_meta, _read_chunk_v3, _INT_KINDS


def _emit_cell(array_path: str, meta: dict, version: int, coords, shape, skip_rows=0):
    """Arrow batches of one grid cell, trimmed against ``shape`` and
    without the rows below ``skip_rows``."""
    import pyarrow as pa

    _, fetch, int_kinds = _grid_format(version)
    chunk = functools.partial(fetch, array_path, meta)
    for out in emit_row_chunk(chunk, shape, meta["chunks"], coords[0], int_kinds, coords[1:]):
        if skip_rows:  # tail rows an earlier batch delivered
            out = out[out["row"] >= skip_rows]
        if len(out):
            yield pa.RecordBatch.from_pandas(out, preserve_index=False)


class ZarrChunkReader(DataSourceReader):
    """One InputPartition per chunk grid cell; Arrow-batched decode.
    Handles BOTH format generations behind one format string: v2
    (``.zarray``, flat ``i.j`` chunk names) and v3 (``zarr.json``, codec
    chains, both chunk-key encodings incl. the nested ``c/i/j`` default,
    and ``sharding_indexed`` shard objects)."""

    def __init__(self, options: dict):
        path = options.get("path")
        if not path:
            raise ValueError("sce_zarr requires .option('path', <array dir>)")
        self.array_path = path
        self.version = zarr_format_version(path)
        self.meta = _grid_format(self.version)[0](path)  # driver: one small JSON read

    def partitions(self):
        shape, chunks = self.meta["shape"], self.meta["chunks"]
        counts = [-(-int(s) // int(c)) for s, c in zip(shape, chunks)]
        return [ZarrChunkPartition(c) for c in itertools.product(*map(range, counts))]

    def read(self, partition: ZarrChunkPartition):
        return _emit_cell(
            self.array_path, self.meta, self.version, partition.coords, self.meta["shape"]
        )


class ZarrStreamPartition(InputPartition):
    """One chunk object (its path and grid coords) plus the batch's ROW
    RANGE as of planning:
    executor decode trims the tail against ``plan_rows`` and drops rows
    below ``skip_rows`` (already delivered by an earlier batch when a
    tail chunk grew in place), never consulting a live metadata read —
    so replaying [start, end) after a restart yields bit-identical rows
    even if the store grew in between."""

    def __init__(self, chunk_path: str, coords, plan_rows: int, skip_rows: int = 0):
        self.chunk_path = chunk_path
        self.coords = coords
        self.plan_rows = plan_rows
        self.skip_rows = skip_rows


class ZarrChunkStreamReader(DataSourceStreamReader):
    """Chunk-manifest micro-batch stream over a GROW-ONLY Zarr array —
    the streaming half of the connector (r10 verdict #6): offsets are
    positions in the numeric chunk manifest plus the covered row count
    (``{"idx": n, "rows": m}`` = the first n chunk objects / m array rows
    are consumed), each micro-batch plans one InputPartition per NEW
    chunk, and chunk bytes decode on executors through the same Arrow
    path as the batch reader.

    Why manifest position is a sound offset: a grow-only array appends
    rows at the end, so index ``i`` ALWAYS names the same chunk object —
    ``(i div ncol).(i mod ncol)`` in row-major grid order — and the rows
    below a consumed row count are immutable.  The offset carries the
    shape row count at poll time, and every planned partition embeds the
    batch's [skip_rows, plan_rows) row range, so each batch delivers
    exactly the rows between its offsets: tail-chunk trimming is pinned
    at PLAN time (a replay after the store grew re-decodes exactly the
    rows the original batch held — r11 advice: decoding against
    live/stale instance metadata either lost appended rows or replayed
    grown tails), and a tail chunk REWRITTEN IN PLACE by an appending
    writer (zarr-python resize+append) is re-planned for just its new
    rows instead of being silently marked consumed (r12 review).

    ``.zarray`` is re-read inside every ``latestOffset`` poll — a
    concurrent writer's shape bump is picked up there, and the offset is
    capped at shape-covered, on-disk chunks; chunk DECODE metadata
    (dtype/compressor/chunk shape) is immutable per the spec.  A
    shrunken store (chunks deleted below a committed offset) raises
    instead of silently replaying different data.  The source requires
    fully-materialized stores (every shape-covered chunk object written,
    as this engine's writers guarantee); it never skips a hole silently.

    Scale (r11 verdict #1): ``latestOffset`` does NOT relist the chunk
    directory per poll — chunk names are a pure function of manifest
    index, so the poll probes existence ONLY for indices past the
    verified prefix (O(new chunks), O(1) when idle; one O(chunks) probe
    pass after a driver restart, amortized nothing).  Driver state is
    the verified-prefix integer; durable state is the offset in the
    checkpoint.
    """

    def __init__(self, options: dict):
        path = options.get("path")
        if not path:
            raise ValueError("sce_zarr requires .option('path', <array dir>)")
        self.array_path = path
        self.version = zarr_format_version(path)
        self.meta = self._read_meta()
        self.chunk_rows = int(self.meta["chunks"][0])
        if len(self.meta["shape"]) == 2:
            self.ncol = -(-int(self.meta["shape"][1]) // int(self.meta["chunks"][1]))
        else:
            self.ncol = 1
        self._verified = 0  # chunk objects proven on disk (monotone cache)
        self._rows_seen = 0  # grow-only guard

    def _read_meta(self) -> dict:
        return _grid_format(self.version)[0](self.array_path)

    def _coords(self, idx: int) -> tuple[int, ...]:
        """Manifest index -> grid coords (row-major grid order)."""
        if len(self.meta["shape"]) == 2:
            return (idx // self.ncol, idx % self.ncol)
        return (idx // self.ncol,)

    def _chunk_file(self, coords: tuple[int, ...]) -> str:
        """Grid coords -> chunk object path, through the format's
        chunk-key encoding."""
        if self.version == 2:
            name = ".".join(str(c) for c in coords)
        else:
            from .zarrv3 import _chunk_key_v3

            name = _chunk_key_v3(coords, self.meta["key_encoding"])
        return os.path.join(self.array_path, name)

    def initialOffset(self) -> dict:
        return {"idx": 0, "rows": 0}

    def latestOffset(self) -> dict:
        shape0 = int(self._read_meta()["shape"][0])
        if shape0 < self._rows_seen:
            raise RuntimeError(
                f"sce_zarr stream: array shrank from {self._rows_seen} to "
                f"{shape0} rows — the source requires a grow-only store"
            )
        self._rows_seen = shape0
        n_by_shape = -(-shape0 // self.chunk_rows) * self.ncol
        while self._verified < n_by_shape and os.path.exists(
            self._chunk_file(self._coords(self._verified))
        ):
            self._verified += 1
        groups = self._verified // self.ncol  # whole row-chunk groups only
        return {
            "idx": groups * self.ncol,
            "rows": min(shape0, groups * self.chunk_rows),
        }

    def partitions(self, start: dict, end: dict):
        """Plan the batch from the ROW range [start.rows, end.rows) — not
        the chunk-index range alone: a writer that grows the TAIL chunk in
        place (zarr-python's resize+append rewrites the last chunk object
        and bumps the shape) advances ``rows`` without advancing ``idx``,
        and the partially-delivered tail chunk must be re-planned with a
        ``skip_rows`` trim instead of being silently marked consumed."""
        end_rows = end.get("rows")
        if end_rows is None:  # pre-r12 checkpoint offset: fall back to live shape
            end_rows = int(self._read_meta()["shape"][0])
        end_rows = int(end_rows)
        start_rows = start.get("rows")
        if start_rows is None:  # pre-r12 start offset: whole chunks consumed
            start_rows = (start.get("idx", 0) // self.ncol) * self.chunk_rows
        start_rows = min(int(start_rows), end_rows)
        first_group = start_rows // self.chunk_rows
        end_group = -(-end_rows // self.chunk_rows)  # ceil
        if end.get("idx") is not None and end["idx"] > end_group * self.ncol:
            raise RuntimeError(
                f"sce_zarr stream: committed offset covers {end['idx']} chunk "
                f"objects but the array shape covers only "
                f"{end_group * self.ncol} — the store shrank below a "
                "committed offset; a grow-only array never deletes chunks"
            )
        parts = []
        for g in range(first_group, end_group):
            for c in range(self.ncol):
                i = g * self.ncol + c
                coords = self._coords(i)
                p = self._chunk_file(coords)
                if not os.path.exists(p):
                    raise RuntimeError(
                        f"sce_zarr stream: chunk object {os.path.basename(p)} "
                        f"(manifest index {i} < offset) is missing — the "
                        "store shrank below a committed offset; a grow-only "
                        "array never deletes chunks"
                    )
                parts.append(ZarrStreamPartition(p, coords, end_rows, start_rows))
        return parts

    def read(self, partition: ZarrStreamPartition):
        # Trim against the shape AS PLANNED (carried in the partition), not
        # a live or constructor-time metadata read: deterministic replay.
        shape = [partition.plan_rows, *self.meta["shape"][1:]]
        return _emit_cell(
            self.array_path, self.meta, self.version, partition.coords, shape,
            partition.skip_rows,
        )

    def commit(self, end: dict) -> None:
        pass  # offsets live in the checkpoint; nothing source-side to release


class ZarrDataSource(DataSource):
    """``sce_zarr`` format: Zarr v2 or v3 array directory → DataFrame.

    Schema derives from the array metadata (driver-side), matching the
    mapInPandas readers: 2-D arrays surface as
    ``(row, col0, values: array<double>)`` chunk-slice rows, 1-D arrays
    as ``(row, value)``.
    """

    @classmethod
    def name(cls) -> str:
        return "sce_zarr"

    def schema(self) -> str:
        path = self.options["path"]
        read_meta, _, int_kinds = _grid_format(zarr_format_version(path))
        meta = read_meta(path)
        if len(meta["shape"]) == 2:
            return "row bigint, col0 bigint, values array<double>"
        return "row bigint, value " + column_type(meta["dtype"], int_kinds).simpleString()

    def reader(self, schema) -> ZarrChunkReader:
        return ZarrChunkReader(self.options)

    def streamReader(self, schema) -> ZarrChunkStreamReader:
        return ZarrChunkStreamReader(self.options)

    def streamWriter(self, schema, overwrite: bool) -> "ZarrStreamChunkWriter":
        path = self.options.get("path")
        if not path:
            raise ValueError("sce_zarr requires .option('path', <array dir>)")
        # Query identity for the sink's replay guard: the checkpoint location
        # is stable across restarts of one query and distinct for a fresh
        # checkpoint — exactly the equivalence classes replay detection needs.
        ckpt = self.options.get("checkpointlocation") or self.options.get(
            "checkpointLocation"
        )
        return ZarrStreamChunkWriter(
            path,
            overwrite,
            query_id=ckpt,
            version=int(self.options.get("zarr_format", "2")),
        )

    def writer(self, schema, overwrite: bool) -> "ZarrChunkWriter":
        path = self.options.get("path")
        if not path:
            raise ValueError("sce_zarr requires .option('path', <array dir>)")
        return ZarrChunkWriter(
            path, overwrite, version=int(self.options.get("zarr_format", "2"))
        )


def read_zarr_pyds(spark: SparkSession, array_path: str) -> DataFrame:
    """Open a Zarr v2 or v3 array through the registered Python DataSource."""
    spark.dataSource.register(ZarrDataSource)  # idempotent per session
    return spark.read.format("sce_zarr").option("path", array_path).load()


def read_zarr_group_coo(spark: SparkSession, store: str) -> DataFrame:
    """Open a written group (``X`` matrix + ``vec_id`` index) through the
    connector and reassemble the (vec_id, pos, v) COO — the read-back
    contract every roundtrip/migration query and stress run shares (one
    definition instead of the five copies the r13 review found)."""
    from .zarrv2 import zarr_matrix_coo

    x = read_zarr_pyds(spark, os.path.join(store, "X"))
    ids = read_zarr_pyds(spark, os.path.join(store, "vec_id")).withColumnRenamed(
        "value", "vec_id"
    )
    return zarr_matrix_coo(x, ids)


# Same oracle as zarr_roundtrip: the store is written from embeddings and
# must read back value-exact through the connector.
_PYDS_ORACLE = """
SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
       round(CAST(unnest(embedding) AS DOUBLE), 6) AS v
FROM embeddings
"""


@query("zarr_pyds_roundtrip", oracle=_PYDS_ORACLE, tags=("sources", "zarr", "datasource"), cache=False)
def zarr_pyds_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings → Zarr v2 store (blosc-lz4, chunk-parallel write) → read
    back through ``spark.read.format("sce_zarr")`` → COO.  Identical
    result contract to ``zarr_roundtrip`` — what changes is the READ
    ENGINE SURFACE: the store enters the plan as a scan of a registered
    connector with one task per chunk (see module docstring), not as a
    ``spark.range``+mapInPandas composition the caller must know to build.
    The value hash proves the connector's split planning, Arrow batch
    path, dtype mapping, and edge-chunk trimming end to end.
    """
    import hashlib
    import tempfile

    from ..catalog import load_table
    from .zarrv2 import _DEFAULT_COMPRESSOR, write_zarr_group, zarr_matrix_coo

    e = load_table(spark, sf_dir, "embeddings")
    store = os.path.join(
        tempfile.gettempdir(),
        f"sce_zarr_pyds_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}",
    )
    write_zarr_group(e, store, compressor=_DEFAULT_COMPRESSOR)
    return read_zarr_group_coo(spark, store)


@query(
    "zarr_pyds_v3_roundtrip",
    oracle=_PYDS_ORACLE,
    tags=("sources", "zarr", "datasource", "v3"),
    cache=False,
)
def zarr_pyds_v3_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The connector on the CURRENT format generation (r12): embeddings →
    Zarr V3 group (column-chunked grid so every matrix row spans two
    nested ``c/i/j`` default-encoded objects; bytes→blosc→crc32c codec
    chain) → ``spark.read.format("sce_zarr")`` — the same one format
    string now sniffs ``zarr.json`` vs ``.zarray`` and plans one task per
    chunk grid cell either way.  Hash equality against the parquet oracle
    proves the v3 metadata parse, nested-key addressing, codec chain, and
    grid trim compose through the DataSource surface (the mapInPandas v3
    readers proved the decode; this proves the CONNECTOR path).
    """
    import hashlib
    import tempfile

    from pyspark.sql import functions as F

    from ..catalog import load_table
    from .zarrv2 import zarr_matrix_coo
    from .zarrv3 import write_zarr_v3_group

    e = load_table(spark, sf_dir, "embeddings")
    e_dim = int(e.agg(F.max(F.size("embedding"))).collect()[0][0])
    store = os.path.join(
        tempfile.gettempdir(),
        f"sce_zarr_pyds3_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}",
    )
    write_zarr_v3_group(e, store, cols_per_chunk=(e_dim + 1) // 2)
    return read_zarr_group_coo(spark, store)


@query(
    "zarr_pyds_v3_stream_roundtrip",
    oracle=_PYDS_ORACLE,
    tags=("sources", "zarr", "datasource", "v3", "streaming"),
    cache=False,
)
def zarr_pyds_v3_stream_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAM source over a V3 store (r12): same chunk-manifest
    offsets as the v2 stream — index→key now routed through the v3
    chunk-key encoding (nested ``c/i/j``), shape polls re-read
    ``zarr.json`` — drained under AvailableNow into a parquet sink and
    hashed against the parquet oracle.  Row-chunked store so each
    manifest index is one whole-row-group object.
    """
    import hashlib
    import shutil
    import tempfile

    from ..catalog import load_table
    from .zarrv2 import zarr_matrix_coo
    from .zarrv3 import write_zarr_v3_group

    e = load_table(spark, sf_dir, "embeddings")
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    store = os.path.join(tempfile.gettempdir(), f"sce_zarr_pyds3s_{tag}")
    write_zarr_v3_group(e, store)

    sink = os.path.join(tempfile.gettempdir(), f"sce_zarr_pyds3s_sink_{tag}")
    ckpt = os.path.join(tempfile.gettempdir(), f"sce_zarr_pyds3s_ckpt_{tag}")
    for p in (sink, ckpt):  # each invocation is a fresh end-to-end run
        shutil.rmtree(p, ignore_errors=True)

    spark.dataSource.register(ZarrDataSource)
    (
        spark.readStream.format("sce_zarr")
        .option("path", os.path.join(store, "X"))
        .load()
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    x = spark.read.parquet(sink)
    ids = read_zarr_pyds(spark, os.path.join(store, "vec_id")).withColumnRenamed(
        "value", "vec_id"
    )
    return zarr_matrix_coo(x, ids)


@query(
    "zarr_v2_to_v3_migrate",
    oracle=_PYDS_ORACLE,
    tags=("sources", "zarr", "datasource", "v3", "migration"),
    cache=False,
)
def zarr_v2_to_v3_migrate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-generation STORE MIGRATION (r12): a v2 store (blosc-lz4 flat
    keys) is read through the connector, reassembled to (vec_id,
    embedding) wide rows, written as a v3 group (codec chain, nested
    default keys) by the chunk-aligned v3 writer, and read back through
    the SAME ``sce_zarr`` format string — the sniff routes each side to
    its generation.  Hash equality against the parquet oracle proves the
    v2 decode → row reassembly → v3 encode → v3 decode chain is value
    exact end to end: the upgrade path a real deployment runs once per
    array, expressed as two scans and one chunk-group exchange.
    """
    import hashlib
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from ..catalog import load_table
    from .zarrv2 import _DEFAULT_COMPRESSOR, write_zarr_group, zarr_matrix_coo
    from .zarrv3 import write_zarr_v3_group

    e = load_table(spark, sf_dir, "embeddings")
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    v2_store = os.path.join(tempfile.gettempdir(), f"sce_zarr_mig2_{tag}")
    v3_store = os.path.join(tempfile.gettempdir(), f"sce_zarr_mig3_{tag}")
    write_zarr_group(e, v2_store, compressor=_DEFAULT_COMPRESSOR)
    shutil.rmtree(v3_store, ignore_errors=True)

    # v2 → wide rows: chunk-slice rows carry whole rows (row-chunked store),
    # vec_id is the positional axis (dense 0..n-1), so row IS the id.
    x2 = read_zarr_pyds(spark, os.path.join(v2_store, "X"))
    wide = x2.select(
        F.col("row").alias("vec_id"),
        F.transform("values", lambda v: v.cast("float")).alias("embedding"),
    )
    write_zarr_v3_group(wide, v3_store)

    return read_zarr_group_coo(spark, v3_store)


# --- write side: DataSourceArrowWriter ----------------------------------------


#: Marker inside task-attempt temp file names; commit() renames these to
#: their final ``{cid}.0`` names, abort() (and the post-rename sweep)
#: deletes any left behind by failed / speculatively-retried attempts.
_TMP_MARK = ".__tmp__"


class ZarrCommit(WriterCommitMessage):
    def __init__(self, chunks, n_rows, max_row, dim, min_row=None):
        self.chunks = chunks  # list[(chunk_id, tmp_file_name, rows_in_chunk)]
        self.n_rows = n_rows
        self.max_row = max_row
        self.dim = dim
        self.min_row = min_row


def _build_chunk_files(iterator, path: str, encode=None) -> ZarrCommit:
    """Task-side chunk build shared by the batch and STREAMING Arrow
    writers of BOTH format generations: decode Arrow batches of
    (row, col0, values) rows into padded whole-chunk objects under
    attempt-unique FLAT temp names (commit maps them to the format's
    final key layout — see ``ZarrChunkWriter`` for the contract and
    retry-safety argument).  ``encode`` turns a padded float64 block's
    bytes into the chunk object's bytes; default is the v2 blosc-lz4
    compressor."""
    import uuid

    import numpy as np

    from .zarrv2 import _compress, _DEFAULT_COMPRESSOR, ROWS_PER_CHUNK

    if encode is None:
        encode = lambda raw: _compress(raw, _DEFAULT_COMPRESSOR, typesize=8)  # noqa: E731

    attempt = uuid.uuid4().hex[:12]
    by_chunk: dict = {}
    dim = 0
    for batch in iterator:
        if batch.num_rows == 0:
            continue
        rows = batch.column(batch.schema.get_field_index("row")).to_numpy(
            zero_copy_only=False
        )
        emb = batch.column(batch.schema.get_field_index("values"))
        flat = emb.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
        lens = emb.value_lengths().to_numpy()
        dim = int(lens.max(initial=dim))
        off = 0
        for r, ln in zip(rows, lens):
            by_chunk.setdefault(int(r) // ROWS_PER_CHUNK, []).append(
                (int(r), flat[off : off + ln])
            )
            off += ln
    chunks, n_rows, max_row, min_row = [], 0, -1, None
    for cid, members in by_chunk.items():
        # Duplicate row ids within a chunk would last-write-win silently AND
        # let the driver's dense-range check admit a gap elsewhere (a dup
        # cancels a gap in ``total == max-min+1``); a row id maps to exactly
        # one chunk and one task owns each chunk, so this in-task check plus
        # the driver's duplicate-chunk check covers every duplicate.
        if len({r for r, _ in members}) != len(members):
            dups = sorted(
                r for r, _ in members if sum(1 for q, _ in members if q == r) > 1
            )
            raise ValueError(
                f"sce_zarr: duplicate row id(s) {dups[:5]} in chunk {cid} — "
                "row ids must be unique"
            )
        block = np.zeros((ROWS_PER_CHUNK, dim), dtype=np.float64)  # fill 0
        for r, vec in members:
            block[r - cid * ROWS_PER_CHUNK, : len(vec)] = vec
            n_rows += 1
            max_row = max(max_row, r)
            min_row = r if min_row is None else min(min_row, r)
        tmp_name = f"{cid}.0{_TMP_MARK}{attempt}"
        with open(os.path.join(path, tmp_name), "wb") as fh:
            fh.write(encode(block.tobytes()))
        chunks.append((cid, tmp_name, len(members)))
    return ZarrCommit(chunks, n_rows, max_row, dim, min_row)


def _v3_encode_chunk(raw: bytes) -> bytes:
    """v3 default codec chain (bytes→blosc→crc32c) over a float64 block."""
    from .zarrv3 import _DEFAULT_CODECS, _encode_chain

    return _encode_chain(raw, _DEFAULT_CODECS, typesize=8)


def _check_writer_version(path: str, version: int) -> None:
    """Shared writer-constructor guard: version must be 2 or 3, and the
    destination must not already hold the OTHER generation's store."""
    if version not in (2, 3):
        raise ValueError(f"sce_zarr: zarr_format must be 2 or 3, got {version}")
    other = "zarr.json" if version == 2 else ".zarray"
    if os.path.exists(os.path.join(path, other)):
        raise ValueError(
            f"sce_zarr: {path!r} already holds a Zarr V{5 - version} store — "
            f"refusing to write V{version} objects into it; use a fresh path"
        )


def _final_chunk_dest(path: str, cid: int, version: int) -> str:
    """Final chunk-object path for row-chunk ``cid`` in the format's key
    layout: flat ``{cid}.0`` (v2) or the nested default tree ``c/{cid}/0``
    (v3, directories created)."""
    if version == 2:
        return os.path.join(path, f"{cid}.0")
    p = os.path.join(path, "c", str(cid), "0")
    os.makedirs(os.path.dirname(p), exist_ok=True)
    return p


class ZarrChunkWriter(DataSourceArrowWriter):
    """Arrow-batched chunk writer for row-chunked 2-D float64 arrays.

    Contract (enforced by the chunk-group exchange the caller issues —
    ``repartition(row div ROWS_PER_CHUNK)``): every row of a chunk lands
    in ONE task, so each task writes whole chunk objects independently —
    the same parallel grain as the read side and as
    ``zarrv2.write_zarr_group``'s applyInPandas path.  Edge chunks pad to
    the chunk shape with the fill value per the spec.

    Two-phase commit, retry-safe (r10 verdict #5 / advice): each TASK
    ATTEMPT writes its chunks under attempt-unique temp names
    (``{cid}.0.__tmp__{uuid}``) — Spark WILL re-execute tasks at scale
    (failure, speculation), and two attempts of the same task must not
    race on the final object name.  The driver's ``commit`` then
    (1) VALIDATES the collected messages — duplicate chunk ids across
    tasks mean the caller broke the one-chunk-one-task contract and rows
    were silently split (the losing task's rows would read back as
    zeros), unequal dims mean ragged input, and ``sum(n_rows) !=
    max_row+1`` means duplicate or missing row ids — all fail the job
    loudly instead of committing a lying store; (2) renames the winning
    attempts' temp files to their final names (same-directory rename:
    atomic on POSIX); (3) sweeps orphan temp files from losing attempts;
    (4) writes ``.zarray`` LAST, so a reader never sees a store that is
    metadata-complete but data-partial.  ``abort`` removes temp files
    only — a failed job leaves no readable array and no garbage that a
    later successful write would trip over.
    """

    def __init__(self, path: str, overwrite: bool, version: int = 2):
        self.path = path
        self.overwrite = overwrite
        self.version = version
        os.makedirs(path, exist_ok=True)
        _check_writer_version(path, version)
        if not overwrite and any(
            not f.startswith(".") and _TMP_MARK not in f for f in os.listdir(path)
        ):
            raise ValueError(
                f"sce_zarr: destination {path!r} is non-empty; use mode('overwrite')"
            )

    def write(self, iterator):
        return _build_chunk_files(
            iterator, self.path, encode=_v3_encode_chunk if self.version == 3 else None
        )

    def _final_chunk_path(self, cid: int) -> str:
        return _final_chunk_dest(self.path, cid, self.version)

    def _sweep_tmp(self) -> None:
        for f in os.listdir(self.path):
            if _TMP_MARK in f:
                try:
                    os.remove(os.path.join(self.path, f))
                except FileNotFoundError:
                    pass

    def commit(self, messages):
        from .zarrv2 import _DEFAULT_COMPRESSOR, ROWS_PER_CHUNK, _write_zarray_meta

        msgs = [m for m in messages if m is not None and m.n_rows]
        if not msgs:
            self._sweep_tmp()
            raise ValueError(
                "sce_zarr: cannot write an empty zarr array (no task produced rows)"
            )
        # -- validate before any rename (fail loudly, commit nothing) ------
        seen: dict = {}
        counts: dict = {}
        for m in msgs:
            for cid, tmp, cnt in m.chunks:
                if cid in seen:
                    raise ValueError(
                        f"sce_zarr: chunk {cid} written by two tasks — rows of one "
                        "chunk landed in multiple partitions; repartition the input "
                        f"by (row div ROWS_PER_CHUNK) before writing"
                    )
                seen[cid] = tmp
                counts[cid] = cnt
        dims = sorted({m.dim for m in msgs})
        if len(dims) != 1:
            raise ValueError(
                f"sce_zarr: tasks disagree on the array width (dims={dims}) — "
                "input rows are ragged; a zarr array is rectangular"
            )
        n = max(m.max_row for m in msgs) + 1
        total = sum(m.n_rows for m in msgs)
        if total != n:
            raise ValueError(
                f"sce_zarr: {total} rows written but max row id is {n - 1} — "
                "row ids must be dense 0..n-1 (duplicates or gaps present)"
            )
        # Per-chunk density: with in-task duplicate detection this is implied
        # by the range check, but it localizes the error to the broken chunk.
        tail_cid = max(counts)
        short = {c: k for c, k in counts.items() if c != tail_cid and k != ROWS_PER_CHUNK}
        if short:
            raise ValueError(
                f"sce_zarr: non-tail chunk(s) {sorted(short)[:5]} hold fewer than "
                f"ROWS_PER_CHUNK={ROWS_PER_CHUNK} rows — row ids have gaps"
            )
        dim = dims[0]
        # -- publish: clear old data, rename winners, sweep losers ---------
        if self.overwrite:
            import shutil

            for f in os.listdir(self.path):
                if _TMP_MARK in f:
                    continue
                full = os.path.join(self.path, f)
                if os.path.isdir(full):  # v3 nested chunk-key tree
                    shutil.rmtree(full)
                else:
                    os.remove(full)
        for cid, tmp in seen.items():
            os.replace(os.path.join(self.path, tmp), self._final_chunk_path(cid))
        self._sweep_tmp()
        if self.version == 2:
            _write_zarray_meta(
                self.path,
                shape=[int(n), int(dim)],
                chunks=[ROWS_PER_CHUNK, int(dim)],
                dtype="<f8",
                compressor=_DEFAULT_COMPRESSOR,
                fill_value=0.0,
            )
        else:
            from .zarrv3 import _DEFAULT_CODECS, _DEFAULT_KEYENC, _write_v3_meta

            _write_v3_meta(
                self.path,
                [int(n), int(dim)],
                [ROWS_PER_CHUNK, int(dim)],
                "float64",
                _DEFAULT_CODECS,
                0.0,
                _DEFAULT_KEYENC,
            )

    def abort(self, messages):
        self._sweep_tmp()


#: Sidecar tracking the last committed micro-batch — the replay guard:
#: Spark redelivers a batchId after a commit-side crash, and the sink must
#: treat a re-commit of an already-committed batch as a no-op instead of
#: tripping its own grow-only validation (the jobs.py foreachBatch sink's
#: batch_id-monotone pattern, applied at the connector layer).  The sidecar
#: also records the QUERY IDENTITY (checkpoint location) that owns the
#: store and a publish INTENT (r11 advice): batchIds alone cannot
#: distinguish a post-crash replay from a NEW query (fresh checkpoint,
#: batchIds restarting at 0) writing to an existing store — the latter must
#: fail loudly, never be silently swept as a "replay".
_STREAM_STATE = ".sce_stream_state.json"


class ZarrStreamChunkWriter(DataSourceStreamArrowWriter):
    """Streaming sink half of the connector: GROW-ONLY, CHUNK-GRANULAR
    appends to a row-chunked 2-D float64 array — each micro-batch delivers
    whole NEW chunks (global dense row ids; the chunk-group repartition
    contract of the batch writer, per batch).

    Why chunk-granular: an append that lands inside an EXISTING chunk
    would have to rewrite that object without its other rows (they are in
    the store, not the batch) — so a batch whose min row falls below the
    committed shape is rejected loudly, and a batch that ends mid-chunk
    FREEZES that tail chunk with fill-value padding (later batches must
    start at the next chunk boundary).  Align micro-batch boundaries to
    chunk boundaries — e.g. consume the ``sce_zarr`` STREAM SOURCE, whose
    offsets are chunk positions — and the constraint is free.

    Per micro-batch two-phase commit, replay-safe AND query-aware: tasks
    write attempt-unique temps (``_build_chunk_files``); ``commit(
    messages, batchId)`` consults the state sidecar, which records the
    last committed batchId, the OWNING QUERY IDENTITY (the checkpoint
    location — stable across restarts of one query, distinct for a fresh
    checkpoint), and a PUBLISH INTENT.  A batchId at or below the last
    committed one from the SAME query is a replay (post-crash
    redelivery): temps are swept, no-op.  The same low batchId from a
    DIFFERENT query is a fresh checkpoint colliding with an existing
    store — it raises loudly instead of silently sweeping the new
    query's first batches (r11 advice, medium).  A fresh batch validates
    (chunk-contiguous append starting exactly at the frozen boundary,
    rectangular dims consistent with the store, dense duplicate-free new
    rows, full non-tail chunks), then writes the intent (query, batch,
    resulting shape) BEFORE any rename, renames winners, sweeps losers,
    extends ``.zarray`` shape, and records the batchId LAST — so a crash
    anywhere replays idempotently: a replay that finds its own intent
    skips the against-store checks (the store may be half-published),
    re-publishes the identical chunks, and completes the commit.
    ``abort`` sweeps temps only.
    """

    def __init__(
        self,
        path: str,
        overwrite: bool,
        query_id: str | None = None,
        version: int = 2,
    ):
        if overwrite:
            raise ValueError(
                "sce_zarr streaming sink is append-only (grow-only array); "
                "outputMode('append') only"
            )
        self.path = path
        self.query_id = query_id
        self.version = version
        os.makedirs(path, exist_ok=True)
        _check_writer_version(path, version)

    def write(self, iterator):
        return _build_chunk_files(
            iterator, self.path, encode=_v3_encode_chunk if self.version == 3 else None
        )

    def _final_chunk_path(self, cid: int) -> str:
        return _final_chunk_dest(self.path, cid, self.version)

    # -- driver-side state ---------------------------------------------------

    def _state(self) -> dict:
        import json

        try:
            with open(os.path.join(self.path, _STREAM_STATE)) as fh:
                s = json.load(fh)
        except FileNotFoundError:
            s = {}
        # pre-r12 sidecars lack query/intent: treat as unowned, no intent
        return {
            "last_batch": s.get("last_batch", -1),
            "query": s.get("query"),
            "intent": s.get("intent"),
        }

    def _sweep_tmp(self) -> None:
        for f in os.listdir(self.path):
            if _TMP_MARK in f:
                try:
                    os.remove(os.path.join(self.path, f))
                except FileNotFoundError:
                    pass

    def commit(self, messages, batchId: int) -> None:
        from .zarrv2 import (
            _DEFAULT_COMPRESSOR,
            ROWS_PER_CHUNK,
            _write_zarray_meta,
            read_zarray_meta,
        )

        state = self._state()
        if batchId <= state["last_batch"]:
            # A sidecar with no recorded owner (pre-r12 store) is adoptable:
            # the only information we have is the batch watermark, and the
            # pre-r12 semantics for batchId <= last_batch was replay-no-op.
            if state["query"] is not None and state["query"] != self.query_id:
                raise ValueError(
                    f"sce_zarr stream: batch {batchId} was already committed to "
                    f"{self.path!r} by a different streaming query "
                    f"(store owner {state['query']!r}, this query "
                    f"{self.query_id!r}) — a NEW query with a fresh checkpoint "
                    "restarts batchIds at 0 and cannot be told apart from a "
                    "replay; write to a fresh store, or resume the original "
                    "checkpoint, or remove the store's state sidecar to "
                    "explicitly adopt it"
                )
            self._sweep_tmp()  # replayed batch from the same query: in store
            return
        msgs = [m for m in messages if m is not None and m.n_rows]
        if not msgs:
            self._sweep_tmp()
            self._write_state(batchId, intent=None)  # empty batch: vacuous
            return
        intent = state["intent"]
        resuming = (
            intent is not None
            and intent.get("batch") == batchId
            and intent.get("query") == self.query_id
        )
        try:
            if self.version == 2:
                meta = read_zarray_meta(self.path)
            else:
                from .zarrv3 import read_zarr_v3_meta

                meta = read_zarr_v3_meta(self.path)
            n_old, dim_old = int(meta["shape"][0]), int(meta["shape"][1])
        except FileNotFoundError:
            n_old, dim_old = 0, None
        # -- validate the append before any rename -------------------------
        seen: dict = {}
        counts: dict = {}
        for m in msgs:
            for cid, tmp, cnt in m.chunks:
                if cid in seen:
                    raise ValueError(
                        f"sce_zarr stream: chunk {cid} written by two tasks — "
                        "repartition each micro-batch by (row div ROWS_PER_CHUNK)"
                    )
                seen[cid] = tmp
                counts[cid] = cnt
        dims = sorted({m.dim for m in msgs})
        min_row = min(m.min_row for m in msgs)
        max_row = max(m.max_row for m in msgs)
        total = sum(m.n_rows for m in msgs)
        if total != max_row - min_row + 1:
            raise ValueError(
                f"sce_zarr stream: {total} rows for id range "
                f"[{min_row}, {max_row}] — batch rows must be dense"
            )
        tail_cid = max(counts)
        short = {
            c: k for c, k in counts.items() if c != tail_cid and k != ROWS_PER_CHUNK
        }
        if short:
            raise ValueError(
                f"sce_zarr stream: non-tail chunk(s) {sorted(short)[:5]} hold "
                f"fewer than ROWS_PER_CHUNK={ROWS_PER_CHUNK} rows — gaps in batch"
            )
        if resuming:
            # Replay of a crashed publish: the store may already hold any
            # prefix of this batch's chunks and/or the extended .zarray, so
            # against-store checks would false-fail; instead require the
            # regenerated batch to be bit-consistent with the intent, then
            # re-publish idempotently (os.replace over identical content).
            if len(dims) != 1 or dims[0] != intent["dim"]:
                raise ValueError(
                    f"sce_zarr stream: replayed batch {batchId} dims {dims} "
                    f"disagree with its recorded intent dim {intent['dim']}"
                )
            if max_row + 1 != intent["shape0"] or min_row != intent["min_row"]:
                raise ValueError(
                    f"sce_zarr stream: replayed batch {batchId} rows "
                    f"[{min_row}, {max_row}] disagree with its recorded intent "
                    f"[{intent['min_row']}, {intent['shape0'] - 1}] — the "
                    "replayed micro-batch is not the one that crashed"
                )
        else:
            if len(dims) != 1 or (dim_old is not None and dims[0] != dim_old):
                raise ValueError(
                    f"sce_zarr stream: batch dims {dims} disagree (store dim "
                    f"{dim_old}) — a zarr array is rectangular"
                )
            frozen = ((n_old + ROWS_PER_CHUNK - 1) // ROWS_PER_CHUNK) * ROWS_PER_CHUNK
            if min_row < n_old:
                raise ValueError(
                    f"sce_zarr stream: batch writes row {min_row} below the "
                    f"committed shape {n_old} — the store is grow-only"
                )
            if n_old and min_row != frozen:
                raise ValueError(
                    f"sce_zarr stream: batch starts at row {min_row} but the "
                    f"frozen chunk boundary is {frozen} — the previous batch "
                    "ended mid-chunk and its tail is padded; align "
                    f"micro-batches to ROWS_PER_CHUNK={ROWS_PER_CHUNK}"
                )
            if not n_old and min_row != 0:
                raise ValueError(
                    f"sce_zarr stream: first batch must start at row 0, "
                    f"got {min_row}"
                )
        # -- publish: intent FIRST, renames, .zarray, record LAST -----------
        self._write_state(
            state["last_batch"],
            intent={
                "query": self.query_id,
                "batch": int(batchId),
                "shape0": int(max_row + 1),
                "min_row": int(min_row),
                "dim": int(dims[0]),
            },
        )
        for cid, tmp in seen.items():
            os.replace(os.path.join(self.path, tmp), self._final_chunk_path(cid))
        self._sweep_tmp()
        if self.version == 2:
            _write_zarray_meta(
                self.path,
                shape=[int(max_row + 1), int(dims[0])],
                chunks=[ROWS_PER_CHUNK, int(dims[0])],
                dtype="<f8",
                compressor=_DEFAULT_COMPRESSOR,
                fill_value=0.0,
            )
        else:
            from .zarrv3 import _DEFAULT_CODECS, _DEFAULT_KEYENC, _write_v3_meta

            _write_v3_meta(
                self.path,
                [int(max_row + 1), int(dims[0])],
                [ROWS_PER_CHUNK, int(dims[0])],
                "float64",
                _DEFAULT_CODECS,
                0.0,
                _DEFAULT_KEYENC,
            )
        self._write_state(batchId, intent=None)

    def _write_state(self, last_batch: int, intent: dict | None) -> None:
        import json

        tmp = os.path.join(self.path, _STREAM_STATE + ".tmp")
        with open(tmp, "w") as fh:
            json.dump(
                {
                    "last_batch": int(last_batch),
                    "query": self.query_id,
                    "intent": intent,
                },
                fh,
            )
        os.replace(tmp, os.path.join(self.path, _STREAM_STATE))

    def abort(self, messages, batchId: int) -> None:
        self._sweep_tmp()


@query(
    "zarr_pyds_write_roundtrip",
    oracle=_PYDS_ORACLE,
    tags=("sources", "zarr", "datasource", "sinks"),
    cache=False,
)
def zarr_pyds_write_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WRITE half of the connector: embeddings become chunk-slice rows,
    a chunk-group ``repartition(row div ROWS_PER_CHUNK)`` gives each task
    whole chunks, and ``df.write.format("sce_zarr")`` drives
    ``ZarrChunkWriter`` — Arrow-batched tasks write chunk objects, the
    driver's two-phase ``commit`` writes ``.zarray`` only after every task
    succeeded.  Reading the store back through the same connector and
    hashing against the parquet-derived oracle proves write split
    placement, padding, compression, and metadata agree with the spec
    (and with the reader, which was proven against ``write_zarr_group``
    separately — so writer↔reader agreement is not circular).
    ``vec_id`` is dense 0..n-1 (positional axis, module docstring of
    zarrv2), so the matrix row IS the id and no ids array is needed.
    """
    from pyspark.sql import functions as F

    import hashlib
    import tempfile

    from ..catalog import load_table
    from .zarrv2 import ROWS_PER_CHUNK, zarr_matrix_coo

    e = load_table(spark, sf_dir, "embeddings")
    path = os.path.join(
        tempfile.gettempdir(),
        f"sce_zarr_pydsw_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}",
    )
    spark.dataSource.register(ZarrDataSource)
    slices = e.select(
        F.col("vec_id").alias("row"),
        F.lit(0).cast("bigint").alias("col0"),
        F.transform("embedding", lambda x: x.cast("double")).alias("values"),
    ).repartition(F.expr(f"row div {ROWS_PER_CHUNK}"))
    slices.write.format("sce_zarr").option("path", path).mode("overwrite").save()
    x = read_zarr_pyds(spark, path)
    ids = x.select("row", F.col("row").alias("vec_id")).distinct()
    return zarr_matrix_coo(x, ids)


@query(
    "zarr_pyds_v3_write_roundtrip",
    oracle=_PYDS_ORACLE,
    tags=("sources", "zarr", "datasource", "v3", "sinks"),
    cache=False,
)
def zarr_pyds_v3_write_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The connector's WRITE half on the v3 generation (r12):
    ``df.write.format("sce_zarr").option("zarr_format", "3")`` — the same
    chunk-group contract and two-phase commit as the v2 writer, with
    chunks encoded through the v3 default codec chain
    (bytes→blosc→crc32c), renamed into the nested default chunk-key tree
    (``c/i/0``), and ``zarr.json`` written LAST.  Reading the store back
    through the connector (which sniffs v3) and hashing against the
    parquet oracle proves the encode chain, key layout, and metadata
    agree with the independent v3 reader.
    """
    from pyspark.sql import functions as F

    import hashlib
    import shutil
    import tempfile

    from ..catalog import load_table
    from .zarrv2 import ROWS_PER_CHUNK, zarr_matrix_coo

    e = load_table(spark, sf_dir, "embeddings")
    path = os.path.join(
        tempfile.gettempdir(),
        f"sce_zarr_pyds3w_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}",
    )
    shutil.rmtree(path, ignore_errors=True)  # mode('overwrite') is same-format
    spark.dataSource.register(ZarrDataSource)
    slices = e.select(
        F.col("vec_id").alias("row"),
        F.lit(0).cast("bigint").alias("col0"),
        F.transform("embedding", lambda x: x.cast("double")).alias("values"),
    ).repartition(F.expr(f"row div {ROWS_PER_CHUNK}"))
    (
        slices.write.format("sce_zarr")
        .option("path", path)
        .option("zarr_format", "3")
        .mode("overwrite")
        .save()
    )
    x = read_zarr_pyds(spark, path)
    ids = x.select("row", F.col("row").alias("vec_id")).distinct()
    return zarr_matrix_coo(x, ids)


@query(
    "zarr_pyds_v3_stream_write_roundtrip",
    oracle=_PYDS_ORACLE,
    tags=("sources", "zarr", "datasource", "v3", "streaming", "sinks"),
    cache=False,
)
def zarr_pyds_v3_stream_write_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming zarr→zarr copy ACROSS generations (r12): a v2 store is
    consumed through the stream source and appended through the stream
    SINK in v3 mode (same grow-only chunk-granular protocol, query
    identity + publish intent, v3 codec chain + nested keys +
    ``zarr.json`` shape extension), then the v3 DESTINATION is batch-read
    through the connector and COO-hashed against the parquet oracle —
    one hash proving the v2 offsets, the v3 commit protocol, and both
    generations' decode/encode paths compose in one streaming query.
    """
    import hashlib
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from ..catalog import load_table
    from .zarrv2 import (
        _DEFAULT_COMPRESSOR,
        ROWS_PER_CHUNK,
        write_zarr_group,
        zarr_matrix_coo,
    )

    e = load_table(spark, sf_dir, "embeddings")
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    src_store = os.path.join(tempfile.gettempdir(), f"sce_zarr_pyds3sw_src_{tag}")
    write_zarr_group(e, src_store, compressor=_DEFAULT_COMPRESSOR)

    dst = os.path.join(tempfile.gettempdir(), f"sce_zarr_pyds3sw_dst_{tag}")
    ckpt = os.path.join(tempfile.gettempdir(), f"sce_zarr_pyds3sw_ckpt_{tag}")
    for p in (dst, ckpt):  # each invocation is a fresh end-to-end copy
        shutil.rmtree(p, ignore_errors=True)

    spark.dataSource.register(ZarrDataSource)
    stream = (
        spark.readStream.format("sce_zarr")
        .option("path", os.path.join(src_store, "X"))
        .load()
        .repartition(F.expr(f"row div {ROWS_PER_CHUNK}"))
    )
    (
        stream.writeStream.format("sce_zarr")
        .option("path", dst)
        .option("zarr_format", "3")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    x = read_zarr_pyds(spark, dst)
    ids = read_zarr_pyds(spark, os.path.join(src_store, "vec_id")).withColumnRenamed(
        "value", "vec_id"
    )
    return zarr_matrix_coo(x, ids)


@query(
    "zarr_pyds_stream_roundtrip",
    oracle=_PYDS_ORACLE,
    tags=("sources", "zarr", "datasource", "streaming"),
    cache=False,
)
def zarr_pyds_stream_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING half of the connector: the embeddings-derived store
    is consumed via ``spark.readStream.format("sce_zarr")`` — the
    chunk-manifest ``DataSourceStreamReader`` plans one micro-batch
    partition per unconsumed chunk — under ``Trigger.AvailableNow`` into
    a parquet sink with a checkpoint, then the sink is read back and
    hashed against the same parquet-derived oracle as the batch halves.
    Proves offset planning, executor-side Arrow decode, and exactly-once
    sink delivery end to end (restart idempotence — a second run with
    the same checkpoint ingesting nothing, an appended chunk ingesting
    exactly itself — is pinned by ``tests/test_zarr.py``).

    Engine note: Spark's PythonMicroBatchStream does not implement the
    AvailableNow admission contract, so the trigger FALLS BACK to
    single-batch execution (one micro-batch of everything unconsumed,
    then stop) — equivalent here, since the run's goal is "drain what
    exists now"; a long-lived deployment would use a processing-time
    trigger and the same offsets.
    """
    import hashlib
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from ..catalog import load_table
    from .zarrv2 import _DEFAULT_COMPRESSOR, write_zarr_group, zarr_matrix_coo

    e = load_table(spark, sf_dir, "embeddings")
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    store = os.path.join(tempfile.gettempdir(), f"sce_zarr_pydss_{tag}")
    write_zarr_group(e, store, compressor=_DEFAULT_COMPRESSOR)

    sink = os.path.join(tempfile.gettempdir(), f"sce_zarr_pydss_sink_{tag}")
    ckpt = os.path.join(tempfile.gettempdir(), f"sce_zarr_pydss_ckpt_{tag}")
    for p in (sink, ckpt):  # each invocation is a fresh end-to-end run
        shutil.rmtree(p, ignore_errors=True)

    spark.dataSource.register(ZarrDataSource)
    stream = (
        spark.readStream.format("sce_zarr")
        .option("path", os.path.join(store, "X"))
        .load()
    )
    (
        stream.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    x = spark.read.parquet(sink)
    ids = read_zarr_pyds(spark, os.path.join(store, "vec_id")).withColumnRenamed(
        "value", "vec_id"
    )
    return zarr_matrix_coo(x, ids)


@query(
    "zarr_pyds_stream_write_roundtrip",
    oracle=_PYDS_ORACLE,
    tags=("sources", "zarr", "datasource", "streaming", "sinks"),
    cache=False,
)
def zarr_pyds_stream_write_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fourth and last connector surface — a STREAMING zarr→zarr COPY:
    the embeddings-derived store is consumed through the ``sce_zarr``
    stream SOURCE (chunk-manifest offsets), repartitioned to the
    chunk-group grain, and written through the ``sce_zarr`` stream SINK
    (``ZarrStreamChunkWriter``: per-micro-batch two-phase commit,
    batchId replay guard, grow-only chunk-granular appends) under
    AvailableNow.  The DESTINATION store is then batch-read through the
    connector and COO-hashed against the parquet-derived oracle — one
    value hash proving source offsets, sink commit protocol, and both
    Arrow decode/encode paths compose end to end.
    """
    import hashlib
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from ..catalog import load_table
    from .zarrv2 import (
        _DEFAULT_COMPRESSOR,
        ROWS_PER_CHUNK,
        write_zarr_group,
        zarr_matrix_coo,
    )

    e = load_table(spark, sf_dir, "embeddings")
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    src_store = os.path.join(tempfile.gettempdir(), f"sce_zarr_pydssw_src_{tag}")
    write_zarr_group(e, src_store, compressor=_DEFAULT_COMPRESSOR)

    dst = os.path.join(tempfile.gettempdir(), f"sce_zarr_pydssw_dst_{tag}")
    ckpt = os.path.join(tempfile.gettempdir(), f"sce_zarr_pydssw_ckpt_{tag}")
    for p in (dst, ckpt):  # each invocation is a fresh end-to-end copy
        shutil.rmtree(p, ignore_errors=True)

    spark.dataSource.register(ZarrDataSource)
    stream = (
        spark.readStream.format("sce_zarr")
        .option("path", os.path.join(src_store, "X"))
        .load()
        .repartition(F.expr(f"row div {ROWS_PER_CHUNK}"))
    )
    (
        stream.writeStream.format("sce_zarr")
        .option("path", dst)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    x = read_zarr_pyds(spark, dst)
    ids = read_zarr_pyds(spark, os.path.join(src_store, "vec_id")).withColumnRenamed(
        "value", "vec_id"
    )
    return zarr_matrix_coo(x, ids)
