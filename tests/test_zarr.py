"""Zarr v2 source tests.

The decisive case is the HAND-BUILT store: chunk objects and ``.zarray``
JSON written here byte-by-byte from the public v2 spec, never touching the
engine's writer — proving the reader implements the format, not a private
dialect.  The writer is then checked for spec-complete metadata and padded
edge chunks, and the full write→read roundtrip against numpy.
"""

from __future__ import annotations

import json
import os
import zlib

import numpy as np
import pytest

from single_cell_experiments_spark.sources.zarrv2 import (
    read_zarr_matrix,
    read_zarr_vector,
    read_zarray_meta,
    write_zarr_group,
)
from tests.conftest import SF_DIR


def _hand_store(tmp_path):
    """A 5x3 <f4 matrix chunked [2,3] (3 chunks, edge padded) + a 1-D <i8
    ids array, written from the spec alone."""
    x = np.arange(15, dtype="<f4").reshape(5, 3) / 4.0
    ids = np.array([10, 11, 12, 13, 14], dtype="<i8")
    xdir = tmp_path / "X"
    idir = tmp_path / "ids"
    xdir.mkdir()
    idir.mkdir()
    (xdir / ".zarray").write_text(
        json.dumps(
            {
                "zarr_format": 2,
                "shape": [5, 3],
                "chunks": [2, 3],
                "dtype": "<f4",
                "compressor": {"id": "zlib", "level": 1},
                "fill_value": 0.0,
                "filters": None,
                "order": "C",
            }
        )
    )
    (idir / ".zarray").write_text(
        json.dumps(
            {
                "zarr_format": 2,
                "shape": [5],
                "chunks": [2],
                "dtype": "<i8",
                "compressor": None,
                "fill_value": 0,
                "filters": None,
                "order": "C",
            }
        )
    )
    for ci in range(3):
        block = np.zeros((2, 3), dtype="<f4")
        valid = min(2, 5 - ci * 2)
        block[:valid] = x[ci * 2 : ci * 2 + valid]
        (xdir / f"{ci}.0").write_bytes(zlib.compress(block.tobytes(order="C"), 1))
        iblock = np.zeros(2, dtype="<i8")
        iblock[:valid] = ids[ci * 2 : ci * 2 + valid]
        (idir / f"{ci}").write_bytes(iblock.tobytes(order="C"))
    return x, ids


def test_reader_decodes_hand_built_spec_store(spark, tmp_path):
    x, ids = _hand_store(tmp_path)
    out = read_zarr_matrix(spark, str(tmp_path / "X")).toPandas().sort_values("row")
    assert out["row"].tolist() == [0, 1, 2, 3, 4]
    np.testing.assert_allclose(np.array(out["values"].to_list()), x.astype(np.float64))
    vec = read_zarr_vector(spark, str(tmp_path / "ids")).toPandas().sort_values("row")
    assert vec["value"].tolist() == ids.tolist()
    assert vec["value"].dtype.kind == "i"


def test_reader_rejects_unsupported_codec(spark, tmp_path):
    _hand_store(tmp_path)
    meta = json.loads((tmp_path / "X" / ".zarray").read_text())
    meta["compressor"] = {"id": "lzma"}  # no such numcodec in the engine
    (tmp_path / "X" / ".zarray").write_text(json.dumps(meta))
    df = read_zarr_matrix(spark, str(tmp_path / "X"))
    with pytest.raises(Exception, match="lzma"):
        df.collect()


def test_blosc_rejects_native_only_codec(tmp_path):
    """A blosc chunk whose header names snappy (codec 2) must fail with a
    clear error naming the codec — not a garbage decode.  zstd gets the
    same rejection when no zstd module is importable."""
    import struct

    from single_cell_experiments_spark.sources import blosc_py

    payload = b"\x00" * 32
    header = struct.pack("<BBBBIII", 2, 1, 2 << 5, 4, 32, 32, 16 + 4 + len(payload))
    chunk = header + struct.pack("<i", 16) + payload
    with pytest.raises(NotImplementedError, match="snappy"):
        blosc_py.decompress(chunk)
    if blosc_py.zstd_backend() is None:
        zh = struct.pack("<BBBBIII", 2, 1, 4 << 5, 4, 32, 32, 16 + 4 + len(payload))
        with pytest.raises(NotImplementedError, match="zstd"):
            blosc_py.decompress(zh + struct.pack("<i", 16) + payload)


def test_blosc_lz4_real_compression_roundtrip():
    """The greedy LZ4 encoder must emit genuinely COMPRESSED splits for
    repetitive data (smaller than raw proves match sequences were used,
    not the stored fallback), and the decoder must reverse them — this
    exercises the match-copy path the stored-split encoder never hit
    (r7 advice #2)."""
    from single_cell_experiments_spark.sources import blosc_py

    rng = np.random.default_rng(7)
    # highly repetitive payloads: matches dominate
    bufs = [
        (np.tile(np.arange(32, dtype="<i4"), 512).tobytes(), 4),
        ((b"the quick brown fox " * 400)[: 8000 // 8 * 8], 8),
        (np.zeros(10_000, dtype="<f4").tobytes(), 4),
        # mixed: random head (literals) + repeated tail (matches)
        (rng.integers(0, 255, 1024, dtype=np.uint8).tobytes() + b"ab" * 2048, 1),
    ]
    for data, ts in bufs:
        for shuf in (True, False):
            for bs in (0, 4096):
                enc = blosc_py.compress(data, ts, cname="lz4", shuffle=shuf, blocksize=bs)
                assert len(enc) < len(data), (ts, shuf, bs)
                assert blosc_py.decompress(enc) == data, (ts, shuf, bs)


def test_lz4_compressor_decoder_interop():
    """lz4_block_compress ∘ lz4_block_decompress is identity across shapes
    that force every encoding branch: overlapping matches (offset <
    length), >255 extended match/literal lengths, incompressible bytes,
    short inputs below the 12-byte match window."""
    from single_cell_experiments_spark.sources.blosc_py import (
        lz4_block_compress,
        lz4_block_decompress,
    )

    rng = np.random.default_rng(3)
    cases = [
        b"",
        b"short",
        b"x" * 5000,                      # RLE: offset 1 overlap, ext match len
        b"ab" * 3000,                     # offset-2 overlap
        bytes(rng.integers(0, 255, 400, dtype=np.uint8)),  # ext literal len
        bytes(rng.integers(0, 255, 300, dtype=np.uint8)) * 3,  # long-range match
        b"abcdefgh" + b"Z" * 20 + b"abcdefgh" + b"tail5",
    ]
    for data in cases:
        enc = lz4_block_compress(data)
        assert lz4_block_decompress(enc, len(data)) == data, data[:20]


def test_blosc_chunk_fixture_with_compressed_split():
    """A hand-assembled blosc chunk (NOT produced by this module's
    encoder) whose single split is a real LZ4 sequence with a match —
    decompress() must reproduce the known plaintext byte-for-byte."""
    import struct

    from single_cell_experiments_spark.sources import blosc_py

    split = bytes([0x44]) + b"abcd" + struct.pack("<H", 4)  # -> "abcd"*3
    want = b"abcdabcdabcd"
    cbytes = 16 + 4 + 4 + len(split)
    header = struct.pack("<BBBBIII", 2, 1, 1 << 5, 4, 12, 12, cbytes)
    chunk = header + struct.pack("<i", 20) + struct.pack("<i", len(split)) + split
    assert blosc_py.decompress(chunk) == want


@pytest.mark.skipif(
    __import__(
        "single_cell_experiments_spark.sources.blosc_py", fromlist=["zstd_backend"]
    ).zstd_backend()
    is None,
    reason="no zstd module in this environment (stdlib compression.zstd needs 3.14+)",
)
def test_blosc_zstd_roundtrip(spark, tmp_path):
    """cname=zstd (the modern zarr-python default) round-trips through the
    gated zstd backend — chunk level and full Zarr store level."""
    from single_cell_experiments_spark.catalog import load_table
    from single_cell_experiments_spark.sources import blosc_py

    data = np.arange(8192, dtype="<f4").tobytes()
    for shuf in (True, False):
        enc = blosc_py.compress(data, 4, cname="zstd", shuffle=shuf)
        assert blosc_py.decompress(enc) == data

    store = str(tmp_path / "zs")
    e = load_table(spark, SF_DIR, "embeddings").limit(200)
    blosc = {"id": "blosc", "cname": "zstd", "clevel": 3, "shuffle": 1}
    write_zarr_group(e, store, rows_per_chunk=64, compressor=blosc)
    df = read_zarr_matrix(spark, os.path.join(store, "X"))
    assert df.count() == 200


def test_blosc_container_roundtrip_all_paths():
    """Pure-Python blosc codec: memcpy/zlib/lz4 × shuffle on/off ×
    single/multi block, plus the split path (typesize 4, big block)."""
    from single_cell_experiments_spark.sources import blosc_py

    rng = np.random.default_rng(11)
    bufs = [
        (rng.standard_normal(65_536).astype("<f4").tobytes(), 4),  # splits
        (np.arange(4000, dtype="<i8").tobytes(), 8),
        (rng.integers(0, 255, 64, dtype=np.uint8).tobytes(), 8),  # no split
        (b"", 4),
    ]
    for data, ts in bufs:
        for cname in ("zlib", "lz4", "memcpy"):
            for shuf in (True, False):
                for bs in (0, 4096):
                    enc = blosc_py.compress(data, ts, cname=cname, shuffle=shuf, blocksize=bs)
                    assert blosc_py.decompress(enc) == data, (cname, shuf, bs, len(data))


def test_blosc_lz4_known_vectors():
    """Hand-built LZ4 blocks (literals, match copy, overlapping RLE match,
    extended literal length) decode per the public block format."""
    import struct

    from single_cell_experiments_spark.sources.blosc_py import lz4_block_decompress

    blk = bytes([0x44]) + b"abcd" + struct.pack("<H", 4)
    assert lz4_block_decompress(blk, 12) == b"abcdabcdabcd"
    blk = bytes([0x10]) + b"x" + struct.pack("<H", 1)
    assert lz4_block_decompress(blk, 5) == b"xxxxx"
    lit = bytes(range(256)) + bytes(44)
    blk = bytes([0xF0, 255, 30]) + lit  # 15+255+30 = 300 literals
    assert lz4_block_decompress(blk, 300) == lit


def test_blosc_zarr_store_roundtrip(spark, tmp_path):
    """Zarr store written with the blosc compressor (zlib cname, byte
    shuffle) reads back bit-exact — the zarr-python default codec family
    no longer refuses (r6 verdict missing #1)."""
    from single_cell_experiments_spark.catalog import load_table

    store = str(tmp_path / "bl")
    e = load_table(spark, SF_DIR, "embeddings")
    blosc = {"id": "blosc", "cname": "zlib", "clevel": 3, "shuffle": 1}
    write_zarr_group(e, store, rows_per_chunk=64, compressor=blosc)
    meta = read_zarray_meta(os.path.join(store, "X"))
    assert meta["compressor"]["id"] == "blosc"

    import pyarrow.parquet as pq

    t = pq.read_table(f"{SF_DIR}/embeddings.parquet")
    expected = np.array(t.column("embedding").to_pylist(), dtype=np.float32)[
        np.argsort(t.column("vec_id").to_numpy())
    ]
    x = read_zarr_matrix(spark, os.path.join(store, "X")).toPandas().sort_values("row")
    got = np.array(x["values"].to_list(), dtype=np.float32)
    np.testing.assert_array_equal(got, expected)


def test_colchunk_grid_reassembles_full_rows(spark, tmp_path):
    """2-D chunk grid ([2 rows, 2 cols] over a 5x3 matrix): slices carry
    col0 offsets and reassemble to the exact matrix, right-edge and
    bottom-edge padding trimmed."""
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "vec_id": np.arange(5, dtype=np.int64),
            "embedding": [np.arange(3, dtype=np.float32) + i for i in range(5)],
        }
    )
    wide = spark.createDataFrame(pdf)
    store = str(tmp_path / "cg")
    info = write_zarr_group(wide, store, rows_per_chunk=2, cols_per_chunk=2)
    assert info["chunks"] == [2, 2]
    x = read_zarr_matrix(spark, os.path.join(store, "X")).toPandas()
    assert set(x["col0"]) == {0, 2}
    full = np.zeros((5, 3))
    for _, r in x.iterrows():
        full[r["row"], r["col0"] : r["col0"] + len(r["values"])] = r["values"]
    np.testing.assert_array_equal(full, np.array(pdf["embedding"].to_list()))


def test_writer_emits_spec_metadata_and_padded_edge_chunks(spark, tmp_path):
    from single_cell_experiments_spark.catalog import load_table

    store = str(tmp_path / "grp")
    e = load_table(spark, SF_DIR, "embeddings")
    info = write_zarr_group(e, store, rows_per_chunk=64)
    assert (info["shape"][0] % 64) != 0, "fixture must exercise the padded edge chunk"

    meta = read_zarray_meta(os.path.join(store, "X"))
    assert meta["zarr_format"] == 2
    assert meta["chunks"] == [64, info["shape"][1]]
    assert meta["dtype"] == "<f4"
    assert json.load(open(os.path.join(store, ".zgroup"))) == {"zarr_format": 2}

    # edge chunk object is FULL-SIZE (padded), per spec
    last = info["shape"][0] // 64
    raw = zlib.decompress(open(os.path.join(store, "X", f"{last}.0"), "rb").read())
    assert len(raw) == 64 * info["shape"][1] * 4

    # full roundtrip vs numpy through the parquet source of truth
    import pyarrow.parquet as pq

    t = pq.read_table(f"{SF_DIR}/embeddings.parquet")
    expected = np.array(t.column("embedding").to_pylist(), dtype=np.float32)[
        np.argsort(t.column("vec_id").to_numpy())
    ]
    x = read_zarr_matrix(spark, os.path.join(store, "X")).toPandas().sort_values("row")
    got = np.array(x["values"].to_list(), dtype=np.float32)
    np.testing.assert_array_equal(got, expected)


# --- ZarrChunkWriter task-retry / abort / validation semantics (r10 verdict
# #5 + advice): Spark WILL re-execute write tasks at scale (failure,
# speculation), so the writer must be attempt-idempotent — these tests drive
# the DataSourceArrowWriter surface directly with hand-built attempts, the
# same call sequence Spark's WriteToDataSourceV2 issues.


def _mk_batch(rows, dim=3, base=10.0):
    import pyarrow as pa

    return pa.RecordBatch.from_arrays(
        [
            pa.array([int(r) for r in rows], type=pa.int64()),
            pa.array([0] * len(rows), type=pa.int64()),
            pa.array(
                [[base * r + c for c in range(dim)] for r in rows],
                type=pa.list_(pa.float64()),
            ),
        ],
        names=["row", "col0", "values"],
    )


def _read_store(store):
    """Decode every chunk of a committed store to a dense (n, dim) array."""
    import numpy as np

    from single_cell_experiments_spark.sources.zarrv2 import (
        read_zarray_meta,
        _decompress,
    )

    meta = read_zarray_meta(store)
    n, dim = meta["shape"]
    rpc = meta["chunks"][0]
    out = np.zeros((n, dim))
    for cid in range((n + rpc - 1) // rpc):
        raw = _decompress(
            open(os.path.join(store, f"{cid}.0"), "rb").read(), meta["compressor"]
        )
        block = np.frombuffer(raw, dtype="<f8").reshape(rpc, dim)
        lo = cid * rpc
        out[lo : min(lo + rpc, n)] = block[: min(rpc, n - lo)]
    return out


def test_pyds_writer_retried_attempt_leaves_clean_store(tmp_path):
    """Two attempts of the SAME task (retry/speculation): only the winning
    attempt is committed; losing attempt's temp objects are swept; the
    store is spec-valid and value-exact; no orphan files remain."""
    import numpy as np

    from single_cell_experiments_spark.sources.pyds import ZarrChunkWriter, _TMP_MARK

    store = str(tmp_path / "arr")
    w = ZarrChunkWriter(store, overwrite=True)
    rows = list(range(70))  # spans chunk 0 (full) + chunk 1 (edge)
    m_lost = w.write(iter([_mk_batch(rows)]))   # attempt 1 (will "fail")
    m_won = w.write(iter([_mk_batch(rows)]))    # attempt 2 (wins)
    assert sum(_TMP_MARK in f for f in os.listdir(store)) == 4  # 2 chunks x 2 attempts
    w.commit([m_won])  # Spark passes ONLY the committed attempt's message
    files = sorted(os.listdir(store))
    assert files == [".zarray", "0.0", "1.0"], files  # losers swept, meta last
    got = _read_store(store)
    assert got.shape == (70, 3)
    np.testing.assert_array_equal(got[7], [70.0, 71.0, 72.0])
    del m_lost


def test_pyds_writer_abort_sweeps_temps_and_writes_no_metadata(tmp_path):
    from single_cell_experiments_spark.sources.pyds import ZarrChunkWriter

    store = str(tmp_path / "arr")
    w = ZarrChunkWriter(store, overwrite=True)
    msg = w.write(iter([_mk_batch(range(10))]))
    w.abort([msg])
    assert os.listdir(store) == []  # no temp chunks, no .zarray


def test_pyds_writer_commit_rejects_split_chunk(tmp_path):
    """Rows of one chunk landing in two tasks must FAIL the job, not
    silently last-write-win (rows would read back as zeros)."""
    import pytest

    from single_cell_experiments_spark.sources.pyds import ZarrChunkWriter

    store = str(tmp_path / "arr")
    w = ZarrChunkWriter(store, overwrite=True)
    m1 = w.write(iter([_mk_batch(range(0, 30))]))    # chunk 0, rows 0-29
    m2 = w.write(iter([_mk_batch(range(30, 64))]))   # chunk 0 AGAIN, rows 30-63
    with pytest.raises(ValueError, match="written by two tasks"):
        w.commit([m1, m2])
    assert not os.path.exists(os.path.join(store, ".zarray"))


def test_pyds_writer_commit_rejects_ragged_and_sparse_ids(tmp_path):
    import pytest

    from single_cell_experiments_spark.sources.pyds import ZarrChunkWriter

    # ragged: two tasks with different widths
    w = ZarrChunkWriter(str(tmp_path / "a"), overwrite=True)
    m1 = w.write(iter([_mk_batch(range(0, 64), dim=3)]))
    m2 = w.write(iter([_mk_batch(range(64, 70), dim=5)]))
    with pytest.raises(ValueError, match="ragged"):
        w.commit([m1, m2])

    # gap: rows 0..9 + 20..29 (max_row+1 =30 but only 20 rows)
    w2 = ZarrChunkWriter(str(tmp_path / "b"), overwrite=True)
    m = w2.write(iter([_mk_batch(list(range(10)) + list(range(20, 30)))]))
    with pytest.raises(ValueError, match="dense"):
        w2.commit([m])

    # empty: no rows at all
    w3 = ZarrChunkWriter(str(tmp_path / "c"), overwrite=True)
    m0 = w3.write(iter([]))
    with pytest.raises(ValueError, match="empty zarr array"):
        w3.commit([m0])


def test_pyds_writer_overwrite_defers_delete_to_commit(tmp_path):
    """mode('overwrite') must not destroy the old store before the new data
    is fully staged: old chunks are removed inside commit(), after
    validation, before rename."""
    import numpy as np

    from single_cell_experiments_spark.sources.pyds import ZarrChunkWriter

    store = str(tmp_path / "arr")
    w = ZarrChunkWriter(store, overwrite=True)
    w.commit([w.write(iter([_mk_batch(range(70), base=10.0)]))])
    old = _read_store(store)

    # second write over the same path: old store intact until commit
    w2 = ZarrChunkWriter(store, overwrite=True)
    m = w2.write(iter([_mk_batch(range(5), base=100.0)]))
    np.testing.assert_array_equal(_read_store(store), old)  # still the old data
    w2.commit([m])
    got = _read_store(store)
    assert got.shape == (5, 3)
    np.testing.assert_array_equal(got[2], [200.0, 201.0, 202.0])
    assert sorted(os.listdir(store)) == [".zarray", "0.0"]  # old 1.0 gone


def test_pyds_writer_non_overwrite_rejects_nonempty(tmp_path):
    import pytest

    from single_cell_experiments_spark.sources.pyds import ZarrChunkWriter

    store = str(tmp_path / "arr")
    w = ZarrChunkWriter(store, overwrite=True)
    w.commit([w.write(iter([_mk_batch(range(5))]))])
    with pytest.raises(ValueError, match="non-empty"):
        ZarrChunkWriter(store, overwrite=False)


def test_pyds_stream_restart_ingests_only_new_chunks(spark, tmp_path):
    """Streaming connector restart semantics (r10 verdict #6): an
    AvailableNow run ingests every chunk once; a restart on the same
    checkpoint with no new chunks ingests NOTHING; appending one chunk
    (grow-only: new chunk file + .zarray shape bump) and restarting
    ingests exactly that chunk — no duplicates at any step."""
    import json as _json

    from single_cell_experiments_spark.sources.pyds import ZarrDataSource
    from single_cell_experiments_spark.sources.zarrv2 import _compress

    # hand-built grow-only store: 2 chunks of 2 rows x 3 cols, raw f8
    xdir = tmp_path / "X"
    xdir.mkdir()
    meta = {
        "zarr_format": 2,
        "shape": [4, 3],
        "chunks": [2, 3],
        "dtype": "<f8",
        "compressor": None,
        "fill_value": 0.0,
        "order": "C",
        "filters": None,
    }
    (xdir / ".zarray").write_text(_json.dumps(meta))
    blocks = [np.arange(6, dtype="<f8") + 10 * c for c in range(3)]
    for c in range(2):
        (xdir / f"{c}.0").write_bytes(blocks[c].tobytes())

    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    spark.dataSource.register(ZarrDataSource)

    def run_once():
        # Python-data-source streaming spawns driver-side "simple" Python
        # workers whose connect-back window is a HARDCODED 10 s select() in
        # PythonWorkerFactory (no conf raises it).  On a host saturated by a
        # co-tenant sweep the fork+connect can exceed it, failing the run
        # before (or between) batch commits.  An availableNow restart on the
        # same checkpoint is exactly-once (FileStreamSink commits by batch
        # id), so retrying this one environmental signature is sound and
        # does not weaken any assertion below.
        for attempt in range(3):
            try:
                (
                    spark.readStream.format("sce_zarr")
                    .option("path", str(xdir))
                    .load()
                    .writeStream.format("parquet")
                    .option("path", sink)
                    .option("checkpointLocation", ckpt)
                    .trigger(availableNow=True)
                    .start()
                    .awaitTermination()
                )
                break
            except Exception as e:  # noqa: BLE001 - filtered on message below
                if (
                    attempt == 2
                    or "waiting for the Python worker to connect back"
                    not in str(e)
                ):
                    raise
        return spark.read.parquet(sink).collect()

    rows1 = run_once()
    assert {(r.row, r.col0) for r in rows1} == {(r, 0) for r in range(4)}

    rows2 = run_once()  # restart, nothing new
    assert len(rows2) == len(rows1)

    # grow: append chunk 2 and bump the shape to 6 rows
    (xdir / "2.0").write_bytes(blocks[2].tobytes())
    meta["shape"] = [6, 3]
    (xdir / ".zarray").write_text(_json.dumps(meta))

    rows3 = run_once()
    assert len(rows3) == len(rows1) + 2
    got = {(r.row, r.col0): list(r["values"]) for r in rows3}
    assert len(got) == 6, "duplicate (row, col0) slices after restart"
    assert got[(4, 0)] == [20.0, 21.0, 22.0]
    assert got[(5, 0)] == [23.0, 24.0, 25.0]


def test_pyds_stream_rejects_shrunken_store(spark, tmp_path):
    """A store that loses chunks below a committed offset must raise, not
    silently replay different data."""
    from single_cell_experiments_spark.sources.pyds import ZarrChunkStreamReader

    xdir = tmp_path / "X"
    xdir.mkdir()
    import json as _json

    (xdir / ".zarray").write_text(
        _json.dumps(
            {
                "zarr_format": 2,
                "shape": [2, 3],
                "chunks": [2, 3],
                "dtype": "<f8",
                "compressor": None,
                "fill_value": 0.0,
                "order": "C",
                "filters": None,
            }
        )
    )
    (xdir / "0.0").write_bytes(np.zeros(6, dtype="<f8").tobytes())
    r = ZarrChunkStreamReader({"path": str(xdir)})
    with pytest.raises(RuntimeError, match="shrank"):
        r.partitions({"idx": 0}, {"idx": 5})


def _mk_stream_store(xdir, n_rows, chunk_rows=2, ncols=1, base=0.0):
    """Hand-built uncompressed grow-only store: every shape-covered chunk
    materialized, chunk i holding rows [i*chunk_rows, ...)."""
    import json as _json

    xdir.mkdir(exist_ok=True)
    (xdir / ".zarray").write_text(
        _json.dumps(
            {
                "zarr_format": 2,
                "shape": [n_rows, ncols],
                "chunks": [chunk_rows, ncols],
                "dtype": "<f8",
                "compressor": None,
                "fill_value": 0.0,
                "order": "C",
                "filters": None,
            }
        )
    )
    n_chunks = -(-n_rows // chunk_rows)
    for c in range(n_chunks):
        block = (
            np.arange(chunk_rows * ncols, dtype="<f8") + base + 100 * c
        )
        (xdir / f"{c}.0").write_bytes(block.tobytes())


def test_pyds_stream_manifest_is_numeric_ordered(tmp_path):
    """Index 10 must plan chunk '10.0' after '9.0' — the index→name map is
    numeric grid order, never a lexicographic directory listing (which
    would interleave '10.0' before '2.0' and break the replayable prefix)."""
    from single_cell_experiments_spark.sources.pyds import ZarrChunkStreamReader

    xdir = tmp_path / "X"
    _mk_stream_store(xdir, n_rows=22, chunk_rows=2)
    r = ZarrChunkStreamReader({"path": str(xdir)})
    end = r.latestOffset()
    assert end == {"idx": 11, "rows": 22}
    names = [os.path.basename(p.chunk_path) for p in r.partitions({"idx": 0}, end)]
    assert names[:3] == ["0.0", "1.0", "2.0"]
    assert names[-2:] == ["9.0", "10.0"]


def test_pyds_stream_live_growth_decodes_new_chunks(tmp_path):
    """The r11-advice silent-loss case: chunks appended AFTER the reader was
    constructed must decode with the FRESH shape (latestOffset re-reads
    .zarray per poll; partitions embed the planned row count), not trim to
    zero rows against the constructor-time shape."""
    from single_cell_experiments_spark.sources.pyds import ZarrChunkStreamReader

    xdir = tmp_path / "X"
    _mk_stream_store(xdir, n_rows=4, chunk_rows=2)
    r = ZarrChunkStreamReader({"path": str(xdir)})
    o1 = r.latestOffset()
    assert o1 == {"idx": 2, "rows": 4}

    # grow the store out from under the live reader (same writer layout)
    _mk_stream_store(xdir, n_rows=7, chunk_rows=2)

    o2 = r.latestOffset()
    assert o2 == {"idx": 4, "rows": 7}
    parts = r.partitions(o1, o2)
    assert [os.path.basename(p.chunk_path) for p in parts] == ["2.0", "3.0"]
    rows = []
    for p in parts:
        for rb in r.read(p):
            rows.extend(rb.to_pydict()["row"])
    # chunk 2 = rows 4,5; chunk 3 = tail, row 6 only (shape 7 trims row 7)
    assert rows == [4, 5, 6], "appended chunks must yield their rows, not 0"


def test_pyds_stream_replay_is_plan_exact_after_growth(tmp_path):
    """A replayed [start, end) batch must decode the SAME rows it held at
    plan time even if the tail chunk's validity grew afterwards: the trim
    row-count rides in the partition, not in a live .zarray read."""
    from single_cell_experiments_spark.sources.pyds import ZarrChunkStreamReader

    xdir = tmp_path / "X"
    _mk_stream_store(xdir, n_rows=3, chunk_rows=2)  # chunk 1 = tail, 1 valid row
    r = ZarrChunkStreamReader({"path": str(xdir)})
    end = r.latestOffset()
    assert end == {"idx": 2, "rows": 3}
    parts = r.partitions({"idx": 0, "rows": 0}, end)

    # the store grows: tail padding becomes real rows per the new shape
    _mk_stream_store(xdir, n_rows=4, chunk_rows=2)

    rows = []
    for p in parts:
        for rb in r.read(p):
            rows.extend(rb.to_pydict()["row"])
    assert rows == [0, 1, 2], "replay decoded the grown shape, not the plan"

    # a fresh reader (driver restart) replaying the same offsets agrees
    r2 = ZarrChunkStreamReader({"path": str(xdir)})
    rows2 = []
    for p in r2.partitions({"idx": 0, "rows": 0}, end):
        for rb in r2.read(p):
            rows2.extend(rb.to_pydict()["row"])
    assert rows2 == [0, 1, 2]


def test_pyds_stream_colchunk_grid_indexing(tmp_path):
    """Multi-column-chunk grid: manifest index i names chunk
    (i div ncol).(i mod ncol) in row-major order, latestOffset advances in
    whole row-chunk GROUPS, and each chunk decodes its own column slice."""
    import json as _json

    from single_cell_experiments_spark.sources.pyds import ZarrChunkStreamReader

    xdir = tmp_path / "X"
    xdir.mkdir()
    (xdir / ".zarray").write_text(
        _json.dumps(
            {
                "zarr_format": 2,
                "shape": [4, 4],
                "chunks": [2, 2],
                "dtype": "<f8",
                "compressor": None,
                "fill_value": 0.0,
                "order": "C",
                "filters": None,
            }
        )
    )
    for i in range(2):
        for j in range(2):
            block = np.arange(4, dtype="<f8") + 100 * i + 10 * j
            (xdir / f"{i}.{j}").write_bytes(block.tobytes())

    r = ZarrChunkStreamReader({"path": str(xdir)})
    end = r.latestOffset()
    assert end == {"idx": 4, "rows": 4}
    parts = r.partitions({"idx": 0, "rows": 0}, end)
    assert [os.path.basename(p.chunk_path) for p in parts] == [
        "0.0",
        "0.1",
        "1.0",
        "1.1",
    ]
    out = {}
    for p in parts:
        for rb in r.read(p):
            d = rb.to_pydict()
            for row, col0, vals in zip(d["row"], d["col0"], d["values"]):
                out[(row, col0)] = vals
    # chunk (1, 1) covers rows 2-3, cols 2-3: values 110 + [0..3]
    assert out[(2, 2)] == [110.0, 111.0]
    assert out[(3, 2)] == [112.0, 113.0]
    assert out[(0, 0)] == [0.0, 1.0]
    assert out[(0, 2)] == [10.0, 11.0]

    # a half-written row-chunk group (only '2.0' exists) must NOT advance
    # the offset: whole groups only.
    meta = _json.loads((xdir / ".zarray").read_text())
    meta["shape"] = [6, 4]
    (xdir / ".zarray").write_text(_json.dumps(meta))
    (xdir / "2.0").write_bytes(np.zeros(4, dtype="<f8").tobytes())
    assert r.latestOffset() == {"idx": 4, "rows": 4}
    (xdir / "2.1").write_bytes(np.zeros(4, dtype="<f8").tobytes())
    assert r.latestOffset() == {"idx": 6, "rows": 6}


def test_pyds_stream_delivers_in_place_tail_growth(tmp_path):
    """zarr-python's append pattern rewrites the TAIL chunk in place and
    bumps the shape — rows advance while the chunk count does not.  The
    batch between those offsets must re-plan the tail chunk and deliver
    exactly its new rows (the r12 review's silent-loss case: an idx-range
    plan returned [] while the offset committed past the new rows)."""
    import json as _json

    from single_cell_experiments_spark.sources.pyds import ZarrChunkStreamReader

    xdir = tmp_path / "X"
    _mk_stream_store(xdir, n_rows=3, chunk_rows=2)  # chunk 1 = tail, 1 valid row
    r = ZarrChunkStreamReader({"path": str(xdir)})
    o1 = r.latestOffset()
    assert o1 == {"idx": 2, "rows": 3}

    # in-place append: rewrite chunk 1 with its full 2 rows + bump shape
    _mk_stream_store(xdir, n_rows=4, chunk_rows=2)

    o2 = r.latestOffset()
    assert o2 == {"idx": 2, "rows": 4}, "rows must advance on tail growth"
    parts = r.partitions(o1, o2)
    assert [os.path.basename(p.chunk_path) for p in parts] == ["1.0"]
    rows = []
    for p in parts:
        for rb in r.read(p):
            rows.extend(rb.to_pydict()["row"])
    assert rows == [3], f"batch must deliver exactly the new tail row, got {rows}"

    # replay of the PREVIOUS batch still excludes the grown row
    rows1 = []
    for p in r.partitions({"idx": 0, "rows": 0}, o1):
        for rb in r.read(p):
            rows1.extend(rb.to_pydict()["row"])
    assert rows1 == [0, 1, 2]

    # and a further ordinary append (new chunk) composes with the tail fix
    _mk_stream_store(xdir, n_rows=6, chunk_rows=2)
    o3 = r.latestOffset()
    assert o3 == {"idx": 3, "rows": 6}
    rows2 = []
    for p in r.partitions(o2, o3):
        for rb in r.read(p):
            rows2.extend(rb.to_pydict()["row"])
    assert rows2 == [4, 5]


def test_pyds_stream_poll_is_offset_bounded(tmp_path, monkeypatch):
    """r11 verdict #1: a latestOffset poll after N chunks are verified must
    touch only indices >= N — no directory relisting, no re-probe of the
    consumed prefix."""
    from single_cell_experiments_spark.sources import pyds as pyds_mod
    from single_cell_experiments_spark.sources.pyds import ZarrChunkStreamReader

    xdir = tmp_path / "X"
    _mk_stream_store(xdir, n_rows=20, chunk_rows=2)  # 10 chunks
    r = ZarrChunkStreamReader({"path": str(xdir)})

    listed = []
    real_listdir = os.listdir
    monkeypatch.setattr(os, "listdir", lambda p: listed.append(p) or real_listdir(p))
    probed = []
    real_exists = os.path.exists
    monkeypatch.setattr(
        os.path, "exists", lambda p: probed.append(p) or real_exists(p)
    )

    assert r.latestOffset()["idx"] == 10
    assert str(xdir) not in listed, "latestOffset relisted the chunk directory"
    first_probes = len(probed)
    assert first_probes <= 11  # 10 hits + 1 miss at the shape bound

    probed.clear()
    assert r.latestOffset()["idx"] == 10  # idle poll
    assert probed == [], "idle poll re-probed the verified prefix"

    _mk_stream_store(xdir, n_rows=24, chunk_rows=2)  # +2 chunks
    probed.clear()
    assert r.latestOffset() == {"idx": 12, "rows": 24}
    assert all(
        os.path.basename(p) in ("10.0", "11.0", "12.0") for p in probed
    ), f"growth poll probed consumed prefix: {probed}"
    assert str(xdir) not in listed


def _rb(rows_vals):
    """RecordBatch of (row, col0, values) chunk-slice rows."""
    import pyarrow as pa

    return pa.RecordBatch.from_pydict(
        {
            "row": [r for r, _ in rows_vals],
            "col0": [0] * len(rows_vals),
            "values": [list(map(float, v)) for _, v in rows_vals],
        },
        schema=pa.schema(
            [("row", pa.int64()), ("col0", pa.int64()), ("values", pa.list_(pa.float64()))]
        ),
    )


def test_pyds_stream_writer_grow_only_multibatch(tmp_path):
    """Direct multi-micro-batch exercise of the streaming sink (the
    registered query's AvailableNow fallback delivers one batch, so the
    append path is pinned here): chunk-aligned appends grow the shape,
    values read back exactly, a replayed batchId is a no-op, and the
    grow-only / frozen-boundary / dims validations reject loudly."""
    from single_cell_experiments_spark.sources.pyds import ZarrStreamChunkWriter
    from single_cell_experiments_spark.sources.zarrv2 import (
        ROWS_PER_CHUNK,
        read_zarray_meta,
    )

    path = str(tmp_path / "arr")
    w = ZarrStreamChunkWriter(path, overwrite=False)

    # batch 0: exactly one full chunk (rows 0..RPC-1)
    m0 = w.write(iter([_rb([(r, [r, r + 0.5]) for r in range(ROWS_PER_CHUNK)])]))
    w.commit([m0], batchId=0)
    meta = read_zarray_meta(path)
    assert meta["shape"] == [ROWS_PER_CHUNK, 2]

    # batch 1: a partial second chunk (tail freezes padded)
    tail = [(ROWS_PER_CHUNK + i, [100.0 + i, 0.25]) for i in range(3)]
    m1 = w.write(iter([_rb(tail)]))
    w.commit([m1], batchId=1)
    assert read_zarray_meta(path)["shape"] == [ROWS_PER_CHUNK + 3, 2]

    # replay of batch 1 (post-crash redelivery): no-op, no error
    m1r = w.write(iter([_rb(tail)]))
    w.commit([m1r], batchId=1)
    assert read_zarray_meta(path)["shape"] == [ROWS_PER_CHUNK + 3, 2]
    assert not [f for f in os.listdir(path) if ".__tmp__" in f]

    # batch 2 starting INSIDE the frozen tail chunk must be rejected
    bad = w.write(iter([_rb([(ROWS_PER_CHUNK + 3, [1.0, 1.0])])]))
    with pytest.raises(ValueError, match="frozen chunk boundary"):
        w.commit([bad], batchId=2)

    # batch 2 rewriting committed rows must be rejected (grow-only)
    bad2 = w.write(iter([_rb([(0, [9.0, 9.0])])]))
    with pytest.raises(ValueError, match="grow-only"):
        w.commit([bad2], batchId=2)

    # batch 2 at the NEXT chunk boundary is accepted
    nxt = 2 * ROWS_PER_CHUNK
    m2 = w.write(iter([_rb([(nxt + i, [7.0 + i, 8.0]) for i in range(2)])]))
    w.commit([m2], batchId=2)
    assert read_zarray_meta(path)["shape"] == [nxt + 2, 2]

    # dims drift is rejected
    bad3 = w.write(iter([_rb([(3 * ROWS_PER_CHUNK, [1.0, 2.0, 3.0])])]))
    with pytest.raises(ValueError, match="rectangular"):
        w.commit([bad3], batchId=3)

    # read back through the shared emitter: chunk 0 values + frozen
    # padded tail of chunk 1
    import functools

    from single_cell_experiments_spark.sources.chunkgrid import emit_row_chunk
    from single_cell_experiments_spark.sources.zarrv2 import _INT_KINDS, _read_chunk

    meta = read_zarray_meta(path)
    chunk = functools.partial(_read_chunk, path, meta)

    def decode(r):
        return next(emit_row_chunk(chunk, meta["shape"], meta["chunks"], r, _INT_KINDS))

    out = decode(0)
    row0 = out[out["row"] == 0].iloc[0]
    assert list(row0["values"]) == [0.0, 0.5]

    out1 = decode(1)
    r66 = out1[out1["row"] == ROWS_PER_CHUNK + 2].iloc[0]
    assert list(r66["values"]) == [102.0, 0.25]


def test_pyds_stream_writer_rejects_overwrite_mode(tmp_path):
    from single_cell_experiments_spark.sources.pyds import ZarrStreamChunkWriter

    with pytest.raises(ValueError, match="append-only"):
        ZarrStreamChunkWriter(str(tmp_path / "a"), overwrite=True)


def test_pyds_connector_reads_sharded_v3_store(spark, tmp_path):
    """The DataSource sniffs zarr.json and decodes sharding_indexed shard
    objects — connector output must equal the proven mapInPandas v3
    reader on the same store."""
    from pyspark.sql import functions as F

    from single_cell_experiments_spark.sources.pyds import read_zarr_pyds
    from single_cell_experiments_spark.sources.zarrv3 import (
        read_zarr_v3_matrix,
        write_zarr_v3_group,
    )

    e = spark.createDataFrame(
        [(i, [float(i), float(i) + 0.5, 42.0 - i]) for i in range(100)],
        "vec_id long, embedding array<float>",
    )
    store = str(tmp_path / "v3s")
    write_zarr_v3_group(e, store, shard_inner_rows=16)

    via_connector = {
        (r.row, r.col0, tuple(r["values"]))
        for r in read_zarr_pyds(spark, os.path.join(store, "X")).collect()
    }
    via_reader = {
        (r.row, r.col0, tuple(r["values"]))
        for r in read_zarr_v3_matrix(spark, os.path.join(store, "X")).collect()
    }
    assert via_connector == via_reader and len(via_connector) == 100


def test_pyds_stream_reads_sharded_v3_store(spark, tmp_path):
    """Stream offsets over a V3 sharding_indexed array: meta['chunks'] is
    the SHARD shape (the outer grid chunk keys address), so each manifest
    index is one shard object under the nested default key encoding."""
    from single_cell_experiments_spark.sources.pyds import ZarrChunkStreamReader
    from single_cell_experiments_spark.sources.zarrv3 import write_zarr_v3_group

    e = spark.createDataFrame(
        [(i, [float(i), 7.0]) for i in range(100)],
        "vec_id long, embedding array<float>",
    )
    store = str(tmp_path / "v3ss")
    write_zarr_v3_group(e, store, rows_per_chunk=64, shard_inner_rows=16)
    xdir = os.path.join(store, "X")

    r = ZarrChunkStreamReader({"path": xdir})
    end = r.latestOffset()
    assert end == {"idx": 2, "rows": 100}
    parts = r.partitions({"idx": 0, "rows": 0}, end)
    rel = [os.path.relpath(p.chunk_path, xdir) for p in parts]
    assert rel == ["c/0/0", "c/1/0"]
    rows = {}
    for p in parts:
        for rb in r.read(p):
            d = rb.to_pydict()
            for row, vals in zip(d["row"], d["values"]):
                rows[row] = vals
    assert len(rows) == 100  # shard 2 trimmed to 36 valid rows
    assert rows[99] == [99.0, 7.0]
    assert rows[0] == [0.0, 7.0]


def test_pyds_stream_writer_v3_mode_grow_only(tmp_path):
    """The streaming sink in zarr_format=3 mode: chunk-aligned appends grow
    zarr.json, objects land in the nested default key tree through the v3
    codec chain, replay is a no-op, and the grow-only validation holds."""
    import json as _json

    from single_cell_experiments_spark.sources.pyds import ZarrStreamChunkWriter
    from single_cell_experiments_spark.sources.zarrv2 import ROWS_PER_CHUNK
    from single_cell_experiments_spark.sources.zarrv3 import (
        _decode_chain,
        read_zarr_v3_meta,
    )

    path = str(tmp_path / "arr3")
    w = ZarrStreamChunkWriter(path, overwrite=False, query_id="ckpt-A", version=3)

    m0 = w.write(iter([_rb([(r, [r, r + 0.25]) for r in range(ROWS_PER_CHUNK)])]))
    w.commit([m0], batchId=0)
    meta = read_zarr_v3_meta(path)
    assert meta["shape"] == [ROWS_PER_CHUNK, 2]
    assert os.path.exists(os.path.join(path, "c", "0", "0"))

    tail = [(ROWS_PER_CHUNK + i, [50.0 + i, 1.5]) for i in range(3)]
    m1 = w.write(iter([_rb(tail)]))
    w.commit([m1], batchId=1)
    assert read_zarr_v3_meta(path)["shape"] == [ROWS_PER_CHUNK + 3, 2]

    # replay: no-op, no temps left
    m1r = w.write(iter([_rb(tail)]))
    w.commit([m1r], batchId=1)
    assert not [f for f in os.listdir(path) if ".__tmp__" in f]

    # grow-only still enforced in v3 mode
    bad = w.write(iter([_rb([(0, [9.0, 9.0])])]))
    with pytest.raises(ValueError, match="grow-only"):
        w.commit([bad], batchId=2)

    # decode chunk 1 through the v3 chain: row RPC+2 holds [52.0, 1.5]
    meta = read_zarr_v3_meta(path)
    with open(os.path.join(path, "c", "1", "0"), "rb") as fh:
        blob = fh.read()
    block = np.frombuffer(
        _decode_chain(blob, meta["codecs"]), dtype=meta["dtype"]
    ).reshape(meta["chunks"])
    assert list(block[2]) == [52.0, 1.5]
    assert list(block[3]) == [0.0, 0.0]  # frozen tail padding


def test_pyds_writers_reject_v3_destination(spark, tmp_path):
    """The connector's writers produce v2 stores; pointing them at a v3
    store must fail loudly, not interleave .zarray into zarr.json-land."""
    from single_cell_experiments_spark.sources.pyds import (
        ZarrChunkWriter,
        ZarrStreamChunkWriter,
    )
    from single_cell_experiments_spark.sources.zarrv3 import write_zarr_v3_group

    e = spark.createDataFrame(
        [(i, [1.0, 2.0]) for i in range(4)], "vec_id long, embedding array<float>"
    )
    store = str(tmp_path / "v3w")
    write_zarr_v3_group(e, store)
    xdir = os.path.join(store, "X")
    with pytest.raises(ValueError, match="V3 store"):
        ZarrChunkWriter(xdir, overwrite=True)
    with pytest.raises(ValueError, match="V3 store"):
        ZarrStreamChunkWriter(xdir, overwrite=False)


def test_pyds_stream_writer_rejects_foreign_query_low_batchid(tmp_path):
    """r11 advice (medium): a NEW query (fresh checkpoint → batchIds restart
    at 0) writing to a store owned by another query must raise loudly — the
    old guard silently swept its first batches as 'replays'."""
    from single_cell_experiments_spark.sources.pyds import ZarrStreamChunkWriter
    from single_cell_experiments_spark.sources.zarrv2 import ROWS_PER_CHUNK

    path = str(tmp_path / "arr")
    a = ZarrStreamChunkWriter(path, overwrite=False, query_id="ckpt-A")
    m = a.write(iter([_rb([(r, [r, 1.0]) for r in range(ROWS_PER_CHUNK)])]))
    a.commit([m], batchId=0)
    m = a.write(
        iter([_rb([(ROWS_PER_CHUNK + r, [r, 2.0]) for r in range(ROWS_PER_CHUNK)])])
    )
    a.commit([m], batchId=1)

    b = ZarrStreamChunkWriter(path, overwrite=False, query_id="ckpt-B")
    mb = b.write(
        iter([_rb([(2 * ROWS_PER_CHUNK + r, [r, 3.0]) for r in range(3)])])
    )
    with pytest.raises(ValueError, match="different streaming query"):
        b.commit([mb], batchId=0)  # would have been silently dropped before

    # replay from the OWNING query is still a clean no-op
    mr = a.write(
        iter([_rb([(ROWS_PER_CHUNK + r, [r, 2.0]) for r in range(ROWS_PER_CHUNK)])])
    )
    a.commit([mr], batchId=1)

    # ... and query B CAN continue the store at a fresh batchId > last_batch
    # (grow-only validation still guards the data); ownership rebinds.
    mb2 = b.write(
        iter([_rb([(2 * ROWS_PER_CHUNK + r, [r, 3.0]) for r in range(3)])])
    )
    b.commit([mb2], batchId=2)
    from single_cell_experiments_spark.sources.zarrv2 import read_zarray_meta

    assert read_zarray_meta(path)["shape"] == [2 * ROWS_PER_CHUNK + 3, 2]


def test_pyds_stream_writer_crashed_publish_replays_idempotently(tmp_path):
    """Crash AFTER the publish intent / renames but BEFORE the batchId is
    recorded: the replay must complete the commit (same rows), not
    false-fail grow-only validation against the half-published store."""
    import json as _json

    from single_cell_experiments_spark.sources.pyds import (
        _STREAM_STATE,
        ZarrStreamChunkWriter,
    )
    from single_cell_experiments_spark.sources.zarrv2 import (
        ROWS_PER_CHUNK,
        read_zarray_meta,
    )

    path = str(tmp_path / "arr")
    w = ZarrStreamChunkWriter(path, overwrite=False, query_id="ckpt-A")
    m0 = w.write(iter([_rb([(r, [r, 0.5]) for r in range(ROWS_PER_CHUNK)])]))
    w.commit([m0], batchId=0)

    batch1 = [(ROWS_PER_CHUNK + r, [50.0 + r, 1.5]) for r in range(4)]
    m1 = w.write(iter([_rb(batch1)]))
    w.commit([m1], batchId=1)

    # simulate the crash window: data + .zarray published (commit ran), but
    # rewind the sidecar to "intent written, batchId not recorded"
    state_path = os.path.join(path, _STREAM_STATE)
    st = _json.loads(open(state_path).read())
    assert st == {"last_batch": 1, "query": "ckpt-A", "intent": None}
    st["last_batch"] = 0
    st["intent"] = {
        "query": "ckpt-A",
        "batch": 1,
        "shape0": ROWS_PER_CHUNK + 4,
        "min_row": ROWS_PER_CHUNK,
        "dim": 2,
    }
    open(state_path, "w").write(_json.dumps(st))

    # Spark redelivers batch 1 after restart: tasks regenerate, commit resumes
    m1r = w.write(iter([_rb(batch1)]))
    w.commit([m1r], batchId=1)
    assert read_zarray_meta(path)["shape"] == [ROWS_PER_CHUNK + 4, 2]
    st2 = _json.loads(open(state_path).read())
    assert st2 == {"last_batch": 1, "query": "ckpt-A", "intent": None}

    # a replay whose rows DISAGREE with the intent is rejected, not committed
    st2["last_batch"] = 0
    st2["intent"] = {
        "query": "ckpt-A",
        "batch": 1,
        "shape0": ROWS_PER_CHUNK + 4,
        "min_row": ROWS_PER_CHUNK,
        "dim": 2,
    }
    open(state_path, "w").write(_json.dumps(st2))
    bad = w.write(iter([_rb(batch1[:2])]))  # fewer rows than the intent
    with pytest.raises(ValueError, match="recorded intent"):
        w.commit([bad], batchId=1)


def test_pyds_writer_rejects_duplicate_row_ids(tmp_path):
    """r11 advice (low): a duplicate row id cancelling a gap passed the
    dense-range check and last-write-won silently; it must raise in the
    task that builds the chunk."""
    from single_cell_experiments_spark.sources.pyds import ZarrChunkWriter

    w = ZarrChunkWriter(str(tmp_path / "arr"), overwrite=True)
    with pytest.raises(ValueError, match="duplicate row id"):
        w.write(iter([_rb([(0, [1.0, 1.0]), (0, [9.0, 9.0]), (2, [2.0, 2.0]), (3, [3.0, 3.0])])]))


# --- consolidated metadata (.zmetadata) ---------------------------------------


def _tiny_group(spark, tmp_path):
    from single_cell_experiments_spark.sources.zarrv2 import write_zarr_group

    rows = [(i, [float(i), float(i) + 0.5]) for i in range(10)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    store = str(tmp_path / "grp")
    write_zarr_group(df, store, rows_per_chunk=4)
    return store


def test_consolidate_metadata_matches_member_files(spark, tmp_path):
    """.zmetadata must be the exact union of the member metadata files
    under zarr-python's key scheme (root .zgroup, <array>/.zarray)."""
    import json as _json
    import os as _os

    from single_cell_experiments_spark.sources.zarrv2 import (
        consolidate_metadata,
        read_consolidated_meta,
    )

    store = _tiny_group(spark, tmp_path)
    doc = consolidate_metadata(store)
    assert doc["zarr_consolidated_format"] == 1

    md = read_consolidated_meta(store)
    assert set(md) == {".zgroup", "X/.zarray", "vec_id/.zarray"}
    for key in md:
        with open(_os.path.join(store, key)) as fh:
            assert md[key] == _json.load(fh), key


def test_consolidated_read_never_opens_member_zarray(spark, tmp_path):
    """Exclusivity: delete every member .zarray from a consolidated copy —
    the consolidated readers still decode the store bit-exactly, while the
    per-array path (correctly) fails."""
    import os as _os

    from single_cell_experiments_spark.sources.zarrv2 import (
        consolidate_metadata,
        read_zarr_matrix,
        read_zarr_matrix_consolidated,
        read_zarr_vector_consolidated,
    )

    store = _tiny_group(spark, tmp_path)
    consolidate_metadata(store)
    before = {
        (r.row, r.col0, tuple(r["values"]))
        for r in read_zarr_matrix_consolidated(spark, store, "X").collect()
    }
    for arr in ("X", "vec_id"):
        _os.remove(_os.path.join(store, arr, ".zarray"))

    after = {
        (r.row, r.col0, tuple(r["values"]))
        for r in read_zarr_matrix_consolidated(spark, store, "X").collect()
    }
    assert after == before and len(after) == 10
    ids = sorted(
        r.value for r in read_zarr_vector_consolidated(spark, store, "vec_id").collect()
    )
    assert ids == list(range(10))

    with pytest.raises(FileNotFoundError):
        read_zarr_matrix(spark, os.path.join(store, "X"))


def test_consolidated_rejects_unknown_container_version(spark, tmp_path):
    from single_cell_experiments_spark.sources.zarrv2 import (
        consolidate_metadata,
        read_consolidated_meta,
    )

    store = _tiny_group(spark, tmp_path)
    consolidate_metadata(store)
    p = os.path.join(store, ".zmetadata")
    doc = json.loads(open(p).read())
    doc["zarr_consolidated_format"] = 2
    open(p, "w").write(json.dumps(doc))
    with pytest.raises(ValueError, match="zarr_consolidated_format"):
        read_consolidated_meta(store)


def test_consolidated_guards_match_per_array_guards(spark, tmp_path):
    """A filters-bearing array must be refused identically through both
    metadata sources (same dict, same refusal)."""
    from single_cell_experiments_spark.sources.zarrv2 import (
        consolidate_metadata,
        read_zarr_matrix_consolidated,
    )

    store = _tiny_group(spark, tmp_path)
    zp = os.path.join(store, "X", ".zarray")
    meta = json.loads(open(zp).read())
    meta["filters"] = [{"id": "delta"}]
    open(zp, "w").write(json.dumps(meta))
    consolidate_metadata(store)
    with pytest.raises(NotImplementedError, match="filters"):
        read_zarr_matrix_consolidated(spark, store, "X")


def test_append_rows_merges_boundary_and_leaves_history_untouched(spark, tmp_path):
    """Write 5 rows (chunk=64 default is too big to show the boundary —
    use the public writer then append): history chunk bytes must be
    byte-identical after append, the boundary chunk must merge old and
    new rows, and refusals fire for sparse ids and dim mismatch."""
    import os

    import numpy as np
    import pytest

    from single_cell_experiments_spark.sources.zarrv2 import (
        append_zarr_rows,
        read_zarr_matrix,
        read_zarr_vector,
        write_zarr_group,
        zarr_matrix_coo,
    )

    def frame(lo, hi, dim=3):
        rows = [(i, [float(i) + j / 10.0 for j in range(dim)]) for i in range(lo, hi)]
        return spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<FLOAT>")

    store = str(tmp_path / "grow")
    write_zarr_group(frame(0, 70), store)  # chunks 0 (full) + 1 (6 rows)
    c0 = open(os.path.join(store, "X", "0.0"), "rb").read()
    info = append_zarr_rows(frame(70, 150), store)
    assert info == {"shape": [150, 3], "chunks": [64, 3], "appended": 80}
    assert open(os.path.join(store, "X", "0.0"), "rb").read() == c0  # history
    x = read_zarr_matrix(spark, os.path.join(store, "X"))
    ids = read_zarr_vector(spark, os.path.join(store, "vec_id")).withColumnRenamed(
        "value", "vec_id"
    )
    got = {
        (int(r.vec_id), int(r.pos)): float(r.v)
        for r in zarr_matrix_coo(x, ids).collect()
    }
    assert len(got) == 150 * 3
    for i in (0, 63, 64, 69, 70, 149):  # spans old, boundary, appended
        for j in range(3):
            assert got[(i, j + 1)] == round(float(np.float32(i + j / 10.0)), 6)

    with pytest.raises(ValueError, match="dense ids"):
        append_zarr_rows(frame(151, 160), store)  # gap at 150
    with pytest.raises(ValueError, match="dim mismatch"):
        append_zarr_rows(frame(150, 151, dim=4), store)
