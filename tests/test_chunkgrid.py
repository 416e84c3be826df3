"""The chunk-grid writer behind every padded Zarr store
(``sources/chunkgrid.py``): pinned store bytes for each writer, the
dense-id guard, reproducible gzip chunks and a job-count bound.

The fixed frame is 10 rows × 5 genes written with ``rows_per_chunk=4``
and ``cols_per_chunk=2``, so both grid edges are ragged.  The pinned
``(relpath, sha256)`` lists in ``chunkgrid_digests.json`` cover every
file each configuration writes; a change that moves one byte of any
chunk object or metadata document fails here with the file named.  The
plain digests were recorded from the per-format writers before they
moved onto the shared grid writer; the gzip ones once gzip chunks
stopped embedding the wall-clock time."""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pytest

from pyspark.sql import functions as F

from single_cell_experiments_spark.api import AnnFrame
from single_cell_experiments_spark.catalog import load_table
from single_cell_experiments_spark.sources import chunkgrid, sparse, zarrv2, zarrv3

from tests.conftest import SF_DIR, count_jobs

N, DIM, RPC, CPC = 10, 5, 4, 2
_GZIP_V2 = {"id": "gzip", "level": 1}
_GZIP_V3 = [
    {"name": "bytes", "configuration": {"endian": "little"}},
    {"name": "gzip", "configuration": {"level": 5}},
]
_BIG_V3 = [
    {"name": "bytes", "configuration": {"endian": "big"}},
    {"name": "crc32c"},
]
_DIGESTS = os.path.join(os.path.dirname(__file__), "chunkgrid_digests.json")


def _wide(spark, lo=0, hi=N):
    """(vec_id, embedding float32[5], i bigint, f double, s string) rows."""
    rows = [
        (
            i,
            [float(i) + j / 10.0 - 0.25 * (j % 2) for j in range(DIM)],
            i * i - 7,
            i / 3.0,
            None if i == 3 else "cell" + "x" * (i % 4),
        )
        for i in range(lo, hi)
    ]
    return spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<FLOAT>, i BIGINT, f DOUBLE, s STRING"
    )


def _matrix(spark, n, k, id_col="row_id", scale=1.0):
    rows = [(i, [scale * (i + 1) / (j + 2) for j in range(k)]) for i in range(n)]
    return spark.createDataFrame(rows, f"{id_col} BIGINT, values ARRAY<DOUBLE>")


def _coo(spark):
    rows = [(i, j, float(i * DIM + j) / 4.0) for i in range(N) for j in range(DIM)
            if (i + 2 * j) % 3 == 0 and i != 6]
    return spark.createDataFrame(rows, "row_id BIGINT, col BIGINT, v DOUBLE")


def _annframe(spark):
    af = AnnFrame.from_table(_wide(spark))
    var = spark.createDataFrame(
        [(p, f"g{p}", p * 2) for p in range(1, DIM + 1)], "pos BIGINT, gname STRING, k BIGINT"
    )
    af = AnnFrame(af.x, af.obs, var)
    return (
        af.with_obsm("X_pca", _matrix(spark, N, 3))
        .with_layer("counts", _matrix(spark, N, DIM, scale=3.0))
        .with_varm("PCs", _matrix(spark, DIM, 2, id_col="pos"))
        .with_obsp("distances", _coo(spark).where(F.col("col") < 5))
        .with_uns("neighbors", {"k": 2})
        .with_raw(AnnFrame(_matrix(spark, N, DIM + 2, scale=0.5), None, None))
    )


def _write_stores(spark, root: str, gz: bool) -> None:
    """Write every configuration under ``root/<name>``.  ``gz=True``
    writes only the gzip-coded configurations."""
    p = lambda name: os.path.join(root, name)  # noqa: E731
    if gz:
        zarrv2.write_zarr_group(
            _wide(spark), p("v2_gzip"), rows_per_chunk=RPC, cols_per_chunk=CPC,
            compressor=_GZIP_V2, obs_cols=("i", "f", "s"),
        )
        zarrv3.write_zarr_v3_group(
            _wide(spark), p("v3_gzip"), rows_per_chunk=RPC, cols_per_chunk=CPC,
            codecs=_GZIP_V3,
        )
        zarrv3.write_zarr_v3_group(
            _wide(spark), p("v3_gzip_sharded"), rows_per_chunk=RPC,
            codecs=_GZIP_V3, shard_inner_rows=2,
        )
        _annframe(spark).to_zarr(p("annframe_gzip"), rows_per_chunk=RPC,
                                 compressor=_GZIP_V2)
        return
    obs = ("i", "f", "s")
    zarrv2.write_zarr_group(_wide(spark), p("v2_rows"), rows_per_chunk=RPC, obs_cols=obs)
    zarrv2.write_zarr_group(
        _wide(spark), p("v2_cols"), rows_per_chunk=RPC, cols_per_chunk=CPC, obs_cols=obs
    )
    zarrv2.write_zarr_group(
        _wide(spark), p("v2_blosc"), rows_per_chunk=RPC, cols_per_chunk=CPC,
        compressor={"id": "blosc", "cname": "lz4", "clevel": 5, "shuffle": 1},
    )
    zarrv2.write_zarr_group(_wide(spark), p("v2_raw"), rows_per_chunk=RPC, compressor=None)
    zarrv2.write_zarr_obsm_member(_matrix(spark, N, 3), p("v2_obsm/obsm_a"), N, RPC)
    zarrv2.write_zarr_obsm_member(_matrix(spark, DIM, 2), p("v2_obsm/varm_b"), DIM, RPC)
    zarrv2.write_zarr_group(_wide(spark, 0, 6).select("vec_id", "embedding"),
                            p("v2_append"), rows_per_chunk=RPC)
    zarrv2.append_zarr_rows(_wide(spark, 6, N).select("vec_id", "embedding"), p("v2_append"))
    sparse.write_zarr_csr(_coo(spark), p("v2_csr"), N, DIM, entries_per_chunk=RPC)
    sparse.write_zarr_csc(_coo(spark), p("v2_csc"), N, DIM, entries_per_chunk=RPC)
    _annframe(spark).to_zarr(p("annframe"), rows_per_chunk=RPC)
    _annframe(spark).to_zarr(p("annframe_sparse"), rows_per_chunk=RPC, sparse=True)
    zarrv3.write_zarr_v3_group(
        _wide(spark), p("v3_cols"), rows_per_chunk=RPC, cols_per_chunk=CPC
    )
    zarrv3.write_zarr_v3_group(
        _wide(spark), p("v3_sharded"), rows_per_chunk=RPC, cols_per_chunk=CPC,
        shard_inner_rows=2,
    )
    zarrv3.write_zarr_v3_group(
        _wide(spark), p("v3_big"), rows_per_chunk=RPC, cols_per_chunk=CPC,
        codecs=_BIG_V3, keyenc={"name": "v2", "configuration": {"separator": "."}},
    )
    vec = _wide(spark).select("vec_id", F.col("s").alias("value"))
    zarrv3.write_zarr_v3_dict_vector(vec, p("v3_dict"), rows_per_chunk=RPC)
    zarrv3.write_zarr_v3_dict_vector(vec, p("v3_dict_big"), rows_per_chunk=RPC,
                                     codecs=_BIG_V3)
    zarrv3.write_zarr_v3_obsm_member(_matrix(spark, N, 3), p("v3_obsm"), N, RPC)
    zarrv3.write_zarr_v3_obsm_member(_matrix(spark, N, 3), p("v3_obsm_big"), N, RPC,
                                     codecs=_BIG_V3)


def _manifest(root: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(root):
        for name in files:
            full = os.path.join(d, name)
            with open(full, "rb") as fh:
                out[os.path.relpath(full, root)] = hashlib.sha256(fh.read()).hexdigest()
    return dict(sorted(out.items()))


@pytest.mark.parametrize("gz", [False, True], ids=["plain", "gzip"])
def test_store_bytes_match_pinned_digests(spark, tmp_path, gz):
    """Every file of every configuration hashes to its pinned digest —
    the chunk placement, edge padding, codec payloads, key names and
    metadata documents of all seven positional writers at once."""
    _write_stores(spark, str(tmp_path), gz)
    got = _manifest(str(tmp_path))
    with open(_DIGESTS) as fh:
        want = json.load(fh)["gzip" if gz else "plain"]
    assert sorted(got) == sorted(want)
    bad = [k for k in want if got[k] != want[k]]
    assert not bad, bad


def test_gzip_chunks_are_reproducible(spark, tmp_path):
    """gzip chunk objects carry no wall-clock time: the same frame written
    twice, more than a second apart, gives byte-equal stores."""
    import time

    stores = []
    for run in ("a", "b"):
        root = str(tmp_path / run)
        zarrv2.write_zarr_group(_wide(spark), os.path.join(root, "v2"),
                                rows_per_chunk=RPC, compressor=_GZIP_V2)
        zarrv3.write_zarr_v3_group(_wide(spark), os.path.join(root, "v3"),
                                   rows_per_chunk=RPC, codecs=_GZIP_V3)
        stores.append(_manifest(root))
        time.sleep(1.1)
    assert stores[0] == stores[1]


# --- the dense-id guard ----------------------------------------------------------

#: four rows whose ids are not 0..3: a duplicate cancelling a gap (passes
#: a count == max+1 check), an id below 0, an id past the last row; and
#: no rows at all.
_BAD_IDS = {
    "dup_gap": [0, 1, 3, 3],
    "negative": [0, 1, -1, 2],
    "past_end": [0, 1, 2, 9],
    "empty": [],
}
#: writers for which no rows is a valid input: appending nothing, the
#: CSR vectors of a matrix with no non-zeros, a dictionary vector of
#: length 0.
_EMPTY_OK = {"v2_append", "v2_sparse", "v3_dict"}


def _rows(spark, ids, lo=0):
    return spark.createDataFrame(
        [(lo + i, [float(i)] * 3, [float(i)] * 3, f"c{i % 2}") for i in ids],
        "vec_id BIGINT, embedding ARRAY<FLOAT>, values ARRAY<DOUBLE>, value STRING",
    )


_WRITERS = {
    "v2_group": lambda s, ids, p: zarrv2.write_zarr_group(_rows(s, ids), p, rows_per_chunk=2),
    "v2_obsm": lambda s, ids, p: zarrv2.write_zarr_obsm_member(
        _rows(s, ids).withColumnRenamed("vec_id", "row_id"), p, 4, 2
    ),
    "v2_append": lambda s, ids, p: zarrv2.append_zarr_rows(
        _rows(s, ids, lo=4).select("vec_id", "embedding"), p
    ),
    # the CSR writer's indices/data write: a 1-D v2 vector straight
    # through the grid writer, with no bounds aggregate in front
    "v2_sparse": lambda s, ids, p: chunkgrid.write_chunk_grid(
        _rows(s, ids).select(F.col("vec_id").alias("idx"), F.col("vec_id").alias("v")),
        "idx", 4, 2, [chunkgrid.Member(p, "v", np.dtype("<i8"))],
        zarrv2._v2_put(None), zarrv2._v2_meta(None),
    ),
    "v3_group": lambda s, ids, p: zarrv3.write_zarr_v3_group(_rows(s, ids), p, rows_per_chunk=2),
    "v3_sharded": lambda s, ids, p: zarrv3.write_zarr_v3_group(
        _rows(s, ids), p, rows_per_chunk=4, shard_inner_rows=2
    ),
    "v3_dict": lambda s, ids, p: zarrv3.write_zarr_v3_dict_vector(_rows(s, ids), p, 2),
    "v3_obsm": lambda s, ids, p: zarrv3.write_zarr_v3_obsm_member(
        _rows(s, ids).withColumnRenamed("vec_id", "row_id"), p, 4, 2
    ),
}


def _metadata_docs(root: str) -> list[str]:
    return [
        os.path.join(d, f)
        for d, _, files in os.walk(root)
        for f in files
        if f in (".zarray", "zarr.json", ".zgroup")
    ]


@pytest.mark.parametrize(
    "writer,case",
    [(w, c) for w in _WRITERS for c in _BAD_IDS if not (c == "empty" and w in _EMPTY_OK)]
    + [("varm_1based", "pos")],
)
def test_positional_writers_reject_non_dense_ids(spark, tmp_path, writer, case):
    """Every positional writer refuses ids that are not exactly
    ``lo..lo+n-1`` with ``ValueError`` and leaves no readable array: the
    metadata documents are written only after the chunk job, so a fresh
    store has none and an append leaves its store at the old shape."""
    root = str(tmp_path / "store")
    if writer == "varm_1based":  # gene positions 1..n instead of 0..n-1
        af = AnnFrame(_matrix(spark, 4, DIM)).with_varm(
            "PCs", _matrix(spark, DIM + 1, 2, id_col="pos").where(F.col("pos") > 0)
        )
        with pytest.raises(ValueError, match="one row per cell"):
            af.to_zarr(root, rows_per_chunk=RPC)
        assert not os.path.exists(os.path.join(root, "varm_PCs", ".zarray"))
        return
    if writer == "v2_append":  # rows 4,5 land past the old shape before 7,7 raise
        zarrv2.write_zarr_group(_rows(spark, range(4)).select("vec_id", "embedding"), root, 2)
        before = _manifest(root)
    with pytest.raises(ValueError, match="dense|one row per cell"):
        _WRITERS[writer](spark, _BAD_IDS[case], root)
    if writer != "v2_append":
        assert _metadata_docs(root) == []
        return
    after = _manifest(root)
    assert {k: after[k] for k in before if k.endswith(".zarray")} == {
        k: v for k, v in before.items() if k.endswith(".zarray")
    }
    back = zarrv2.read_zarr_matrix(spark, os.path.join(root, "X")).collect()
    assert sorted(int(r.row) for r in back) == [0, 1, 2, 3]
    assert AnnFrame.from_zarr(spark, root).x.count() == 4


# --- job counts --------------------------------------------------------------------

#: jobs each writer runs on the ``embeddings`` table in one job group, as
#: measured (5 each): the bounds aggregate (dense-id guard and widths)
#: plus the one chunk-grid job.  The CSR writer of the entries > 0.25
#: (6 measured) collects its per-row-block aggregate, then runs one
#: placement pass into the chunk-grid job.  Job counts are
#: deterministic, so a writer that grows a job fails here.
WRITE_MAX_JOBS = {"v2_csr": 6, "v2_group": 5, "v3_sharded": 5}


@pytest.mark.parametrize("writer", sorted(WRITE_MAX_JOBS))
def test_writer_job_count_bound(spark, tmp_path, writer):
    e, path = load_table(spark, SF_DIR, "embeddings"), str(tmp_path / "s")
    n, coo = e.count(), e.select(
        F.col("vec_id").alias("row_id"), F.posexplode("embedding").alias("col", "v")
    ).where(F.col("v") > 0.25)
    write = {
        "v2_csr": lambda: sparse.write_zarr_csr(coo, path, n, 64),
        "v2_group": lambda: zarrv2.write_zarr_group(e, path),
        "v3_sharded": lambda: zarrv3.write_zarr_v3_group(e, path, shard_inner_rows=16),
    }[writer]
    jobs = count_jobs(spark, write)
    assert 0 < jobs <= WRITE_MAX_JOBS[writer], jobs
