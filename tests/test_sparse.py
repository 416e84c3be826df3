"""CSR group encoding (r14 verdict #2): spec shape of the on-disk arrays,
all-zero-row extents, encoding-tag refusals, and the nnz-not-n×d byte
claim the SCALE.md row records."""

from __future__ import annotations

import json
import os
import zlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from single_cell_experiments_spark.sources.sparse import (
    read_zarr_csr,
    write_zarr_csr,
)


def _coo_df(spark, triplets):
    return spark.createDataFrame(triplets, "row_id BIGINT, col BIGINT, v DOUBLE")


def test_csr_roundtrip_with_all_zero_rows(spark, tmp_path):
    """Rows 1 and 3 have no entries: indptr must still carry their (empty)
    extents and the read side must not resurrect them.  The second input
    (2 entries per chunk, 9 rows) leaves rows 2..5 and the last two rows
    empty, so whole ``indptr`` chunks belong to rows without entries."""
    cases = [
        ([(0, 2, 1.5), (0, 0, -2.0), (2, 3, 0.25), (4, 1, 7.0), (4, 2, 8.0)], 5, 4096),
        ([(0, 3, 1.5), (1, 0, -2.0), (1, 2, 0.5), (6, 1, 7.0), (6, 3, 8.0)], 9, 2),
    ]
    for k, (trips, n_rows, epc) in enumerate(cases):
        store = str(tmp_path / f"csr{k}")
        info = write_zarr_csr(
            _coo_df(spark, trips), store, n_rows=n_rows, n_cols=4, entries_per_chunk=epc
        )
        assert info["nnz"] == 5 and info["shape"] == [n_rows, 4]
        back = {
            (int(r.row_id), int(r.col)): float(r.v)
            for r in read_zarr_csr(spark, store).collect()
        }
        assert back == {(r, c): v for r, c, v in trips}


def test_csr_on_disk_layout_is_the_anndata_spec(spark, tmp_path):
    """Decode the three member arrays by hand: indptr is the canonical
    exclusive prefix vector (monotone, closes at nnz), indices sort by
    col within each row, data is float64."""
    trips = [(0, 2, 1.5), (0, 0, -2.0), (2, 3, 0.25)]
    store = str(tmp_path / "csr_spec")
    write_zarr_csr(_coo_df(spark, trips), store, n_rows=3, n_cols=4)
    attrs = json.load(open(os.path.join(store, ".zattrs")))
    assert attrs["encoding-type"] == "csr_matrix"
    assert attrs["shape"] == [3, 4]

    def arr(name, dt):
        meta = json.load(open(os.path.join(store, name, ".zarray")))
        assert meta["dtype"] == dt
        raw = zlib.decompress(open(os.path.join(store, name, "0"), "rb").read())
        return np.frombuffer(raw, dtype=np.dtype(dt))[: meta["shape"][0]]

    indptr = arr("indptr", "<i8")
    indices = arr("indices", "<i8")
    data = arr("data", "<f8")
    assert indptr.tolist() == [0, 2, 2, 3]
    assert indices.tolist() == [0, 2, 3]  # row 0 sorted by col
    assert data.tolist() == [-2.0, 1.5, 0.25]


def test_csr_rejects_out_of_shape_entries(spark, tmp_path):
    with pytest.raises(ValueError, match="outside shape"):
        write_zarr_csr(
            _coo_df(spark, [(0, 9, 1.0)]), str(tmp_path / "bad"), n_rows=2, n_cols=4
        )


def test_csr_reader_refuses_non_csr_group(spark, tmp_path):
    store = str(tmp_path / "notcsr")
    os.makedirs(store)
    with open(os.path.join(store, ".zattrs"), "w") as f:
        json.dump({"encoding-type": "csc_matrix", "shape": [2, 2]}, f)
    with pytest.raises(ValueError, match="not a csr_matrix"):
        read_zarr_csr(spark, store)


def test_csr_bytes_scale_with_nnz_not_shape(spark, tmp_path):
    """The encoding's reason to exist: at ~10% density the CSR store must
    be several times smaller than the dense group of the same matrix."""
    from single_cell_experiments_spark.catalog import load_table
    from single_cell_experiments_spark.sources.zarrv2 import write_zarr_group
    from tests.conftest import SF_DIR

    e = load_table(spark, SF_DIR, "embeddings")
    n = e.count()
    dim = int(e.agg(F.max(F.size("embedding"))).collect()[0][0])
    coo = (
        e.select("vec_id", F.posexplode("embedding").alias("p0", "v32"))
        .select(
            F.col("vec_id").alias("row_id"),
            F.col("p0").alias("col"),
            F.col("v32").cast("double").alias("v"),
        )
        .where(F.col("v") > 0.25)  # ~2-9% of the bounded embedding values
    )
    dense_store, csr_store = str(tmp_path / "dense"), str(tmp_path / "csr")
    write_zarr_group(e, dense_store)
    info = write_zarr_csr(coo, csr_store, n, dim)

    def du(p):
        return sum(
            os.path.getsize(os.path.join(r, f))
            for r, _d, fs in os.walk(p)
            for f in fs
        )

    nnz_frac = info["nnz"] / (n * dim)
    assert 0 < nnz_frac < 0.20, nnz_frac
    # dense group carries X float32 (+vec_id); CSR carries 16B/entry
    assert du(csr_store) < du(dense_store) / 2, (du(csr_store), du(dense_store))


def test_annframe_sparse_store_roundtrip(spark, tmp_path):
    """AnnFrame.to_zarr(sparse=True) stores X as the csr_matrix subgroup;
    from_zarr auto-detects the encoding tag and densifies — values equal
    the dense store's (both quantize through float32 cells), all-zero
    rows intact, obs columns unaffected."""
    from pyspark.sql import functions as F

    from single_cell_experiments_spark.api import AnnFrame

    rows = [
        (0, [1.5, 0.0, -2.25, 0.0], 7),
        (1, [0.0, 0.0, 0.0, 0.0], 8),  # all-zero row
        (2, [0.0, 4.5, 0.0, 0.125], 9),
    ]
    df = spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<FLOAT>, label BIGINT"
    )
    af = AnnFrame.from_table(df)
    sp, dn = str(tmp_path / "sp"), str(tmp_path / "dn")
    info = af.to_zarr(sp, sparse=True)
    assert info["x_encoding"] == "csr_matrix" and info["nnz"] == 4
    af.to_zarr(dn)
    import os

    assert not os.path.exists(os.path.join(sp, "X", ".zarray"))  # no dense X
    assert os.path.exists(os.path.join(sp, "X", "indptr", ".zarray"))
    got_sp = {
        int(r.row_id): list(r.values)
        for r in AnnFrame.from_zarr(spark, sp).x.collect()
    }
    got_dn = {
        int(r.row_id): list(r.values)
        for r in AnnFrame.from_zarr(spark, dn).x.collect()
    }
    assert got_sp == got_dn
    assert got_sp[1] == [0.0, 0.0, 0.0, 0.0]
    obs = {int(r.row_id): int(r.label) for r in AnnFrame.from_zarr(spark, sp).obs.collect()}
    assert obs == {0: 7, 1: 8, 2: 9}


def test_csc_roundtrip_with_all_zero_cols(spark, tmp_path):
    """CSC twin: cols 1 and 3 have no entries — indptr (which spans
    COLUMNS here) must carry their empty extents; read returns the
    original row-space COO untransposed."""
    from single_cell_experiments_spark.sources.sparse import (
        read_zarr_csc,
        write_zarr_csc,
    )

    trips = [(0, 2, 1.5), (0, 0, -2.0), (2, 2, 0.25), (1, 4, 7.0), (4, 4, 8.0)]
    store = str(tmp_path / "csc")
    info = write_zarr_csc(_coo_df(spark, trips), store, n_rows=5, n_cols=5)
    assert info["nnz"] == 5 and info["shape"] == [5, 5]
    back = {
        (int(r.row_id), int(r.col)): float(r.v)
        for r in read_zarr_csc(spark, store).collect()
    }
    assert back == {(r, c): v for r, c, v in trips}


def test_csc_on_disk_layout_is_the_anndata_spec(spark, tmp_path):
    """Hand-decode the members: indptr spans columns (n_cols+1 entries,
    closes at nnz), indices hold ROW ids sorted within each column,
    attrs carry the untransposed shape + csc tag."""
    from single_cell_experiments_spark.sources.sparse import write_zarr_csc

    trips = [(0, 2, 1.5), (2, 0, -2.0), (1, 2, 0.25)]
    store = str(tmp_path / "csc_spec")
    write_zarr_csc(_coo_df(spark, trips), store, n_rows=3, n_cols=4)
    attrs = json.load(open(os.path.join(store, ".zattrs")))
    assert attrs["encoding-type"] == "csc_matrix"
    assert attrs["shape"] == [3, 4]

    def arr(name, dt):
        meta = json.load(open(os.path.join(store, name, ".zarray")))
        assert meta["dtype"] == dt
        raw = zlib.decompress(open(os.path.join(store, name, "0"), "rb").read())
        return np.frombuffer(raw, dtype=np.dtype(dt))[: meta["shape"][0]]

    indptr = arr("indptr", "<i8")
    indices = arr("indices", "<i8")
    data = arr("data", "<f8")
    # col extents: col0 has 1 entry, col1 none, col2 two, col3 none
    assert indptr.tolist() == [0, 1, 1, 3, 3]
    assert indices.tolist() == [2, 0, 1]  # rows, sorted within col 2
    assert data.tolist() == [-2.0, 1.5, 0.25]


def test_csc_reader_refuses_csr_group(spark, tmp_path):
    """The encoding tags are load-bearing both ways: a CSR group must not
    decode through the CSC reader (the axes would silently swap)."""
    from single_cell_experiments_spark.sources.sparse import read_zarr_csc

    store = str(tmp_path / "realcsr")
    write_zarr_csr(_coo_df(spark, [(0, 1, 3.0)]), store, n_rows=2, n_cols=2)
    with pytest.raises(ValueError, match="not a csc_matrix"):
        read_zarr_csc(spark, store)


def test_csr_read_is_one_slice_pass(spark, tmp_path):
    """The CSR read is the 10x slice decoder over the Zarr group: the
    driver decodes ``indptr``, then one ``mapInPandas`` with no join, in
    at most 2 Spark jobs (the slice-spec exchange and the decode), as
    measured on the embeddings at entries > 0.25."""
    from single_cell_experiments_spark.catalog import load_table
    from single_cell_experiments_spark.plans import inspect
    from tests.conftest import SF_DIR, count_jobs

    e = load_table(spark, SF_DIR, "embeddings")
    coo = e.select(
        F.col("vec_id").alias("row_id"), F.posexplode("embedding").alias("col", "v")
    ).where(F.col("v") > 0.25)
    store = str(tmp_path / "csr")
    info = write_zarr_csr(coo, store, e.count(), 64)
    back = read_zarr_csr(spark, store)
    assert count_jobs(spark, back.collect) <= 2
    plan = inspect.executed_plan(back)
    assert "Join" not in plan and plan.count("MapInPandas") == 1
    assert back.count() == info["nnz"] > 0
