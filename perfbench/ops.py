"""The op mix of each workload, and how one op is built, run and checked.

Every op goes through a public entry point of the engine:

- registry ops: ``registry.fresh_fn(name)(spark, in_dir)`` then ``.toPandas()``,
  checked against the op's ``oracle_sql`` in DuckDB over the same files;
- store writes: ``api.AnnFrame.to_zarr`` (Zarr v2),
  ``sources.zarrv3.write_zarr_v3_group`` (sharded Zarr v3) or
  ``sources.chunkstore.write_chunk_store`` of the workload's matrix;
- store reads: ``api.AnnFrame.from_zarr``, ``sources.zarrv3.read_zarr_v3_matrix``
  or ``sources.chunkstore.read_chunk_store``, then ``.toPandas()``, checked
  by hashing the reassembled dense matrix against the matrix written.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np

from gen import matrix_digest

#: Workload -> registry ops, store formats written then read, and the
#: matrix those stores hold.
WORKLOADS = {
    "sc_preprocess": {
        "registry": [
            "sc_qc_metrics",
            "sc_filter_genes",
            "sc_normalize_per_cell",
            "sc_hvg",
            "sc_scale",
            "sc_recipe_zheng17",
            "sc_pca",
            "sc_rank_genes_groups",
        ],
        "stores": ["zarr2_dense"],
        "matrix": "counts",
    },
    "graph_loops": {
        "registry": ["dedup_connected_components", "sc_neighbors_nnd"],
        "stores": ["zarr3_sharded", "chunkstore"],
        "matrix": "embeddings",
    },
}


@dataclass(frozen=True)
class Op:
    name: str  # op type: a registry name, or write_<fmt> / read_<fmt>
    kind: str  # "registry" | "write" | "read"
    fmt: str | None = None


def op_mix(workload: str) -> list[Op]:
    """The ordered ops of one pass: store writes and reads first (the
    pipeline's ingest), then the registry ops."""
    w = WORKLOADS[workload]
    ops: list[Op] = []
    for fmt in w["stores"]:
        ops += [Op(f"write_{fmt}", "write", fmt), Op(f"read_{fmt}", "read", fmt)]
    return ops + [Op(name, "registry") for name in w["registry"]]


class OpRunner:
    """Runs ops of one workload against generated inputs in ``in_dir``."""

    def __init__(self, spark, workload: str, in_dir: str, store_dir: str, matrices: dict):
        self.spark = spark
        self.in_dir = in_dir
        self.store_dir = store_dir
        self.matrix_name = WORKLOADS[workload]["matrix"]
        self.matrix = matrices[self.matrix_name]
        self._ddb = None

    def store(self, fmt: str) -> str:
        return os.path.join(self.store_dir, fmt)

    # ---- timed parts ------------------------------------------------------

    def write(self, op: Op) -> None:
        from single_cell_experiments_spark.api import AnnFrame
        from single_cell_experiments_spark.sources.chunkstore import write_chunk_store
        from single_cell_experiments_spark.sources.zarrv3 import write_zarr_v3_group

        df = self.spark.read.parquet(os.path.join(self.in_dir, f"{self.matrix_name}.parquet"))
        path = self.store(op.fmt)
        if op.fmt == "zarr2_dense":
            AnnFrame.from_table(df).to_zarr(path)
        elif op.fmt == "zarr3_sharded":
            write_zarr_v3_group(df, path, shard_inner_rows=16)
        elif op.fmt == "chunkstore":
            write_chunk_store(df, path)
        else:
            raise ValueError(f"unknown store format {op.fmt!r}")

    def build(self, op: Op):
        """The op's DataFrame: the Python plan build (and any jobs it launches)."""
        if op.kind == "registry":
            from single_cell_experiments_spark import registry

            return registry.fresh_fn(op.name)(self.spark, self.in_dir)
        if op.fmt == "zarr2_dense":
            from single_cell_experiments_spark.api import AnnFrame

            return AnnFrame.from_zarr(self.spark, self.store(op.fmt)).x
        if op.fmt == "zarr3_sharded":
            from single_cell_experiments_spark.sources.zarrv3 import read_zarr_v3_matrix

            return read_zarr_v3_matrix(self.spark, os.path.join(self.store(op.fmt), "X"))
        if op.fmt == "chunkstore":
            from single_cell_experiments_spark.sources.chunkstore import read_chunk_store

            return read_chunk_store(self.spark, self.store(op.fmt))
        raise ValueError(f"unknown op {op}")

    # ---- checks (untimed) ---------------------------------------------------

    def check(self, op: Op, pdf) -> str | None:
        """None when the op's output is right, else what is wrong."""
        if op.kind == "registry":
            return self._check_oracle(op.name, pdf)
        if op.kind == "read":
            try:
                x = _dense(op.fmt, pdf, self.matrix.shape)
            except ValueError as ex:
                return f"{op.name}: {ex}"
            if matrix_digest(x) != matrix_digest(self.matrix):
                return f"{op.name}: read-back matrix differs from the one written"
        return None

    def _check_oracle(self, name: str, pdf) -> str | None:
        import duckdb
        from single_cell_experiments_spark import registry
        from tests.conftest import canon_frame

        if self._ddb is None:
            self._ddb = duckdb.connect()
            for t in ("embeddings", "documents"):
                path = os.path.join(self.in_dir, f"{t}.parquet")
                self._ddb.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        oracle = registry.REGISTRY[name].oracle
        if oracle is None:
            return f"{name}: no oracle"
        scols, srows = canon_frame(pdf)
        ocols, orows = canon_frame(self._ddb.sql(oracle).df())
        if scols != ocols:
            return f"{name}: columns {scols} != oracle {ocols}"
        if srows != orows:
            diff = next(((a, b) for a, b in zip(srows, orows) if a != b), None)
            return f"{name}: {len(srows)} rows vs oracle {len(orows)}; first diff {diff}"
        if not srows:
            return f"{name}: empty result"
        return None

    def close(self) -> None:
        if self._ddb is not None:
            self._ddb.close()


def _dense(fmt: str, pdf, shape: tuple[int, int]) -> np.ndarray:
    """Reassemble a store read's rows into the dense float32 matrix.

    Raises ValueError unless every row (for sharded Zarr v3, every column
    slice of every row) comes back exactly once, so a dropped all-zero row
    or a repeated row cannot hide behind the zero fill."""
    n_rows, n_cols = shape
    x = np.zeros(shape, dtype=np.float32)
    if fmt == "zarr3_sharded":
        slices = list(zip(pdf["row"].tolist(), pdf["col0"].tolist()))
        if len(set(slices)) != len(slices):
            raise ValueError(f"{len(slices) - len(set(slices))} repeated (row, col0) slices")
        filled = np.zeros(n_rows, dtype=np.int64)
        for (r, c0), v in zip(slices, pdf["values"]):
            x[r, c0 : c0 + len(v)] = v
            filled[r] += len(v)
        if not (filled == n_cols).all():
            raise ValueError(f"{int((filled != n_cols).sum())} rows not covered by exactly {n_cols} columns")
        return x
    ids, vals = ("vec_id", "embedding") if fmt == "chunkstore" else ("row_id", "values")
    rows = pdf[ids].tolist()
    if sorted(rows) != list(range(n_rows)):
        raise ValueError(f"{len(rows)} rows with {len(set(rows))} distinct ids, expected ids 0..{n_rows - 1} once each")
    for r, v in zip(rows, pdf[vals]):
        x[r] = v
    return x


def store_footprint(path: str) -> tuple[int, int]:
    """(bytes, files) a store occupies on disk."""
    n_bytes = n_files = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            n_bytes += os.path.getsize(os.path.join(root, f))
            n_files += 1
    return n_bytes, n_files
