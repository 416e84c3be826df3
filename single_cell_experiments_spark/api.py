"""User-facing AnnData-style API: the switching surface for reference users.

The reference's public API is an annotated-matrix OBJECT plus chainable
kernels (SURVEY.md §3 [M]: ``anndata_spark.AnnDataRdd`` wrapping ``X`` as an
RDD of row chunks, mutated by ``scanpy_spark.log1p(adata)`` /
``normalize_per_cell`` / ``filter_cells`` / ``filter_genes`` / ``scale`` /
``recipe_zheng17``; loaded via ``AnnDataRdd.from_zarr``).  The engine's
registered queries prove each kernel's semantics against DuckDB; this module
packages the same kernels as a chainable object so a reference user's
program ports line-for-line:

    reference                               this engine
    ---------                               -----------
    adata = AnnDataRdd.from_zarr(sc, p)     af = AnnFrame.from_zarr(spark, p)
    scanpy_spark.filter_genes(adata, ...)   af = af.filter_genes(min_cells=...)
    scanpy_spark.normalize_per_cell(adata)  af = af.normalize_per_cell()
    scanpy_spark.log1p(adata)               af = af.log1p()
    scanpy_spark.scale(adata)               af = af.scale(clip=10)
    pca(adata, 50)                          scores = af.pca(50)
    adata.to_zarr(path)                     af.to_zarr(path)

Design (Spark-first, unlike the reference's chunk RDDs):

- ``X`` is ONE wide DataFrame ``(row_id bigint, values array<double>)`` —
  row-local kernels are higher-order expressions inside whole-stage
  codegen, so chained steps FUSE into single projections (the reference
  re-materializes an RDD per kernel).
- ``obs`` / ``var`` are plain DataFrames keyed by ``row_id`` / ``pos``
  (1-based gene position), annotated as kernels run (``n_genes``,
  ``n_counts``, ``n_cells`` — the AnnData bookkeeping columns).
- Per-gene statistics are O(genes) rows: collected/broadcast exactly like
  the reference's ``sc.broadcast`` of var masks — the ONLY driver-side
  state, never O(cells).
- Instances are immutable; every kernel returns a new ``AnnFrame``.

Numeric note: the registry's oracle queries quantize through the decimal
paths for cross-engine hashing; this API keeps plain double math (the
production posture).  ``tests/test_api.py`` asserts the API chain matches
the registered kernels to 1e-9 on the driver tables.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

_DBL = lambda c: c.cast("double")  # noqa: E731


def _write_var_arrays(
    var: DataFrame, path: str, prefix: str, writable: tuple, comp: dict
) -> None:
    """Write a (pos, ...) per-gene annotation frame as ``<prefix><col>``
    1-D Zarr v2 arrays — driver-side on purpose: var is O(genes), the
    axis the reference broadcasts too.  Shared by ``to_zarr`` for both
    the main ``var_*`` columns and the raw snapshot's ``raw_var_*``."""
    import numpy as np

    from .sources.zarrv2 import _compress, _write_zarray_meta

    rows = var.orderBy("pos").collect()
    dtypes = dict(var.dtypes)
    for c in var.columns:
        t = dtypes[c]
        if c == "pos" or t not in writable:
            continue
        apath = os.path.join(path, f"{prefix}{c}")
        if t == "string":
            vals = [(r[c] or "").encode("utf-8") for r in rows]
            w = max(max((len(v) for v in vals), default=1), 1)
            npdt = np.dtype(f"S{w}")
            arr = np.array(vals, dtype=npdt)
            zdt, fill = f"|S{w}", None
        else:
            is_int = t in ("bigint", "int", "smallint", "tinyint", "long")
            npdt = np.dtype("<i8") if is_int else np.dtype("<f8")
            arr = np.array([r[c] for r in rows], dtype=npdt)
            zdt, fill = str(npdt.str), 0
        _write_zarray_meta(apath, [len(arr)], [max(len(arr), 1)], zdt, comp, fill)
        with open(os.path.join(apath, "0"), "wb") as f:
            f.write(_compress(arr.tobytes(order="C"), comp, npdt.itemsize))


class AnnFrame:
    """Annotated matrix over Spark DataFrames (see module docstring)."""

    def __init__(
        self,
        x: DataFrame,
        obs: DataFrame | None = None,
        var: DataFrame | None = None,
        obsm: "dict[str, DataFrame] | None" = None,
        uns: dict | None = None,
        layers: "dict[str, DataFrame] | None" = None,
        varm: "dict[str, DataFrame] | None" = None,
        obsp: "dict[str, DataFrame] | None" = None,
    ):
        self.x = x  # (row_id, values: array<double>)
        self.spark = x.sparkSession
        self.obs = obs if obs is not None else x.select("row_id")
        self.var = var  # (pos, ...) or None = trivial
        # AnnData's other components (r14 verdict #1): ``obsm`` — per-cell
        # computed matrices (X_pca / X_umap), each a (row_id, values
        # array<double>) DataFrame; ``uns`` — unstructured JSON-able
        # metadata.  Kernels return frames WITHOUT them (a kernel changes
        # the matrix, invalidating derived embeddings — re-compute, then
        # ``with_obsm`` before ``to_zarr``); both persist through
        # ``to_zarr``/``from_zarr``.
        self.obsm: dict[str, DataFrame] = dict(obsm) if obsm else {}
        self.uns: dict = dict(uns) if uns else {}
        self.layers: dict[str, DataFrame] = dict(layers) if layers else {}
        # r15: the remaining AnnData components — ``varm`` (per-GENE
        # computed matrices, e.g. PCA loadings ``varm['PCs']``: (pos,
        # values array<double>), one row per gene) and ``obsp`` (pairwise
        # cell×cell SPARSE matrices, e.g. the kNN graph Scanpy stores as
        # ``obsp['distances']``/``obsp['connectivities']``: COO
        # (row_id, col, v) — always sparse, n_obs² dense would be absurd).
        self.varm: dict[str, DataFrame] = dict(varm) if varm else {}
        self.obsp: dict[str, DataFrame] = dict(obsp) if obsp else {}
        #: AnnData ``.raw`` — the pre-subset snapshot (X + var at full
        #: gene width) Scanpy keeps when a recipe filters to HVGs
        #: (``adata.raw = adata``).  Another AnnFrame sharing this frame's
        #: obs row space; set via :meth:`with_raw`.
        self.raw: "AnnFrame | None" = None

    def _clone(self) -> "AnnFrame":
        """Copy carrying every component (annotation helpers mutate the
        copy's dicts, never the receiver's)."""
        out = AnnFrame(
            self.x, self.obs, self.var, self.obsm, self.uns, self.layers,
            self.varm, self.obsp,
        )
        out.raw = self.raw
        return out

    def with_raw(self, raw: "AnnFrame") -> "AnnFrame":
        """Snapshot the pre-subset matrix (AnnData ``adata.raw = adata``):
        ``raw`` shares this frame's obs rows but keeps the FULL gene width
        (a recipe that subsets to HVGs stores the unsubset frame here so
        downstream differential expression can still see every gene).
        Persisted by :meth:`to_zarr` as a ``raw_X`` float64 member plus
        driver-side ``raw_var_*`` columns; recovered by ``from_zarr`` as
        ``.raw``."""
        out = self._clone()
        out.raw = raw
        return out

    def with_obsm(self, name: str, values: DataFrame) -> "AnnFrame":
        """Annotate a computed per-cell matrix (AnnData ``obsm[name]``):
        ``values`` is ``(row_id, values array<double>)`` — e.g. PCA scores
        from :meth:`pca` or a 2-D layout from :meth:`layout` (cast to
        double).  Returns a new frame; persisted by :meth:`to_zarr` as a
        2-D float64 ``obsm_<name>`` member."""
        out = self._clone()
        out.obsm[name] = values
        return out

    def with_uns(self, key: str, value) -> "AnnFrame":
        """Annotate unstructured metadata (AnnData ``uns[key]``) — any
        JSON-serializable value; persisted by :meth:`to_zarr` in the
        group's attributes document."""
        out = self._clone()
        out.uns[key] = value
        return out

    def with_layer(self, name: str, values: DataFrame) -> "AnnFrame":
        """Annotate an alternative same-shape matrix (AnnData
        ``layers[name]`` — e.g. raw counts kept beside the normalized
        ``X``): ``values`` is ``(row_id, values array<double>)`` with the
        same row set and width as ``X``.  Stored by :meth:`to_zarr` as a
        2-D float64 ``layers_<name>`` member through the same distributed
        chunk writer as obsm (layers are cells × genes, obsm cells × k —
        identical machinery, different width)."""
        out = self._clone()
        out.layers[name] = values
        return out

    def with_varm(self, name: str, values: DataFrame) -> "AnnFrame":
        """Annotate a computed per-GENE matrix (AnnData ``varm[name]`` —
        the loadings side of a factorization, e.g. ``varm['PCs']`` from
        :meth:`pca`): ``values`` is ``(pos, values array<double>)`` with
        one row per gene position 0..n_genes-1.  Persisted by
        :meth:`to_zarr` as a 2-D float64 ``varm_<name>`` member through
        the same distributed chunk writer as obsm (rows are genes instead
        of cells — identical machinery)."""
        out = self._clone()
        out.varm[name] = values
        return out

    def with_obsp(self, name: str, entries: DataFrame) -> "AnnFrame":
        """Annotate a pairwise cell×cell SPARSE matrix (AnnData
        ``obsp[name]`` — Scanpy stores the neighbor graph as
        ``obsp['distances']`` / ``obsp['connectivities']``): ``entries``
        is COO ``(row_id, col, v)`` with ``col`` a 0-based cell index.
        Persisted by :meth:`to_zarr` in the AnnData ``csr_matrix`` group
        encoding at ``obsp_<name>`` (indptr/indices/data members — bytes
        ~ nnz ≈ n·k for a kNN graph, never the n² dense shape)."""
        out = self._clone()
        out.obsp[name] = entries
        return out

    # ---- constructors -------------------------------------------------------

    @classmethod
    def from_table(
        cls, df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
    ) -> "AnnFrame":
        """Wrap any (id, array) DataFrame — e.g. the ``embeddings`` table."""
        x = df.select(
            F.col(id_col).cast("bigint").alias("row_id"),
            F.transform(F.col(vec_col), _DBL).alias("values"),
        )
        obs = df.select(
            F.col(id_col).cast("bigint").alias("row_id"),
            *[c for c in df.columns if c not in (id_col, vec_col)],
        )
        return cls(x, obs)

    @classmethod
    def from_zarr(cls, spark: SparkSession, group_path: str) -> "AnnFrame":
        """Load a Zarr v2 group written by ``to_zarr`` /
        ``sources.zarrv2.write_zarr_group`` (ref ``AnnDataRdd.from_zarr``
        [M]).

        Each dense member loads in one chunk-grid pass
        (``sources.zarrv2.read_zarr_rows``): planned from metadata alone,
        each task decodes its row chunk of the matrix together with the
        overlapping index and annotation chunks and yields finished rows —
        no chunk listing, shuffle or join.  ``X``, ``obs_*``, ``obsm_*``,
        ``layers_*`` and ``raw_X`` are keyed by ``vec_id``; ``var_*``,
        ``raw_var_*`` and ``varm_*`` by gene position.  An absent chunk
        object reads as the array's ``fill_value`` (the Zarr v2 rule); a
        member whose length disagrees with its axis raises ``ValueError``.
        CSR-encoded ``X`` and ``obsp_*`` go through
        ``sources.sparse.read_zarr_csr``.

        Consolidated-aware: with a ``.zmetadata``
        (``sources.zarrv2.consolidate_metadata``), member discovery and
        every array's metadata come from that ONE document; unconsolidated
        groups read each member's ``.zarray``."""
        import functools

        from .sources.sparse import read_zarr_csr
        from .sources.zarrv2 import (
            member_meta,
            read_consolidated_meta,
            read_group_attrs,
            read_zarr_rows,
        )

        try:
            md = read_consolidated_meta(group_path)
        except FileNotFoundError:
            md = None

        def attrs(node: str) -> dict:  # "" = the group itself
            if md is None:
                return read_group_attrs(os.path.join(group_path, node))
            a = md.get(f"{node}/.zattrs" if node else ".zattrs", {})
            return a if isinstance(a, dict) else {}

        if md is not None:
            # Top-level arrays only (key shape "<name>/.zarray"): the
            # layout is flat by construction, so nested nodes (X's own
            # CSR members, "a/b/.zarray") are not members.
            members = sorted(
                k.rsplit("/", 1)[0] for k in md if k.endswith("/.zarray") and k.count("/") == 1
            )
        else:
            members = sorted(os.listdir(group_path))

        def named(prefix: str) -> dict[str, str]:
            # "obs_" never matches "obsm_"/"obsp_" members, nor "var_"
            # "varm_"/"raw_var_" ones
            return {m[len(prefix):]: m for m in members if m.startswith(prefix)}

        meta = functools.partial(member_meta, group_path, md)
        read = functools.partial(read_zarr_rows, spark, group_path, meta)
        x_attrs = attrs("X")
        if x_attrs.get("encoding-type") == "csr_matrix":
            # Sparse X (AnnData csr_matrix encoding): decode the
            # indptr/indices/data members and densify row-locally (zeros
            # implicit on disk, explicit in the wide matrix; all-zero rows
            # come back through the vec_id spine, which every row is in).
            n_obs, n_vars = (int(v) for v in x_attrs["shape"])
            entries = read_zarr_csr(spark, os.path.join(group_path, "X")).select(
                F.col("row_id").alias("row"),
                (F.col("col") + 1).alias("pos"),
                "v",
            )
            maps = entries.groupBy("row").agg(
                F.map_from_entries(F.collect_list(F.struct("pos", "v"))).alias("m")
            )
            dense = F.transform(
                F.sequence(F.lit(1), F.lit(n_vars)),
                lambda p: F.coalesce(F.element_at("m", p), F.lit(0.0)),
            )
            ids = read(n_obs, columns={"row_id": "vec_id"}, key="row")
            x = ids.join(maps, "row", "left").select("row_id", dense.alias("values"))
        else:
            n_obs, n_vars = (int(v) for v in meta("X")["shape"])
            x = read(n_obs, matrix="X", index="vec_id")

        def genes(n_genes: int, prefix: str) -> DataFrame | None:
            # var frames key on the 1-based gene pos (varm on the 0-based)
            cols = named(prefix)
            if not cols:
                return None
            return read(n_genes, columns=cols, key="pos").withColumn("pos", F.col("pos") + 1)

        def matrices(prefix: str, n: int, **kw) -> dict[str, DataFrame]:
            return {k: read(n, matrix=m, **kw) for k, m in named(prefix).items()}

        obs = read(n_obs, index="vec_id", columns=named("obs_"))
        var = genes(n_vars, "var_")
        obsm = matrices("obsm_", n_obs, index="vec_id")
        layers = matrices("layers_", n_obs, index="vec_id")
        varm = matrices("varm_", n_vars, key="pos")
        # obsp_* csr_matrix subgroups -> sparse cell×cell COO; they are
        # not .zarray members, so discovery keys on the encoding tag
        if md is not None:
            nodes = [k.split("/", 1)[0] for k in md if k.count("/") == 1 and k.endswith("/.zattrs")]
        else:
            nodes = members
        obsp = {
            node[5:]: read_zarr_csr(spark, os.path.join(group_path, node))
            for node in sorted(nodes)
            if node.startswith("obsp_") and attrs(node).get("encoding-type") == "csr_matrix"
        }
        uns = attrs("").get("uns", {})
        out = cls(x, obs, var, obsm, uns, layers, varm, obsp)
        # raw snapshot (AnnData .raw): a raw_X member + raw_var_* arrays
        if "raw_X" in members:
            raw_x = read(n_obs, matrix="raw_X", index="vec_id")
            out.raw = cls(raw_x, None, genes(int(meta("raw_X")["shape"][1]), "raw_var_"))
        return out

    @classmethod
    def from_coo(
        cls, coo: DataFrame, n_features: int | None = None
    ) -> "AnnFrame":
        """Sparse COO ``(row=feature, col=cell, value)`` → dense AnnFrame
        (zero-filled; features become 1-based array positions, cells
        become rows).  ``n_features`` defaults to ``max(feature)+1`` over
        the stored entries — pass it explicitly if trailing features are
        entirely zero.  One cell-keyed shuffle; densification is a
        row-local map lookup over the feature range."""
        if n_features is None:
            # test for None explicitly: a legitimate max feature index of 0
            # is falsy, and `or -1` would compute n_features=0 for it
            m = coo.agg(F.max("row")).first()[0]
            n_features = 0 if m is None else int(m) + 1
        entries = coo.select(
            F.col("col").alias("row_id"), (F.col("row") + 1).alias("pos"), "value"
        )
        wide = entries.groupBy("row_id").agg(
            F.map_from_entries(F.collect_list(F.struct("pos", "value"))).alias("m")
        )
        dense = F.transform(
            F.sequence(F.lit(1), F.lit(int(n_features))),
            lambda p: F.coalesce(F.element_at("m", p), F.lit(0.0)),
        )
        return cls(wide.select("row_id", dense.alias("values")))

    @classmethod
    def from_10x(cls, spark: SparkSession, path: str, n_features: int | None = None, **kw) -> "AnnFrame":
        """10x ``matrix.h5`` (CellRanger v3 CSC; needs h5py) → AnnFrame via
        ``read_10x_h5`` + ``from_coo`` (which is container-agnostic and
        tested against the npz CSC store without h5py)."""
        from .sources.tenx import read_10x_h5

        return cls.from_coo(read_10x_h5(spark, path, **kw), n_features)

    # ---- introspection ------------------------------------------------------

    @property
    def n_obs(self) -> int:
        return self.x.count()

    @property
    def n_vars(self) -> int:
        row = self.x.select(F.size("values").alias("d")).first()
        return int(row["d"]) if row else 0

    def to_coo(self) -> DataFrame:
        """(row_id, pos, v) long form — the relational twin of ``X``."""
        return self.x.select("row_id", F.posexplode("values").alias("p0", "v")).select(
            "row_id", (F.col("p0") + 1).alias("pos"), "v"
        )

    def to_zarr(
        self, path: str, rows_per_chunk: int = 64, sparse: bool = False, **kw
    ) -> dict:
        """Write ``X`` + row index + numeric AND string/categorical ``obs``
        annotation columns as a Zarr v2 group (ref ``AnnDataRdd.to_zarr``
        [M]; annotations land as ``obs_<name>`` 1-D arrays — int64/float64
        for numeric, fixed-width ``|S<n>`` for strings (r13 verdict #4:
        real AnnData obs is mostly categorical) — and round-trip through
        ``from_zarr``).  ``obsm`` members persist as 2-D float64
        ``obsm_<name>`` arrays and ``uns`` as the group's ``.zattrs``
        JSON (r14 verdict #1), so the full AnnData component set
        (X/obs/var/obsm/uns) survives a write→read cycle.  Requires dense
        0..n-1 row ids (positional addressing — reindex first if
        filtered).

        ``sparse=True`` stores ``X`` in the AnnData ``csr_matrix`` group
        encoding (``indptr``/``indices``/``data`` members, zeros
        implicit — bytes ~ nnz, SCALE.md §18) instead of the dense 2-D
        array; ``from_zarr`` auto-detects the encoding tag, so readers
        need no flag.  The right call when X is mostly zeros (real 10x
        matrices are ~93% sparse).

        NULL handling (r14 advice): string obs/var values coerce
        NULL → ``""`` — the fixed-width ``|S<n>`` dtype has no NULL
        sentinel, so the two are indistinguishable after a round-trip
        (the v3 dict-encoded path reserves code -1 if NULL fidelity
        matters)."""
        from .sources.zarrv2 import write_zarr_group

        numeric = ("bigint", "int", "smallint", "tinyint", "long", "double", "float")
        writable = numeric + ("string",)
        obs_cols = tuple(
            c for c, t in self.obs.dtypes if c != "row_id" and t in writable
        )
        wide = self.x.select(
            F.col("row_id").alias("vec_id"),
            F.transform("values", lambda v: v.cast("float")).alias("embedding"),
        )
        if obs_cols:
            wide = wide.join(
                self.obs.select(F.col("row_id").alias("vec_id"), *obs_cols), "vec_id"
            )
        info = write_zarr_group(
            wide,
            path,
            rows_per_chunk=rows_per_chunk,
            obs_cols=obs_cols,
            skip_x=sparse,
            **kw,
        )
        if sparse:
            from .sources.sparse import write_zarr_csr

            # X as the AnnData csr_matrix subgroup: nonzero entries only
            # (float32-quantized first, like the dense array's <f4 cells,
            # so both storage modes round-trip the same values)
            entries = (
                self.x.select(
                    "row_id",
                    F.posexplode(
                        F.transform("values", lambda v: v.cast("float"))
                    ).alias("p0", "vf"),
                )
                .where(F.col("vf") != 0.0)
                .select(
                    "row_id",
                    F.col("p0").cast("bigint").alias("col"),
                    F.col("vf").cast("double").alias("v"),
                )
            )
            csr_info = write_zarr_csr(
                entries,
                os.path.join(path, "X"),
                int(info["shape"][0]),
                int(info["shape"][1]),
                compressor=kw.get("compressor", {"id": "zlib", "level": 1}),
            )
            info = {**info, "nnz": csr_info["nnz"], "x_encoding": "csr_matrix"}
        # var annotations are O(genes): written driver-side as var_* 1-D
        # arrays (the reference broadcasts var the same way — per-gene data
        # never needs a distributed write)
        if self.var is not None:
            _write_var_arrays(
                self.var, path, "var_", writable,
                kw.get("compressor", {"id": "zlib", "level": 1}),
            )
        # obsm members: computed per-cell matrices (X_pca / X_umap ...) as
        # 2-D float64 obsm_<name> arrays — distributed chunk writes like X
        # (r14 verdict #1: the write→compute→write cycle the notebook
        # capstone implies).  uns: one JSON attrs document at the root.
        if self.obsm or self.uns or self.layers or self.varm or self.obsp:
            import re

            from .sources.zarrv2 import (
                _DEFAULT_COMPRESSOR,
                write_group_attrs,
                write_zarr_obsm_member,
            )

            comp = kw.get("compressor", _DEFAULT_COMPRESSOR)
            n_rows = int(info["shape"][0])
            n_genes = int(info["shape"][1])

            def _check_key(prefix: str, name: str) -> None:
                if not re.fullmatch(r"[A-Za-z0-9_.\-]+", name):
                    raise ValueError(
                        f"{prefix} member name {name!r} is not a safe store"
                        " key (allowed: letters, digits, _ . -)"
                    )

            for prefix, members in (("obsm", self.obsm), ("layers", self.layers)):
                for name in sorted(members):
                    _check_key(prefix, name)
                    write_zarr_obsm_member(
                        members[name].select("row_id", "values"),
                        os.path.join(path, f"{prefix}_{name}"),
                        n_rows,
                        rows_per_chunk=rows_per_chunk,
                        compressor=comp,
                    )
            # varm members: per-GENE matrices (loadings, varm['PCs']) —
            # rows are gene positions, so the member's row count is the
            # matrix WIDTH; same distributed chunk writer, pos as row_id.
            for name in sorted(self.varm):
                _check_key("varm", name)
                write_zarr_obsm_member(
                    self.varm[name].select(
                        F.col("pos").alias("row_id"), "values"
                    ),
                    os.path.join(path, f"varm_{name}"),
                    n_genes,
                    rows_per_chunk=rows_per_chunk,
                    compressor=comp,
                )
            # obsp members: sparse cell×cell pairwise matrices (the
            # neighbor graph) in the AnnData csr_matrix group encoding —
            # bytes ~ nnz (n·k for a kNN graph), never n² dense.
            if self.obsp:
                from .sources.sparse import write_zarr_csr

                for name in sorted(self.obsp):
                    _check_key("obsp", name)
                    write_zarr_csr(
                        self.obsp[name].select("row_id", "col", "v"),
                        os.path.join(path, f"obsp_{name}"),
                        n_rows,
                        n_rows,
                        compressor=kw.get("compressor", {"id": "zlib", "level": 1}),
                    )
            if self.uns:
                write_group_attrs(path, {"uns": self.uns})
        # raw: the pre-subset snapshot (AnnData ``.raw``) — a full-width
        # float64 raw_X member (same distributed chunk writer; one row per
        # cell, width independent of X's) plus driver-side raw_var_* arrays.
        if self.raw is not None:
            from .sources.zarrv2 import _DEFAULT_COMPRESSOR, write_zarr_obsm_member

            write_zarr_obsm_member(
                self.raw.x.select("row_id", "values"),
                os.path.join(path, "raw_X"),
                int(info["shape"][0]),
                rows_per_chunk=rows_per_chunk,
                compressor=kw.get("compressor", _DEFAULT_COMPRESSOR),
            )
            if self.raw.var is not None:
                _write_var_arrays(
                    self.raw.var, path, "raw_var_", writable,
                    kw.get("compressor", {"id": "zlib", "level": 1}),
                )
        return info

    def reindex(self) -> "AnnFrame":
        """Re-number rows densely 0..n-1 (after ``filter_cells``) so
        positional sinks (Zarr) accept the matrix; original ids stay in
        ``obs.orig_row_id``.

        Scale: the zipWithIndex construction — range-partition the id
        column by ``row_id``, count per partition (O(partitions) to the
        driver), add exclusive-prefix offsets, and number within each
        partition.  Every window is PARTITIONED (by ``spark_partition_id``),
        so no task ever sees more than one range's ids — unlike a global
        ``row_number()`` window, which funnels all ids through one task.
        The id column is pinned with ``localCheckpoint`` so the count pass
        and the numbering pass see identical range boundaries."""
        n_part = int(self.spark.conf.get("spark.sql.shuffle.partitions", "32"))
        ids = (
            self.x.select("row_id")
            .repartitionByRange(n_part, "row_id")
            .withColumn("pid", F.spark_partition_id())
            .localCheckpoint(eager=True)
        )
        counts = {
            int(r["pid"]): int(r["n"])
            for r in ids.groupBy("pid").agg(F.count("*").alias("n")).collect()
        }
        offs, acc = [], 0
        for p in range(max(counts, default=-1) + 1):
            offs.append(acc)
            acc += counts.get(p, 0)
        offs_df = self.spark.createDataFrame([(offs,)], "offs array<bigint>")
        m = (
            ids.crossJoin(F.broadcast(offs_df))
            .select(
                "row_id",
                (
                    F.element_at("offs", F.col("pid") + 1)
                    + F.row_number().over(W.partitionBy("pid").orderBy("row_id"))
                    - 1
                ).alias("new_id"),
            )
        )
        x = self.x.join(m, "row_id").select(F.col("new_id").alias("row_id"), "values")
        obs = (
            self.obs.join(m, "row_id")
            .withColumnRenamed("row_id", "orig_row_id")
            .withColumnRenamed("new_id", "row_id")
        )
        return AnnFrame(x, obs, self.var)

    @classmethod
    def concat(
        cls,
        frames: "list[AnnFrame]",
        batch_key: str = "batch",
        batch_categories: "list[str] | None" = None,
    ) -> "AnnFrame":
        """Concatenate frames along the obs (cell) axis — the public
        ``anndata.concat(axis=0)`` operation notebooks use to pool
        datasets before a joint analysis.

        Row order is AnnData's: frame order, then row order within each
        frame; every output row carries its source in ``obs.<batch_key>``
        (``batch_categories`` or the frame's 0-based index) plus its
        pre-concat id in ``obs.orig_row_id``.  ``obs`` keeps the columns
        COMMON to all frames (anndata's join='inner' column rule); ``var``
        comes from the first frame and all widths must agree (var-name
        alignment for ragged widths is a join the caller does up front).

        Scale: per-frame dense renumbering rides :meth:`reindex` (the
        range-partitioned prefix-sum — O(partitions) driver state, no
        global window funnel), offsets are one O(frames) count pass on the
        driver, and the concatenation itself is ``unionAll`` — a metadata
        plan merge, zero shuffle.  Derived components (obsm/varm/obsp/
        layers/uns) are NOT carried: they are per-dataset artifacts that a
        pooled analysis must recompute (same rule as the kernels)."""
        if not frames:
            raise ValueError("concat needs at least one frame")
        cats = (
            list(batch_categories)
            if batch_categories is not None
            else [str(i) for i in range(len(frames))]
        )
        if len(cats) != len(frames):
            raise ValueError(
                f"batch_categories has {len(cats)} entries for {len(frames)} frames"
            )
        stats = [
            f.x.agg(
                F.count(F.lit(1)).alias("n"), F.max(F.size("values")).alias("w")
            ).collect()[0]
            for f in frames
        ]
        widths = {int(s["w"]) for s in stats}
        if len(widths) > 1:
            raise ValueError(
                f"frames disagree on matrix width: {sorted(widths)} — align"
                " var spaces before concat"
            )
        common = [
            c
            for c in frames[0].obs.columns
            if c != "row_id" and all(c in f.obs.columns for f in frames)
        ]
        xs, obss, off = [], [], 0
        for f, cat, s in zip(frames, cats, stats):
            rf = f.reindex()
            xs.append(
                rf.x.select(
                    (F.col("row_id") + F.lit(off)).alias("row_id"), "values"
                )
            )
            obss.append(
                rf.obs.select(
                    (F.col("row_id") + F.lit(off)).alias("row_id"),
                    "orig_row_id",
                    F.lit(cat).alias(batch_key),
                    *common,
                )
            )
            off += int(s["n"])
        x = xs[0]
        obs = obss[0]
        for nx, nobs in zip(xs[1:], obss[1:]):
            x = x.unionAll(nx)
            obs = obs.unionAll(nobs)
        return cls(x, obs, frames[0].var)

    # ---- elementwise / row-local kernels (zero shuffle) ---------------------

    def map_values(self, fn: Callable[[Column], Column]) -> "AnnFrame":
        """Elementwise ``X <- fn(X)`` (the chunk-map analogue; fuses with
        adjacent row-local steps under whole-stage codegen)."""
        x = self.x.select("row_id", F.transform("values", fn).alias("values"))
        return AnnFrame(x, self.obs, self.var)

    def log1p(self) -> "AnnFrame":
        """A4 — ``X <- log(1+X)`` (Scanpy ``pp.log1p``)."""
        return self.map_values(lambda v: F.log(F.lit(1.0) + _DBL(v)))

    def normalize_per_cell(self, target: float = 1e4) -> "AnnFrame":
        """A5 — scale each row to total ``target`` (Scanpy
        ``pp.normalize_per_cell``).  Row-local fold + map; zero-sum rows
        yield NULLs (Scanpy leaves them; filter first)."""
        x = (
            self.x.withColumn(
                "s", F.aggregate("values", F.lit(0.0), lambda a, v: a + _DBL(v))
            )
            .select(
                "row_id",
                F.transform(
                    "values", lambda v: F.try_divide(_DBL(v) * F.lit(target), F.col("s"))
                ).alias("values"),
            )
        )
        return AnnFrame(x, self.obs, self.var)

    # ---- filters ------------------------------------------------------------

    def filter_cells(self, min_genes: int, expr_threshold: float = 0.0) -> "AnnFrame":
        """A6 — keep cells expressing ≥ ``min_genes`` genes; annotate
        ``obs.n_genes`` (Scanpy ``pp.filter_cells``).  Row-local predicate:
        no shuffle."""
        ng = F.size(F.filter("values", lambda v: F.abs(_DBL(v)) > expr_threshold))
        x = self.x.withColumn("n_genes", ng.cast("bigint")).where(
            F.col("n_genes") >= min_genes
        )
        obs = self.obs.join(x.select("row_id", "n_genes"), "row_id")
        return AnnFrame(x.select("row_id", "values"), obs, self.var)

    def filter_genes(self, min_cells: int, expr_threshold: float = 0.0) -> "AnnFrame":
        """A7 — keep genes expressed in ≥ ``min_cells`` cells (Scanpy
        ``pp.filter_genes``).  Per-gene counts are one posexplode + agg
        (O(genes) result); the kept-position mask is collected and applied
        row-locally — the reference's broadcast-var-mask pattern [M], and
        the only driver-side state in the API (never O(cells))."""
        counts = (
            self.to_coo()
            .groupBy("pos")
            .agg(F.count_if(F.abs(F.col("v")) > expr_threshold).alias("n_cells"))
        )
        kept = [
            int(r["pos"])
            for r in counts.where(F.col("n_cells") >= min_cells).select("pos").collect()
        ]
        kept.sort()
        x = self._subset_values(kept)
        new_var = counts.where(F.col("n_cells") >= min_cells).select(
            F.col("pos").alias("orig_pos"), "n_cells"
        )
        w = W.orderBy("orig_pos")
        new_var = new_var.withColumn("pos", F.row_number().over(w))
        if self.var is not None:
            new_var = new_var.join(
                self.var.withColumnRenamed("pos", "orig_pos"), "orig_pos", "left"
            )
        return AnnFrame(x, self.obs, new_var)

    # ---- per-gene statistics kernels ---------------------------------------

    def _gene_stats(self) -> DataFrame:
        """(pos, mu, sd) population stats per gene — one shuffle, O(genes)."""
        return (
            self.to_coo()
            .groupBy("pos")
            .agg(F.avg("v").alias("mu"), F.stddev_pop("v").alias("sd"))
        )

    def scale(self, clip: float | None = None) -> "AnnFrame":
        """A8 — per-gene z-score (Scanpy ``pp.scale``), optional symmetric
        ``clip``.  Stats are collected O(genes) and re-enter as ONE
        broadcast row (array literals via a 1-row cross join), so the
        matrix itself never shuffles."""
        stats = self._gene_stats().orderBy("pos").collect()
        mus = [float(r["mu"]) for r in stats]
        sds = [float(r["sd"]) for r in stats]
        stats_df = self.spark.createDataFrame(
            [(mus, sds)], "mus array<double>, sds array<double>"
        )
        z = F.expr(
            "transform(values, (v, i) -> try_divide(v - mus[i], sds[i]))"
        )
        if clip is not None:
            z = F.expr(
                "transform(values, (v, i) -> "
                f"greatest(least(try_divide(v - mus[i], sds[i]), {float(clip)}D), {-float(clip)}D))"
            )
        x = self.x.crossJoin(F.broadcast(stats_df)).select("row_id", z.alias("values"))
        return AnnFrame(x, self.obs, self.var)

    def highly_variable_genes(self, n_top: int, n_bins: int = 5) -> DataFrame:
        """A9 — dispersion-based HVG selection (Zheng17 flavor): per-gene
        mean & dispersion, mean-binned z-scored dispersion, top-``n_top``.
        Returns the ``var``-shaped selection table (pos, mu, disp_norm,
        kept)."""
        coo = self.to_coo()
        stats = coo.groupBy("pos").agg(
            F.avg("v").alias("mu"), F.var_pop("v").alias("var")
        )
        disp = stats.withColumn("disp", F.try_divide(F.col("var"), F.col("mu")))
        nt = F.ntile(n_bins).over(W.orderBy("mu"))
        binned = disp.withColumn("bin", nt)
        bw = W.partitionBy("bin")
        zd = F.try_divide(
            F.col("disp") - F.avg("disp").over(bw), F.stddev_pop("disp").over(bw)
        )
        ranked = binned.withColumn("disp_norm", zd).withColumn(
            "rk", F.row_number().over(W.orderBy(F.desc_nulls_last("disp_norm"), F.asc("pos")))
        )
        return ranked.select(
            "pos", "mu", "disp_norm", (F.col("rk") <= n_top).alias("kept")
        )

    def _subset_values(self, kept: list[int]) -> DataFrame:
        """Column-subset ``X`` to the sorted 1-based positions ``kept``.

        The mask re-enters as ONE broadcast row (a 1-row DataFrame cross
        join, same pattern as ``scale``), NOT as an ``F.array(*lits)``
        expression: at Zheng17 scale (~30k genes) an inline literal array
        is a 30k-node Catalyst expression tree — plan bloat + codegen
        limits.  As data it is a single Arrow-shipped array value."""
        kept_df = self.spark.createDataFrame(
            [([int(p) for p in kept],)], "kept_pos array<int>"
        )
        return (
            self.x.crossJoin(F.broadcast(kept_df))
            .select(
                "row_id",
                F.transform(
                    "kept_pos", lambda p: F.element_at("values", p)
                ).alias("values"),
            )
        )

    def subset_genes(self, kept_pos: list[int]) -> "AnnFrame":
        """Column subset by (1-based) positions — e.g. the HVG set."""
        x = self._subset_values(sorted(int(p) for p in kept_pos))
        return AnnFrame(x, self.obs, None)

    # ---- QC / annotation kernels -------------------------------------------

    def qc_metrics(self, top_k: int = 5, expr_threshold: float = 0.0) -> DataFrame:
        """Scanpy ``pp.calculate_qc_metrics`` per-cell block: total
        signal, expressed-gene count, top-``top_k``-gene concentration
        share — ``(row_id, total, n_expressed, pct_top_k)``.  ZERO
        shuffles: every metric is a row-local fold (the registered
        ``sc_qc_metrics`` carries the decimal-path oracle)."""
        total = F.aggregate("values", F.lit(0.0), lambda a, v: a + _DBL(v))
        n_expr = F.size(F.filter("values", lambda v: _DBL(v) > expr_threshold))
        topk = F.aggregate(
            F.slice(F.sort_array(F.transform("values", _DBL), asc=False), 1, top_k),
            F.lit(0.0),
            lambda a, v: a + v,
        )
        return self.x.select(
            "row_id",
            total.alias("total"),
            n_expr.cast("bigint").alias("n_expressed"),
            F.try_divide(topk, total).alias("pct_top_k"),
        )

    def qc_metrics_genes(self, expr_threshold: float = 0.0) -> DataFrame:
        """Per-gene QC block: expressing-cell count, mean, dropout rate —
        ``(pos, n_cells, mean, dropout)``.  One pos-keyed shuffle,
        O(genes) output (registered twin: ``sc_qc_metrics_genes``)."""
        n_all = F.count(F.lit(1))
        n_cells = F.count_if(F.col("v") > expr_threshold)
        return self.to_coo().groupBy("pos").agg(
            n_cells.cast("bigint").alias("n_cells"),
            F.avg("v").alias("mean"),
            (F.lit(1.0) - n_cells / n_all).alias("dropout"),
        )

    def score_genes(self, gene_pos: "list[int]", name: str = "score") -> "AnnFrame":
        """Scanpy ``tl.score_genes`` shape: per cell, mean expression of
        the (1-based) signature positions minus the mean over the full
        gene pool, annotated into ``obs[name]``.  ZERO shuffles beyond
        the obs annotate join: the signature enters as ONE broadcast row
        (the ``_subset_values`` pattern) and both means are row-local
        folds (registered twin: ``sc_score_genes``)."""
        sig = sorted({int(p) for p in gene_pos})
        sig_df = self.spark.createDataFrame([(sig,)], "sig_pos array<int>")
        sig_vals = F.transform("sig_pos", lambda p: _DBL(F.element_at("values", p)))
        s_sig = F.aggregate(sig_vals, F.lit(0.0), lambda a, v: a + v)
        s_all = F.aggregate("values", F.lit(0.0), lambda a, v: a + _DBL(v))
        score = s_sig / F.size("sig_pos") - s_all / F.size("values")
        scored = self.x.crossJoin(F.broadcast(sig_df)).select(
            "row_id", score.alias(name)
        )
        return AnnFrame(self.x, self.obs.join(scored, "row_id"), self.var)

    def regress_out(self) -> "AnnFrame":
        """Scanpy ``pp.regress_out`` with the standard per-cell-total
        covariate: per-gene closed-form OLS against the cell total, then
        the residual matrix.  The per-gene fit is collected O(genes) and
        re-enters as ONE broadcast row of (intercept, slope) arrays — the
        ``scale`` pattern — so the matrix itself never shuffles; the only
        exchange is the O(genes) sufficient-statistics aggregation
        (registered twin with the decimal-path oracle:
        ``sc_regress_out``)."""
        xv = F.aggregate("values", F.lit(0.0), lambda a, v: a + _DBL(v))
        ann = self.x.select("row_id", "values", xv.alias("xv"))
        xstats = ann.agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum("xv").alias("sx"),
            F.sum(F.col("xv") * F.col("xv")).alias("sxx"),
        ).first()
        n, sx, sxx = float(xstats["n"]), float(xstats["sx"]), float(xstats["sxx"])
        gstats = (
            ann.select("xv", F.posexplode("values").alias("p0", "v"))
            .groupBy((F.col("p0") + 1).alias("pos"))
            .agg(
                F.sum("v").alias("sy"),
                F.sum(F.col("v") * F.col("xv")).alias("sxy"),
            )
            .orderBy("pos")
            .collect()
        )  # O(genes) driver state, like scale's stats
        denom = n * sxx - sx * sx
        slopes, intercepts = [], []
        for r in gstats:
            b = (n * float(r["sxy"]) - sx * float(r["sy"])) / denom
            slopes.append(b)
            intercepts.append((float(r["sy"]) - b * sx) / n)
        fit_df = self.spark.createDataFrame(
            [(intercepts, slopes)], "f_a array<double>, f_b array<double>"
        )
        resid = F.expr(
            "transform(values, (v, i) -> v - (f_a[i] + f_b[i] * xv))"
        )
        x = (
            ann.crossJoin(F.broadcast(fit_df))
            .select("row_id", resid.alias("values"))
        )
        return AnnFrame(x, self.obs, self.var)

    def rank_genes_groups(self, key: str = "label") -> DataFrame:
        """Scanpy ``tl.rank_genes_groups`` (t-test flavor): Welch's t of
        every gene per ``obs[key]`` group against the rest, ranked per
        group — ``(group, pos, t, rnk)``.  ONE (group, pos)-keyed shuffle;
        rest-group moments re-aggregate the per-gene totals instead of a
        second matrix pass (registered twin: ``sc_rank_genes_groups``)."""
        lbl = self.obs.select("row_id", F.col(key).alias("grp"))
        c = self.to_coo().join(lbl, "row_id")
        stats = c.groupBy("grp", "pos").agg(
            F.count(F.lit(1)).cast("double").alias("n1"),
            F.sum("v").alias("s1"),
            F.sum(F.col("v") * F.col("v")).alias("q1"),
        )
        tot = stats.groupBy("pos").agg(
            F.sum("n1").alias("nt"), F.sum("s1").alias("st"), F.sum("q1").alias("qt")
        )
        j = stats.join(F.broadcast(tot), "pos")
        n2 = F.col("nt") - F.col("n1")
        s2 = F.col("st") - F.col("s1")
        q2 = F.col("qt") - F.col("q1")
        var1 = (F.col("q1") - F.col("s1") * F.col("s1") / F.col("n1")) / (F.col("n1") - 1)
        var2 = (q2 - s2 * s2 / n2) / (n2 - 1)
        t = (F.col("s1") / F.col("n1") - s2 / n2) / F.sqrt(
            var1 / F.col("n1") + var2 / n2
        )
        ranked = j.select("grp", "pos", t.alias("t"))
        w = W.partitionBy("grp").orderBy(F.desc_nulls_last("t"), F.asc("pos"))
        return ranked.withColumn("rnk", F.row_number().over(w).cast("bigint"))

    # ---- decomposition / graph ---------------------------------------------

    def project(self, w: "list[list[float]]") -> "AnnFrame":
        """Dense ``X · W`` for a small weight matrix ``w`` (d × k rows-major)
        — signature scoring / random projection / learned linear heads.
        ``w`` enters as ONE broadcast row (array-of-arrays literal via a
        1-row cross join, the same O(d·k) driver state as the reference's
        broadcast weights); each output coordinate is a row-local fold, so
        the matrix never shuffles.  The COO twin with the exact oracle is
        ``operators.singlecell.sc_matmul_coo``."""
        k = len(w[0]) if w else 0
        # transpose once driver-side: per-output-column folds want W^T rows
        wt = [[float(w[i][j]) for i in range(len(w))] for j in range(k)]
        w_df = self.spark.createDataFrame([(wt,)], "wt array<array<double>>")
        proj = F.expr(
            "transform(wt, col -> aggregate(zip_with(values, col, (x, m) -> x * m),"
            " 0.0D, (a, t) -> a + t))"
        )
        x = self.x.crossJoin(F.broadcast(w_df)).select("row_id", proj.alias("values"))
        return AnnFrame(x, self.obs, None)

    def pca(self, k: int) -> DataFrame:
        """A10 — centered PCA scores ``(row_id, scores array<double>)``.
        Delegates to the wide-matrix SVD route (``operators.ml.svd_project``:
        matrix-free ARPACK past d=15000, O(d·k) driver)."""
        from .operators.ml import svd_project

        wide = self.x.select(
            F.col("row_id").alias("vec_id"), F.col("values").alias("embedding")
        )
        scores, _s = svd_project(wide, k)
        return scores.select(F.col("vec_id").alias("row_id"), "scores")

    def neighbors(self, k: int, cells: DataFrame | None = None) -> DataFrame:
        """Scanpy ``pp.neighbors`` — euclidean kNN edges
        ``(row_id, nbr, d2, rk)``.  Default is exact: broadcast
        corpus-as-index + WindowGroupLimit (see
        ``operators.singlecell.sc_neighbors`` for the scale contract).
        Pass a ``(row_id, cell)`` coarse assignment (e.g. from
        ``operators.singlecell.sc_ivf_cells``, or any LSH/IVF quantizer
        with that schema) to restrict scoring to bucket-local pairs —
        the IVF nprobe=1 swap past broadcastable size, recall-audited by
        the registered ``sc_neighbors_ivf_recall``."""
        a = self.x.select("row_id", F.col("values").alias("ea"))
        b = self.x.select(F.col("row_id").alias("nbr"), F.col("values").alias("eb"))
        d2 = F.aggregate(
            F.zip_with("ea", "eb", lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, t: acc + t,
        )
        if cells is None:
            scored = a.crossJoin(F.broadcast(b))
        else:
            # bucket-equi restriction first, vectors joined after
            scored = (
                a.join(cells, "row_id")
                .join(
                    cells.select(F.col("row_id").alias("nbr"), F.col("cell").alias("cell_b")),
                    F.col("cell") == F.col("cell_b"),
                )
                .join(b, "nbr")
            )
        scored = scored.where(F.col("row_id") != F.col("nbr")).select(
            "row_id", "nbr", d2.alias("d2")
        )
        rk = F.row_number().over(W.partitionBy("row_id").orderBy(F.asc("d2"), F.asc("nbr")))
        return scored.withColumn("rk", rk.cast("bigint")).where(F.col("rk") <= k)

    def neighbors_nnd(self, k: int, rounds: int = 2, build_width: int | None = None) -> DataFrame:
        """Graph-based approximate kNN on the object API — the
        ``sc_nnd_edges`` NN-descent shape over this frame's ``X``: ring
        seed, then ``rounds`` of symmetrize → co-neighbor closure → exact
        re-score → keep top-``build_width``, emitting the top-``k``
        (build wider than you emit — the measured recall lever, SCALE.md
        §17; ``build_width`` defaults to ``max(k, ceil(4k/3))``).  The
        O(n·k²)-per-round swap for :meth:`neighbors` past broadcastable
        size, with no index structure.  Dense 0..n-1 row ids give the
        standard ring seed; gaps merely thin the seed (missing ring
        targets drop in the scoring join), they do not error."""
        from .session import materialize

        bw = build_width if build_width is not None else max(k, (4 * k + 2) // 3)
        n = self.x.count()
        a = materialize(
            self.x.select(
                F.col("row_id").alias("vec_id"),
                F.col("values").alias("ea"),
                F.aggregate(
                    F.transform("values", lambda x: x * x),
                    F.lit(0.0),
                    lambda acc, t: acc + t,
                ).alias("na"),
            )
        )
        b = a.select(
            F.col("vec_id").alias("nbr"),
            F.col("ea").alias("eb"),
            F.col("na").alias("nb"),
        )
        dot = F.aggregate(
            F.zip_with("ea", "eb", lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, t: acc + t,
        )
        d2 = F.round(F.col("na") + F.col("nb") - 2 * dot, 6)

        def score(pairs: DataFrame) -> DataFrame:
            scored = pairs.join(a, "vec_id").join(b, "nbr").select(
                "vec_id", "nbr", d2.alias("d2")
            )
            rk = F.row_number().over(
                W.partitionBy("vec_id").orderBy(F.asc("d2"), F.asc("nbr"))
            )
            return scored.withColumn("rk", rk.cast("bigint")).where(
                F.col("rk") <= bw
            )

        # .distinct(): when bw >= n the ring wraps and (vec_id+j) % n
        # repeats targets — without dedup the duplicate (vec_id, nbr)
        # pairs survive scoring as duplicate edges on consecutive ranks,
        # eating top-k slots (r14 advice; the refinement rounds already
        # dedup their candidate sets the same way).
        seed = (
            a.select(
                "vec_id", F.explode(F.sequence(F.lit(1), F.lit(bw))).alias("j")
            )
            .select("vec_id", ((F.col("vec_id") + F.col("j")) % n).alias("nbr"))
            .where(F.col("nbr") != F.col("vec_id"))
            .distinct()
        )
        g = materialize(score(seed))
        for _ in range(rounds):
            u = materialize(
                g.select("vec_id", "nbr")
                .union(
                    g.select(F.col("nbr").alias("vec_id"), F.col("vec_id").alias("nbr"))
                )
                .distinct()
            )
            hop = (
                u.alias("x")
                .join(u.alias("y"), F.col("x.nbr") == F.col("y.vec_id"))
                .select(F.col("x.vec_id").alias("vec_id"), F.col("y.nbr").alias("nbr"))
                .where(F.col("vec_id") != F.col("nbr"))
            )
            g = materialize(score(u.union(hop).distinct()))
        return g.where(F.col("rk") <= k).select(
            F.col("vec_id").alias("row_id"), "nbr", "d2", "rk"
        )

    def clusters(self, k: int) -> DataFrame:
        """Graph clustering skeleton (Scanpy leiden/louvain substrate):
        connected components of the MUTUAL-kNN graph over this matrix —
        ``(row_id, cluster_id)``; cells without a mutual neighbor are
        excluded (see ``operators.singlecell.sc_knn_clusters`` for the
        determinism rationale and the oracle-backed twin)."""
        from .operators.dedup import cc_star_labels

        knn = self.neighbors(k).select("row_id", "nbr")
        rev = knn.select(F.col("nbr").alias("row_id"), F.col("row_id").alias("nbr"))
        mutual = knn.intersect(rev).where(F.col("row_id") < F.col("nbr"))
        labels = cc_star_labels(
            mutual.select(F.col("row_id").alias("doc1"), F.col("nbr").alias("doc2"))
        )
        return labels.select(
            F.col("doc_id").alias("row_id"), F.col("component_id").alias("cluster_id")
        )

    def communities(
        self,
        k: int,
        rounds: int | None = None,
        cells: DataFrame | None = None,
        method: str = "lpa",
    ) -> DataFrame:
        """Scanpy ``tl.louvain``/``tl.leiden`` slot → ``(row_id,
        community)``, every cell labeled (unlike ``clusters``, which
        keeps only mutual-neighbor pairs).  ``method`` picks the
        objective, both deterministic and oracle-backed:

        - ``"lpa"`` (default): synchronous label propagation with
          self-vote damping — majority structure, cheapest per round
          (see ``operators.singlecell.sc_communities``).
        - ``"louvain"``: phased-synchronous Louvain phase-1 — the actual
          MODULARITY objective of the louvain/leiden slot (see
          ``sc_communities_modularity``; the two-level coarsening
          refinement is the registered ``sc_communities_louvain2``).

        ``cells`` plugs a coarse candidate generator into the kNN step
        exactly as in ``neighbors``; see ``lpa_labels`` /
        ``louvain_phase1_labels`` for the per-round scale contracts."""
        from .session import materialize

        if rounds is not None and rounds < 1:
            raise ValueError(f"communities: rounds must be >= 1, got {rounds}")
        knn = self.neighbors(k, cells=cells).select("row_id", "nbr")
        sym = knn.select(F.col("row_id").alias("src"), F.col("nbr").alias("dst")).union(
            knn.select(F.col("nbr").alias("src"), F.col("row_id").alias("dst"))
        )
        if method == "lpa":
            from .operators.singlecell import SC_LPA_ROUNDS, lpa_labels

            # LPA's kernel expects self-loops (the damping self-vote).
            sym = sym.union(
                knn.select(F.col("row_id").alias("src"), F.col("row_id").alias("dst"))
            )
            labels = lpa_labels(
                materialize(sym.distinct()),
                SC_LPA_ROUNDS if rounds is None else rounds,
            )
        elif method == "louvain":
            from .operators.singlecell import (
                SC_MODULARITY_ROUNDS,
                louvain_phase1_labels,
            )

            # The gain formula scores "stay" itself — no self-loops, which
            # would distort degrees (see sc_communities_modularity).
            labels = louvain_phase1_labels(
                materialize(sym.distinct()),
                SC_MODULARITY_ROUNDS if rounds is None else rounds,
            )
        else:
            raise ValueError(f"communities: unknown method {method!r} (lpa|louvain)")
        return labels.select(
            F.col("id").alias("row_id"), F.col("lbl").cast("bigint").alias("community")
        )

    def layout(self, k: int) -> DataFrame:
        """Scanpy ``tl.umap`` slot → ``(row_id, sx_micro, sy_micro)``:
        deterministic 2-D spectral coordinates (Laplacian-eigenmap axes,
        umap-learn's ``init="spectral"`` starting layout) of this
        matrix's mutual-kNN graph, in BIGINT micro fixed point — the
        chainable twin of the registered ``sc_spectral_layout`` (see
        ``operators.singlecell.spectral_layout_edges`` for the
        engine-exactness and scale contracts).  Cells without a mutual
        neighbor carry no layout row, as in ``clusters``."""
        from .operators.singlecell import spectral_layout_edges
        from .session import materialize

        knn = self.neighbors(k).select("row_id", "nbr")
        rev = knn.select(F.col("nbr").alias("row_id"), F.col("row_id").alias("nbr"))
        mutual = knn.intersect(rev).select(
            F.col("row_id").alias("u"), F.col("nbr").alias("v")
        )
        spark = self.x.sparkSession
        return spectral_layout_edges(spark, materialize(mutual)).select(
            F.col("u").alias("row_id"), "sx_micro", "sy_micro"
        )

    # ---- the flagship composition -------------------------------------------

    def recipe_zheng17(
        self,
        min_gene_cells_pct: float = 2.0,
        min_cell_genes: int = 20,
        expr_threshold: float = 0.0,
        clip: float = 10.0,
        target: float = 1e4,
        n_top_genes: int | None = None,
    ) -> "AnnFrame":
        """A11 — the composed pipeline (Scanpy ``pp.recipe_zheng17``):
        filter_genes(expressed in ≥pct of cells) → filter_cells →
        normalize_per_cell [→ HVG top-``n_top_genes`` subset →
        re-normalize] → log1p → scale(clip).  Pure chain of the kernels
        above; Catalyst fuses the row-local steps between the O(genes)
        stats exchanges.

        ``n_top_genes=None`` (default) skips the HVG subset — the
        registered ``sc_recipe_zheng17`` twin's shape, kept as the
        default so the oracle-checked parity holds.  Setting it (Scanpy's
        own default is 1000) runs the full published recipe order:
        dispersion-selected genes are subset between the two
        normalizations exactly as ``pp.recipe_zheng17`` does."""
        import math

        n = self.n_obs
        # ceil on the exact product: -(-int(n*pct)//100) truncates n*pct
        # first, so e.g. n=401, pct=0.5 (200.5) would yield 2, not ceil=3
        min_cells = math.ceil(n * min_gene_cells_pct / 100)
        out = (
            self.filter_genes(min_cells=min_cells, expr_threshold=expr_threshold)
            .filter_cells(min_genes=min_cell_genes, expr_threshold=expr_threshold)
            .normalize_per_cell(target=target)
        )
        if n_top_genes is not None:
            sel = out.highly_variable_genes(n_top=n_top_genes)
            kept = [int(r["pos"]) for r in sel.where(F.col("kept")).collect()]
            out = out.subset_genes(kept).normalize_per_cell(target=target)
        return out.log1p().scale(clip=clip)
