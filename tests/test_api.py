"""AnnFrame API-parity tests: the chainable object surface must compute the
same kernels the registry hash-verifies, so a reference user switching to
the object API inherits the oracle-checked semantics.

Numeric posture: the registered queries quantize through decimal paths for
cross-engine hashing; the API keeps raw double math, so comparisons here are
tolerance-based (tight where only rounding differs, looser after the recipe's
multiplicative chain) — EXACTNESS remains the registry's job."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from single_cell_experiments_spark.api import AnnFrame
from single_cell_experiments_spark.catalog import load_table
from tests.conftest import SF_DIR


def _af(spark) -> AnnFrame:
    return AnnFrame.from_table(load_table(spark, SF_DIR, "embeddings"))


def _coo_map(df, val_col):
    out = {}
    for r in df.collect():
        out[(int(r["row_id"] if "row_id" in r else r["vec_id"]), int(r["pos"]))] = r[val_col]
    return out


def test_log1p_matches_registered_kernel(spark):
    from single_cell_experiments_spark.operators.singlecell import sc_log1p

    api = _coo_map(_af(spark).log1p().to_coo(), "v")
    reg = _coo_map(sc_log1p(spark, SF_DIR), "lv")
    assert api.keys() == reg.keys()
    for k, v in reg.items():
        assert abs(api[k] - v) < 1e-6, k  # registered rounds to 6 dp


def test_normalize_matches_registered_kernel(spark):
    from single_cell_experiments_spark.operators.singlecell import sc_normalize_per_cell

    api = _coo_map(_af(spark).map_values(F.abs).normalize_per_cell(1e4).to_coo(), "v")
    reg = _coo_map(sc_normalize_per_cell(spark, SF_DIR), "nv")
    assert api.keys() == reg.keys()
    for k, v in reg.items():
        assert abs(api[k] - v) < 1e-4, k  # decimal-path quantization in reg


def test_filter_cells_matches_registered_kernel(spark):
    from single_cell_experiments_spark.operators.singlecell import (
        EXPR_THRESHOLD,
        sc_filter_cells,
    )

    af = _af(spark).filter_cells(min_genes=25, expr_threshold=EXPR_THRESHOLD)
    api = {int(r["row_id"]): int(r["n_genes"]) for r in af.obs.collect()}
    reg = {int(r["vec_id"]): int(r["n_genes"]) for r in sc_filter_cells(spark, SF_DIR).collect()}
    assert api == reg


def test_filter_genes_prunes_columns_and_annotates_var(spark):
    af = _af(spark)
    d = af.n_vars
    # adaptive cut: the median per-gene expressing-cell count keeps some
    # genes and drops others regardless of the data's value scale
    counts = sorted(
        int(r["n_cells"])
        for r in af.to_coo()
        .groupBy("pos")
        .agg(F.count_if(F.abs(F.col("v")) > 0.1).alias("n_cells"))
        .collect()
    )
    cut = counts[len(counts) // 2]
    assert counts[0] < cut <= counts[-1], "fixture must have count spread"
    filtered = af.filter_genes(min_cells=cut, expr_threshold=0.1)
    kept = filtered.n_vars
    assert 0 < kept < d
    var = filtered.var.orderBy("pos").collect()
    assert [int(r["pos"]) for r in var] == list(range(1, kept + 1))
    assert all(int(r["n_cells"]) >= cut for r in var)
    # pruned arrays contain exactly the kept original positions' values
    orig = {(int(r["row_id"]), int(r["pos"])): r["v"] for r in af.to_coo().collect()}
    keep_map = {int(r["pos"]): int(r["orig_pos"]) for r in var}
    for r in filtered.to_coo().limit(500).collect():
        assert r["v"] == orig[(int(r["row_id"]), keep_map[int(r["pos"])])]


def test_scale_zero_mean_unit_var(spark):
    sc = _af(spark).scale()
    pdf = sc.to_coo().groupBy("pos").agg(
        F.avg("v").alias("mu"), F.stddev_pop("v").alias("sd")
    ).toPandas()
    assert np.allclose(pdf["mu"], 0.0, atol=1e-9)
    assert np.allclose(pdf["sd"], 1.0, atol=1e-9)


def test_scale_clip_bounds(spark):
    sc = _af(spark).scale(clip=0.5)
    mx = sc.to_coo().agg(F.max(F.abs(F.col("v")))).first()[0]
    assert mx <= 0.5 + 1e-12


def test_recipe_matches_registered_pipeline(spark):
    from single_cell_experiments_spark.operators.singlecell import (
        EXPR_THRESHOLD,
        sc_recipe_zheng17,
    )

    reg_rows = sc_recipe_zheng17(spark, SF_DIR).collect()
    reg = {(int(r["vec_id"]), int(r["pos"])): r["z"] for r in reg_rows}

    af = (
        _af(spark)
        .map_values(F.abs)
        .recipe_zheng17(expr_threshold=EXPR_THRESHOLD)
    )
    # registered pipeline keeps ORIGINAL gene positions; map back via var
    pos_map = {int(r["pos"]): int(r["orig_pos"]) for r in af.var.collect()}
    api = {
        (int(r["row_id"]), pos_map[int(r["pos"])]): r["v"]
        for r in af.to_coo().collect()
    }
    assert api.keys() == reg.keys()
    diffs = [
        abs(api[k] - v) for k, v in reg.items() if v is not None and api[k] is not None
    ]
    assert max(diffs) < 1e-3  # decimal-path quantization compounds through the chain
    assert sum(1 for k, v in reg.items() if (v is None) != (api[k] is None)) == 0


def test_zarr_roundtrip_through_api(spark, tmp_path):
    af = _af(spark)
    path = str(tmp_path / "grp")
    info = af.to_zarr(path)
    assert info["shape"][0] == af.n_obs
    back = AnnFrame.from_zarr(spark, path)
    a = {(int(r["row_id"]), int(r["pos"])): round(r["v"], 5) for r in af.to_coo().collect()}
    b = {(int(r["row_id"]), int(r["pos"])): round(r["v"], 5) for r in back.to_coo().collect()}
    assert a == b


def test_neighbors_matches_registered_kernel(spark):
    from single_cell_experiments_spark.operators.singlecell import (
        SC_NEIGHBORS_K,
        sc_neighbors,
    )

    api = {
        (int(r["row_id"]), int(r["nbr"])): int(r["rk"])
        for r in _af(spark).neighbors(SC_NEIGHBORS_K).collect()
    }
    reg = {
        (int(r["vec_id"]), int(r["nbr"])): int(r["rk"])
        for r in sc_neighbors(spark, SF_DIR).collect()
    }
    # ties broken on ROUNDED distance in reg vs raw in api can flip ranks
    # only between equidistant candidates; membership agreement is the
    # kernel contract
    agree = sum(1 for k in reg if k in api)
    assert agree >= 0.99 * len(reg)


def test_pca_scores_norms_match_distance_from_mean(spark):
    af = _af(spark)
    k = af.n_vars
    scores = af.pca(k).toPandas()
    emb = load_table(spark, SF_DIR, "embeddings").toPandas()
    x = np.array(emb["embedding"].to_list(), dtype=np.float64)
    mu = x.mean(axis=0)
    d2 = ((x - mu) ** 2).sum(axis=1)
    got = {int(r): float(np.dot(s, s)) for r, s in zip(scores["row_id"], scores["scores"])}
    want = {int(v): float(d) for v, d in zip(emb["vec_id"], d2)}
    for key in want:
        assert abs(got[key] - want[key]) < 1e-6 * (1 + want[key])


def test_reindex_renumbers_densely(spark):
    af = _af(spark).filter_cells(min_genes=25).reindex()
    ids = sorted(int(r["row_id"]) for r in af.x.select("row_id").collect())
    assert ids == list(range(len(ids)))
    assert "orig_row_id" in af.obs.columns
    # order-preserving: new ids sort identically to the originals
    pairs = af.obs.select("orig_row_id", "row_id").collect()
    by_orig = sorted(pairs, key=lambda r: int(r["orig_row_id"]))
    assert [int(r["row_id"]) for r in by_orig] == list(range(len(by_orig)))


def test_reindex_has_no_unpartitioned_window(spark):
    """r7 verdict #2: reindex must use the partition-offset (zipWithIndex)
    construction — every Window in the plan is partitioned, so no single
    task ever receives the full id set."""
    import re

    from single_cell_experiments_spark.plans import inspect

    af = _af(spark).reindex()
    plan = inspect.formatted_plan(af.x)
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, "expected the partition-local row_number window in the plan"
    for spec in specs:
        # an unpartitioned spec starts straight at the ORDER BY column;
        # the partition-offset pattern always leads with the pid key
        assert spec.split(",")[0].strip().startswith("pid#"), plan


def test_wide_gene_subset_avoids_literal_expression_tree(spark):
    """r7 verdict #1: a >=20k-position kept mask must enter as broadcast
    DATA (1-row DF cross join), not an O(genes) F.array literal — the
    literal form is a 20k-node Catalyst expression tree that hits plan
    bloat / codegen limits at Zheng17 scale."""
    d = 20_000
    wide = spark.range(3).select(
        F.col("id").alias("row_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(d)), lambda p: p.cast("double")
        ).alias("values"),
    )
    af = AnnFrame(wide)
    keep = list(range(1, d + 1, 1))  # keep all 20k positions
    sub = af.subset_genes(keep)
    # plan stays small: the mask is one broadcast row, not 20k literals
    from single_cell_experiments_spark.plans import inspect

    plan = inspect.formatted_plan(sub.x)
    assert len(plan) < 100_000, f"plan blew up to {len(plan)} chars"
    row = sub.x.where(F.col("row_id") == 1).select(
        F.size("values").alias("n"), F.element_at("values", d).alias("last")
    ).first()
    assert int(row["n"]) == d and float(row["last"]) == float(d)


def test_hvg_selects_top_n_and_zscores_within_bins(spark):
    af = _af(spark)
    sel = af.highly_variable_genes(n_top=8).toPandas()
    assert int(sel["kept"].sum()) == 8
    assert len(sel) == af.n_vars
    # kept genes are exactly the top-8 by normalized dispersion
    ranked = sel.sort_values(["disp_norm", "pos"], ascending=[False, True])
    assert set(ranked.head(8)["pos"]) == set(sel[sel["kept"]]["pos"])


def test_subset_genes_keeps_requested_positions(spark):
    af = _af(spark)
    keep = [2, 5, 11]
    sub = af.subset_genes(keep)
    assert sub.n_vars == 3
    orig = {(int(r["row_id"]), int(r["pos"])): r["v"] for r in af.to_coo().collect()}
    for r in sub.to_coo().limit(300).collect():
        assert r["v"] == orig[(int(r["row_id"]), keep[int(r["pos"]) - 1])]


def test_annframe_chain_matches_numpy_reference(spark):
    """AnnFrame kernels vs a plain-numpy reference on a small random
    matrix (seeded): filters, normalize, log1p, scale — the object API's
    math must be numpy's math, independent of the driver tables."""
    rng = np.random.default_rng(42)
    n, d = 40, 12
    x = np.abs(rng.standard_normal((n, d))).astype(np.float64)
    x[x < 0.3] = 0.0  # sparsity so the filters bite
    pdf = pd.DataFrame({"vec_id": np.arange(n), "embedding": [row for row in x]})
    af = AnnFrame.from_table(spark.createDataFrame(pdf))

    # filter_genes(min_cells=10, thr=0): numpy mask
    gmask = (x > 0).sum(axis=0) >= 10
    ref = x[:, gmask]
    # filter_cells(min_genes=4)
    cmask = (ref > 0).sum(axis=1) >= 4
    kept_ids = np.arange(n)[cmask]
    ref = ref[cmask]
    # normalize rows to 100
    sums = ref.sum(axis=1, keepdims=True)
    ref = ref * 100.0 / sums
    # log1p
    ref = np.log1p(ref)
    # scale (population std), clip 2
    mu = ref.mean(axis=0)
    sd = ref.std(axis=0)
    ref = np.clip((ref - mu) / sd, -2.0, 2.0)

    out = (
        af.filter_genes(min_cells=10, expr_threshold=0.0)
        .filter_cells(min_genes=4, expr_threshold=0.0)
        .normalize_per_cell(100.0)
        .log1p()
        .scale(clip=2.0)
    )
    got_rows = {int(r["row_id"]): np.array(r["values"]) for r in out.x.collect()}
    assert set(got_rows) == set(int(i) for i in kept_ids)
    for i, rid in enumerate(kept_ids):
        np.testing.assert_allclose(got_rows[int(rid)], ref[i], rtol=1e-9, atol=1e-9)


def test_zarr_roundtrip_carries_obs_annotations(spark, tmp_path):
    """AnnData-group completeness: numeric obs columns (here ``label``)
    round-trip as obs_* 1-D zarr arrays through to_zarr/from_zarr."""
    af = _af(spark)  # embeddings carries a label obs column
    assert "label" in af.obs.columns
    path = str(tmp_path / "grp_obs")
    af.to_zarr(path)
    import os

    assert os.path.isdir(os.path.join(path, "obs_label"))
    back = AnnFrame.from_zarr(spark, path)
    a = {int(r["row_id"]): int(r["label"]) for r in af.obs.collect()}
    b = {int(r["row_id"]): int(r["label"]) for r in back.obs.collect()}
    assert a == b


def test_zarr_roundtrip_carries_var_annotations(spark, tmp_path):
    """var (per-gene) numeric annotations round-trip as var_* 1-D arrays:
    filter_genes creates a var table (orig_pos, n_cells, pos) whose
    numeric columns must survive to_zarr -> from_zarr keyed by pos."""
    af = _af(spark).filter_genes(min_cells=1, expr_threshold=0.1).reindex()
    assert af.var is not None
    path = str(tmp_path / "grp_var")
    af.to_zarr(path)
    back = AnnFrame.from_zarr(spark, path)
    assert back.var is not None
    want = {
        int(r["pos"]): (int(r["n_cells"]), int(r["orig_pos"]))
        for r in af.var.collect()
    }
    got = {
        int(r["pos"]): (int(r["n_cells"]), int(r["orig_pos"]))
        for r in back.var.collect()
    }
    assert got == want


def test_project_matches_numpy_matmul(spark):
    af = _af(spark)
    d = af.n_vars
    rng = np.random.default_rng(3)
    w = rng.standard_normal((d, 5)).round(3)
    out = af.project(w.tolist())
    assert out.n_vars == 5
    emb = load_table(spark, SF_DIR, "embeddings").toPandas()
    x = np.array(emb["embedding"].to_list(), dtype=np.float64)
    want = x @ w
    got = {int(r["row_id"]): np.array(r["values"]) for r in out.x.collect()}
    ids = emb["vec_id"].to_numpy()
    for i, rid in enumerate(ids):
        np.testing.assert_allclose(got[int(rid)], want[i], rtol=1e-9, atol=1e-9)


def test_clusters_matches_registered_kernel(spark):
    from single_cell_experiments_spark.operators.singlecell import (
        SC_NEIGHBORS_K,
        sc_knn_clusters,
    )

    api = {
        int(r["row_id"]): int(r["cluster_id"])
        for r in _af(spark).clusters(SC_NEIGHBORS_K).collect()
    }
    reg = {
        int(r["vec_id"]): int(r["cluster_id"])
        for r in sc_knn_clusters(spark, SF_DIR).collect()
    }
    # rounded-vs-raw distance ties can flip edge membership for a few
    # nodes; the overwhelming majority of cluster assignments must agree
    common = set(api) & set(reg)
    assert len(common) >= 0.98 * len(reg)
    agree = sum(1 for n in common if api[n] == reg[n])
    assert agree >= 0.98 * len(common)


def test_communities_matches_registered_kernel(spark):
    """AnnFrame.communities (the tl.louvain-slot chain) must agree with
    the registered sc_communities kernel; raw-vs-rounded distance ties
    may flip a few edge memberships, so the bar is the clusters-test
    tolerance (measured 1.0 agreement at sf0.001)."""
    from single_cell_experiments_spark.operators.singlecell import (
        SC_NEIGHBORS_K,
        sc_communities,
    )

    api = {
        int(r["row_id"]): int(r["community"])
        for r in _af(spark).communities(SC_NEIGHBORS_K).collect()
    }
    reg = {
        int(r["vec_id"]): int(r["community"])
        for r in sc_communities(spark, SF_DIR).collect()
    }
    assert set(api) == set(reg)
    agree = sum(1 for n in api if api[n] == reg[n])
    assert agree >= 0.98 * len(api)


def test_from_coo_densifies_csc_store(spark, tmp_path):
    """from_coo (the container-agnostic half of from_10x): a sparse CSC
    store ingested through ingest_csc densifies to the exact matrix,
    implicit zeros filled."""
    from single_cell_experiments_spark.sources.tenx import NpzCscStore, ingest_csc

    rng = np.random.default_rng(5)
    dense = rng.standard_normal((6, 9))  # features x cells
    dense[np.abs(dense) < 0.8] = 0.0
    indptr = [0]
    indices, data = [], []
    for j in range(dense.shape[1]):
        nz = np.nonzero(dense[:, j])[0]
        indices.extend(nz)
        data.extend(dense[nz, j])
        indptr.append(len(indices))
    path = str(tmp_path / "m.npz")
    np.savez(
        path,
        indptr=np.array(indptr, np.int64),
        indices=np.array(indices, np.int64),
        data=np.array(data, np.float64),
        shape=np.array(dense.shape, np.int64),
    )
    coo = ingest_csc(spark, NpzCscStore(path), target_nnz_per_slice=4)
    af = AnnFrame.from_coo(coo, n_features=dense.shape[0])
    got = {int(r["row_id"]): np.array(r["values"]) for r in af.x.collect()}
    for j in range(dense.shape[1]):
        if j in got:  # all-zero cells emit no COO entries -> absent rows
            np.testing.assert_allclose(got[j], dense[:, j])
        else:
            assert not dense[:, j].any()


def test_from_10x_reads_matrix_h5_without_h5py(spark, tmp_path):
    """AnnFrame.from_10x end-to-end over a real CellRanger-v3-layout
    matrix.h5 (minih5 fallback when h5py is absent): the dense matrix
    reconstructed through CSC ingest + from_coo must equal the source."""
    import numpy as np

    rng = np.random.default_rng(41)
    n_genes, n_cells = 9, 17
    dense = rng.random((n_genes, n_cells)) * (rng.random((n_genes, n_cells)) < 0.5)
    indptr, indices, data = [0], [], []
    for c in range(n_cells):
        (nz,) = np.nonzero(dense[:, c])
        indices.extend(int(i) for i in nz)
        data.extend(float(v) for v in dense[nz, c])
        indptr.append(len(indices))
    path = str(tmp_path / "matrix.h5")
    try:
        import h5py

        with h5py.File(path, "w") as f:
            g = f.create_group("matrix")
            g.create_dataset("data", data=np.array(data))
            g.create_dataset("indices", data=np.array(indices, np.int64))
            g.create_dataset("indptr", data=np.array(indptr, np.int64))
            g.create_dataset("shape", data=np.array([n_genes, n_cells], np.int64))
    except ImportError:
        from single_cell_experiments_spark.sources.minih5 import write_h5

        write_h5(
            path,
            {
                "matrix": {
                    "data": np.array(data),
                    "indices": np.array(indices, np.int64),
                    "indptr": np.array(indptr, np.int64),
                    "shape": np.array([n_genes, n_cells], np.int64),
                }
            },
            chunk_len=8,
            gzip=3,
            shuffle=True,
        )
    af = AnnFrame.from_10x(spark, path, n_features=n_genes)
    assert af.n_vars == n_genes
    got = {int(r["row_id"]): np.array(r["values"]) for r in af.x.collect()}
    for c in range(n_cells):
        if not dense[:, c].any():
            assert c not in got  # all-zero cells have no stored entries
            continue
        np.testing.assert_allclose(got[c], dense[:, c], rtol=1e-12)


def test_qc_metrics_match_registered_kernel(spark):
    from single_cell_experiments_spark.operators.singlecell import (
        EXPR_THRESHOLD,
        QC_TOP_K,
        sc_qc_metrics,
    )

    api = {
        int(r["row_id"]): (r["total"], int(r["n_expressed"]), r["pct_top_k"])
        for r in _af(spark)
        .qc_metrics(top_k=QC_TOP_K, expr_threshold=EXPR_THRESHOLD)
        .collect()
    }
    reg = {
        int(r["vec_id"]): (r["total6"], int(r["n_expressed"]), r[f"pct_top{QC_TOP_K}"])
        for r in sc_qc_metrics(spark, SF_DIR).collect()
    }
    assert api.keys() == reg.keys()
    for k, (t, n, p) in reg.items():
        at, an, ap = api[k]
        # reg quantizes each ELEMENT to 6dp before folding — compounds
        # to ~1e-3 over 64-element sums; api keeps raw doubles.  pct is
        # topk/total with near-zero totals on this zero-centered fixture,
        # so its comparison must be RELATIVE (the division amplifies the
        # quantization unboundedly as total -> 0)
        assert abs(at - t) < 1e-3 and an == n, k
        assert abs(ap - p) < 1e-3 * (1 + abs(p)), k


def test_score_genes_matches_registered_kernel(spark):
    from single_cell_experiments_spark.operators.singlecell import (
        SCORE_SET_MOD,
        sc_score_genes,
    )

    af = _af(spark)
    sig = [p for p in range(1, af.n_vars + 1) if p % SCORE_SET_MOD == 0]
    scored = af.score_genes(sig, name="score")
    assert "score" in scored.obs.columns
    api = {int(r["row_id"]): r["score"] for r in scored.obs.collect()}
    reg = {int(r["vec_id"]): r["score6"] for r in sc_score_genes(spark, SF_DIR).collect()}
    assert api.keys() == reg.keys()
    for k, v in reg.items():
        assert abs(api[k] - v) < 1e-4, k


def test_regress_out_matches_registered_kernel(spark):
    from single_cell_experiments_spark.operators.singlecell import sc_regress_out

    api = _coo_map(_af(spark).regress_out().to_coo(), "v")
    reg = _coo_map(sc_regress_out(spark, SF_DIR), "resid")
    assert api.keys() == reg.keys()
    diffs = [abs(api[k] - v) for k, v in reg.items()]
    assert max(diffs) < 1e-3  # decimal-path quantization in reg


def test_rank_genes_groups_matches_registered_kernel(spark):
    from single_cell_experiments_spark.operators.singlecell import (
        sc_rank_genes_groups,
    )

    api = {
        (int(r["grp"]), int(r["pos"])): r["t"]
        for r in _af(spark).rank_genes_groups("label").collect()
    }
    reg = {
        (int(r["label"]), int(r["pos"])): r["t6"]
        for r in sc_rank_genes_groups(spark, SF_DIR).collect()
    }
    assert api.keys() == reg.keys()
    for k, v in reg.items():
        if v is None or api[k] is None:
            assert v is None and api[k] is None, k
        else:
            assert abs(api[k] - v) < 1e-3, k


def test_qc_metrics_genes_dropout_consistent(spark):
    af = _af(spark)
    rows = af.qc_metrics_genes(expr_threshold=0.1).collect()
    assert len(rows) == af.n_vars
    n = af.n_obs
    for r in rows:
        assert abs(r["dropout"] - (1 - r["n_cells"] / n)) < 1e-12


def test_recipe_with_hvg_subset_runs_full_scanpy_order(spark):
    """n_top_genes engages the published recipe order (HVG subset between
    the two normalizations): output keeps exactly n_top genes, stays
    clip-bounded, and per-gene stats are standardized."""
    af = _af(spark).map_values(F.abs).recipe_zheng17(
        expr_threshold=0.1, n_top_genes=12, clip=10.0
    )
    assert af.n_vars == 12
    stats = af.to_coo().groupBy("pos").agg(
        F.avg("v").alias("mu"), F.stddev_pop("v").alias("sd"), F.max(F.abs("v")).alias("mx")
    ).collect()
    assert len(stats) == 12
    for r in stats:
        assert abs(r["mu"]) < 1e-6 or r["mx"] <= 10 + 1e-9  # clip may skew mu
        assert r["mx"] <= 10 + 1e-9


def test_communities_louvain_matches_registered_kernel(spark):
    """AnnFrame.communities(method="louvain") must agree with the
    registered sc_communities_modularity kernel (same phased greedy over
    the same graph, modulo raw-vs-rounded distance ties — the bar of the
    LPA twin above)."""
    import pytest

    from single_cell_experiments_spark.operators.singlecell import (
        SC_NEIGHBORS_K,
        sc_communities_modularity,
    )

    api = {
        int(r["row_id"]): int(r["community"])
        for r in _af(spark).communities(SC_NEIGHBORS_K, method="louvain").collect()
    }
    reg = {
        int(r["vec_id"]): int(r["community"])
        for r in sc_communities_modularity(spark, SF_DIR).collect()
    }
    assert set(api) == set(reg)
    agree = sum(1 for n in api if api[n] == reg[n])
    assert agree >= 0.98 * len(api)

    with pytest.raises(ValueError):
        _af(spark).communities(SC_NEIGHBORS_K, method="leiden-nope")


def test_from_zarr_consolidated_is_equivalent_and_exclusive(spark, tmp_path):
    """A consolidated group must load identically through from_zarr —
    including obs_* discovery from the .zmetadata keys — and must never
    touch the member .zarray files (proven by deleting them)."""
    import os

    import numpy as np

    from single_cell_experiments_spark.sources.zarrv2 import consolidate_metadata

    af = _af(spark)
    path = str(tmp_path / "grp_consol")
    af.to_zarr(path)

    plain = AnnFrame.from_zarr(spark, path)
    want_x = {int(r["row_id"]): np.array(r["values"]) for r in plain.x.collect()}
    want_obs = {int(r["row_id"]): int(r["label"]) for r in plain.obs.collect()}

    consolidate_metadata(path)
    for entry in os.listdir(path):
        zp = os.path.join(path, entry, ".zarray")
        if os.path.isfile(zp):
            os.remove(zp)

    back = AnnFrame.from_zarr(spark, path)
    got_x = {int(r["row_id"]): np.array(r["values"]) for r in back.x.collect()}
    got_obs = {int(r["row_id"]): int(r["label"]) for r in back.obs.collect()}
    assert set(got_x) == set(want_x)
    for k in want_x:
        np.testing.assert_array_equal(got_x[k], want_x[k])
    assert got_obs == want_obs


def test_layout_matches_reference_on_own_graph(spark):
    """AnnFrame.layout: the chainable tl.umap slot must reproduce the
    integer spectral iteration exactly on ITS OWN mutual-kNN graph (the
    API's neighbor distances are raw doubles vs the registry's rounded
    ones, so the graph — not the layout arithmetic — is the only place
    the surfaces may differ; the layout core is shared code)."""
    from single_cell_experiments_spark.operators.singlecell import SC_NEIGHBORS_K
    from tests.test_spectral import _reference_layout

    af = _af(spark)
    knn = {(int(r.row_id), int(r.nbr)) for r in af.neighbors(SC_NEIGHBORS_K).collect()}
    edges = sorted(p for p in knn if (p[1], p[0]) in knn)
    nodes, _phi, sx, sy = _reference_layout(edges)

    got = {
        int(r.row_id): (int(r.sx_micro), int(r.sy_micro))
        for r in af.layout(SC_NEIGHBORS_K).collect()
    }
    assert set(got) == set(nodes)
    for i, u in enumerate(nodes):
        assert got[u] == (int(sx[i]), int(sy[i])), u


def test_obs_var_string_annotations_roundtrip_zarr(spark, tmp_path):
    """r13 verdict #4: string/categorical obs AND var columns survive the
    v2 group roundtrip (obs as fixed-width |S<n> sibling arrays, var via
    the driver-side writer), alongside numeric ones."""
    e = load_table(spark, SF_DIR, "embeddings").limit(64)
    n = e.count()
    ids = e.select(F.col("vec_id").cast("bigint").alias("row_id"))
    af0 = AnnFrame.from_table(
        e.select(
            "vec_id",
            "embedding",
            F.concat(F.lit("batch_"), (F.col("vec_id") % 3).cast("string")).alias(
                "batch"
            ),
            (F.col("vec_id") * 2).cast("bigint").alias("total"),
        )
    )
    dim = af0.n_vars
    var = spark.range(1, dim + 1).select(
        F.col("id").alias("pos"),
        F.concat(F.lit("gene_"), F.col("id").cast("string")).alias("gname"),
        (F.col("id") % 2).cast("bigint").alias("flagged"),
    )
    af0 = AnnFrame(af0.x, af0.obs, var)
    store = str(tmp_path / "grp")
    af0.to_zarr(store)
    back = AnnFrame.from_zarr(spark, store)

    obs = {int(r.row_id): (r.batch, int(r.total)) for r in back.obs.collect()}
    assert len(obs) == n
    for rid, (b, t) in obs.items():
        assert b == f"batch_{rid % 3}" and t == rid * 2
    gv = {int(r.pos): (r.gname, int(r.flagged)) for r in back.var.collect()}
    assert len(gv) == dim
    for pos, (g, fl) in gv.items():
        assert g == f"gene_{pos}" and fl == pos % 2


def test_v3_dict_vector_null_sentinel(spark, tmp_path):
    """The -1 code is the NULL sentinel: NULL values round-trip as NULL,
    never as category 0."""
    from single_cell_experiments_spark.sources.zarrv3 import (
        read_zarr_v3_dict_vector,
        write_zarr_v3_dict_vector,
    )

    vec = spark.createDataFrame(
        [(0, "a"), (1, None), (2, "b"), (3, "a")], "vec_id BIGINT, value STRING"
    )
    store = str(tmp_path / "dictvec")
    info = write_zarr_v3_dict_vector(vec, store, rows_per_chunk=3)
    assert info["categories"] == ["a", "b"]
    got = {int(r.row): r.value for r in read_zarr_v3_dict_vector(spark, store).collect()}
    assert got == {0: "a", 1: None, 2: "b", 3: "a"}


def test_neighbors_nnd_object_api_valid_and_beats_seed(spark):
    """AnnFrame.neighbors_nnd: valid top-k graph (k rows per node, no
    self-edges, exact d2), and descent recall strictly improves on the
    pure ring seed."""
    af = AnnFrame.from_table(load_table(spark, SF_DIR, "embeddings"))
    exact = {
        (int(r.row_id), int(r.nbr)) for r in af.neighbors(4).collect()
    }
    g0 = {(int(r.row_id), int(r.nbr)) for r in af.neighbors_nnd(4, rounds=0).collect()}
    g2 = af.neighbors_nnd(4, rounds=2).collect()
    pairs2 = {(int(r.row_id), int(r.nbr)) for r in g2}
    per_node: dict[int, int] = {}
    for r in g2:
        assert int(r.row_id) != int(r.nbr)
        assert 1 <= int(r.rk) <= 4
        per_node[int(r.row_id)] = per_node.get(int(r.row_id), 0) + 1
    assert set(per_node.values()) == {4}
    assert len(exact & pairs2) > len(exact & g0)


def test_obsm_uns_roundtrip_completes_write_compute_write(spark, tmp_path):
    """r14 verdict #1: the notebook flow's OUTPUT must be durable — compute
    a layout, annotate it as obsm['X_umap'] + uns['neighbors'], to_zarr,
    from_zarr, and recover every component bit-exactly (obsm members are
    float64 — derived doubles store at compute precision)."""
    af = _af(spark)
    layout = af.layout(4).select(
        "row_id",
        F.array(
            F.col("sx_micro").cast("double"), F.col("sy_micro").cast("double")
        ).alias("values"),
    )
    # obsm carries one row per obs: left-join to the full index, zero-fill
    # cells without a mutual neighbor (AnnData's obsm is positionally dense)
    full = af.x.select("row_id").join(layout, "row_id", "left").select(
        "row_id",
        F.coalesce(
            "values", F.array(F.lit(0.0), F.lit(0.0))
        ).alias("values"),
    )
    uns_meta = {"k": 4, "method": "exact", "metric": "euclidean"}
    af2 = af.with_obsm("X_umap", full).with_uns("neighbors", uns_meta)
    store = str(tmp_path / "obsm_store")
    af2.to_zarr(store)
    back = AnnFrame.from_zarr(spark, store)
    assert back.uns == {"neighbors": uns_meta}
    assert set(back.obsm) == {"X_umap"}
    want = {int(r["row_id"]): list(r["values"]) for r in full.collect()}
    got = {int(r["row_id"]): list(r["values"]) for r in back.obsm["X_umap"].collect()}
    assert got == want  # float64 member: bit-exact, not tolerance


def test_obsm_rejects_unsafe_member_name(spark, tmp_path):
    af = _af(spark).with_obsm("../evil", _af(spark).x.select("row_id", "values"))
    with pytest.raises(ValueError, match="safe store key"):
        af.to_zarr(str(tmp_path / "bad"))


def test_obsm_rejects_partial_member(spark, tmp_path):
    """An obsm member missing rows must refuse (positional store) rather
    than silently zero-fill unseen cells."""
    af = _af(spark)
    partial = af.x.where(F.col("row_id") < 10).select("row_id", "values")
    with pytest.raises(ValueError, match="one row per cell"):
        af.with_obsm("X_pca", partial).to_zarr(str(tmp_path / "partial"))


def test_layers_roundtrip_beside_x(spark, tmp_path):
    """AnnData layers (alternative same-shape matrices): raw counts kept
    beside the normalized X survive to_zarr/from_zarr bit-exactly as
    float64 layers_<name> members, independent of X and obsm."""
    af = _af(spark)
    raw = af.x.select(
        "row_id",
        F.transform("values", lambda v: F.round(v * 1000.0)).alias("values"),
    )
    store = str(tmp_path / "layers_store")
    af.with_layer("counts", raw).with_uns("source", {"layer": "counts"}).to_zarr(store)
    back = AnnFrame.from_zarr(spark, store)
    assert set(back.layers) == {"counts"}
    assert back.uns == {"source": {"layer": "counts"}}
    want = {int(r["row_id"]): list(r["values"]) for r in raw.collect()}
    got = {int(r["row_id"]): list(r["values"]) for r in back.layers["counts"].collect()}
    assert got == want


def test_varm_roundtrip_gene_axis_member(spark, tmp_path):
    """r15: varm (per-gene matrices — the loadings slot, varm['PCs'])
    survives to_zarr/from_zarr bit-exactly as a float64 varm_<name>
    member keyed by gene POSITION, not the vec_id spine."""
    af = _af(spark)
    loadings = (
        af.x.select(F.posexplode("values").alias("p0", "v"))
        .groupBy(F.col("p0").cast("bigint").alias("pos"))
        .agg(
            F.round(F.sum(F.round(F.col("v") * 1e6).cast("bigint")) / 1e6, 6).alias("c1")
        )
        .select("pos", F.array("c1", (F.col("c1") * 2)).alias("values"))
    )
    store = str(tmp_path / "varm_store")
    af.with_varm("PCs", loadings).to_zarr(store)
    back = AnnFrame.from_zarr(spark, store)
    assert set(back.varm) == {"PCs"}
    want = {int(r["pos"]): list(r["values"]) for r in loadings.collect()}
    got = {int(r["pos"]): list(r["values"]) for r in back.varm["PCs"].collect()}
    assert got == want


def test_varm_rejects_wrong_row_count(spark, tmp_path):
    """A varm member must carry one row per GENE — a cell-shaped frame
    (n_obs rows) must refuse."""
    af = _af(spark)
    wrong = af.x.select(F.col("row_id").alias("pos"), "values")
    with pytest.raises(ValueError, match="one row per cell"):
        af.with_varm("PCs", wrong).to_zarr(str(tmp_path / "bad_varm"))


def test_obsp_roundtrip_sparse_pairwise(spark, tmp_path):
    """r15: obsp (pairwise cell×cell sparse matrices — the neighbor graph
    Scanpy stores as obsp['distances']) survives to_zarr/from_zarr through
    the csr_matrix subgroup encoding, including all-zero rows."""
    af = _af(spark)
    n = af.x.count()
    # a sparse deterministic graph that leaves some rows empty
    edges = (
        af.x.select("row_id")
        .where(F.col("row_id") % 3 == 0)
        .select(
            "row_id",
            ((F.col("row_id") + 1) % F.lit(n)).alias("col"),
            (F.col("row_id").cast("double") / 100.0).alias("v"),
        )
    )
    store = str(tmp_path / "obsp_store")
    af.with_obsp("distances", edges).to_zarr(store)
    back = AnnFrame.from_zarr(spark, store)
    assert set(back.obsp) == {"distances"}
    want = {(int(r["row_id"]), int(r["col"])): r["v"] for r in edges.collect()}
    got = {
        (int(r["row_id"]), int(r["col"])): r["v"]
        for r in back.obsp["distances"].collect()
    }
    assert got == want


def test_annotation_helpers_preserve_all_components(spark, tmp_path):
    """with_* helpers must carry EVERY component through (a clone that
    drops a sibling dict silently loses data at write time)."""
    af = _af(spark)
    m = af.x.select("row_id", F.slice("values", 1, 2).alias("values"))
    lod = (
        af.x.select(F.posexplode("values").alias("p0", "v"))
        .groupBy(F.col("p0").cast("bigint").alias("pos"))
        .agg(F.round(F.sum("v"), 6).alias("c1"))
        .select("pos", F.array("c1").alias("values"))
    )
    edges = af.x.select(
        "row_id", F.col("row_id").alias("col"), F.lit(1.0).alias("v")
    ).where(F.col("row_id") < 5)
    af2 = (
        af.with_obsm("X_pca", m)
        .with_varm("PCs", lod)
        .with_obsp("connectivities", edges)
        .with_layer("counts", af.x.select("row_id", "values"))
        .with_uns("pipeline", {"v": 1})
    )
    assert set(af2.obsm) == {"X_pca"}
    assert set(af2.varm) == {"PCs"}
    assert set(af2.obsp) == {"connectivities"}
    assert set(af2.layers) == {"counts"}
    assert af2.uns == {"pipeline": {"v": 1}}
    # and the original frame is untouched (copy-on-annotate)
    assert not af.obsm and not af.varm and not af.obsp and not af.layers


def test_concat_pools_frames_with_batch_labels(spark):
    """r15: AnnFrame.concat — AnnData row-order contract (frame order,
    then row order), batch labels, orig id provenance, obs common-column
    intersection, and the equal-width guard."""
    e = load_table(spark, SF_DIR, "embeddings")
    fa = AnnFrame.from_table(e.where(F.col("vec_id") % 2 == 0))
    fb = AnnFrame.from_table(e.where(F.col("vec_id") % 2 == 1))
    cc = AnnFrame.concat([fa, fb], batch_categories=["even", "odd"])
    na = fa.x.count()
    n = na + fb.x.count()
    obs = cc.obs.orderBy("row_id").collect()
    assert [int(r["row_id"]) for r in obs] == list(range(n))
    assert all(r["batch"] == "even" for r in obs[:na])
    assert all(r["batch"] == "odd" for r in obs[na:])
    # within a batch, orig ids stay sorted (row order preserved)
    evens = [int(r["orig_row_id"]) for r in obs[:na]]
    assert evens == sorted(evens) and all(v % 2 == 0 for v in evens)
    # label is an obs column common to both frames -> survives
    assert "label" in cc.obs.columns
    # mismatched widths refuse
    narrow = AnnFrame(
        fa.x.select("row_id", F.slice("values", 1, 3).alias("values"))
    )
    with pytest.raises(ValueError, match="width"):
        AnnFrame.concat([fa, narrow])
    with pytest.raises(ValueError, match="batch_categories"):
        AnnFrame.concat([fa, fb], batch_categories=["one"])


def test_raw_snapshot_survives_subset_and_roundtrip(spark, tmp_path):
    """r15: AnnData .raw — the HVG-subset flow keeps the full-width
    matrix: adata.raw = adata, subset X, to_zarr, from_zarr recovers both
    the narrow X and the full raw (with raw's own var columns)."""
    af = _af(spark)
    raw_var = (
        af.x.select(F.explode(F.sequence(F.lit(1), F.size("values"))).alias("pos"))
        .distinct()
        .select("pos", (F.col("pos") * 10).alias("score"))
    )
    raw = AnnFrame(af.x, None, raw_var)
    main = AnnFrame(
        af.x.select("row_id", F.slice("values", 1, 4).alias("values"))
    ).with_raw(raw)
    store = str(tmp_path / "raw_store")
    main.to_zarr(store)
    back = AnnFrame.from_zarr(spark, store)
    assert back.raw is not None
    assert int(back.x.agg(F.max(F.size("values"))).collect()[0][0]) == 4
    full_w = int(af.x.agg(F.max(F.size("values"))).collect()[0][0])
    assert int(back.raw.x.agg(F.max(F.size("values"))).collect()[0][0]) == full_w
    got_var = {int(r["pos"]): int(r["score"]) for r in back.raw.var.collect()}
    assert got_var == {p: p * 10 for p in range(1, full_w + 1)}
    # X values are float32-quantized by the dense writer; raw members are
    # float64 — spot-check one row round-trips raw at full precision
    want = af.x.where(F.col("row_id") == 0).collect()[0]["values"]
    got = back.raw.x.where(F.col("row_id") == 0).collect()[0]["values"]
    assert list(got) == [float(v) for v in want]


def _x_rows(af: AnnFrame) -> dict:
    return {int(r["row_id"]): list(r["values"]) for r in af.x.collect()}


def _assert_one_grid_pass(df) -> None:
    """A dense Zarr read is one shuffle-free mapInPandas over the chunk
    grid, planned from metadata: no binaryFile listing scan."""
    from single_cell_experiments_spark.plans import inspect

    plan = inspect.executed_plan(df)
    assert inspect.exchange_count(df) == 0
    assert plan.count("MapInPandas") == 1
    assert "binaryFile" not in plan


def test_from_zarr_column_chunked_matches_row_chunked_in_one_pass(spark, tmp_path):
    """from_zarr over a column-chunked grid (edge-padded on the row axis)
    equals the row-chunked read, and both plan X as one shuffle-free
    mapInPandas over the chunk grid."""
    from single_cell_experiments_spark.sources.zarrv2 import write_zarr_group

    e = load_table(spark, SF_DIR, "embeddings").where(F.col("vec_id") < 63)
    by_rows, by_grid = str(tmp_path / "rows"), str(tmp_path / "grid")
    write_zarr_group(e, by_rows)
    write_zarr_group(e, by_grid, rows_per_chunk=2, cols_per_chunk=2)
    a, b = AnnFrame.from_zarr(spark, by_rows), AnnFrame.from_zarr(spark, by_grid)
    want = _x_rows(a)
    assert len(want) == 63
    assert _x_rows(b) == want
    for af in (a, b):
        _assert_one_grid_pass(af.x)


#: 100 rows in 32-row chunks: four row chunks, the last one edge-padded
_GRID_ROWS, _GRID_RPC = 100, 32


def _grid_store(spark, root: str, kind: str) -> str:
    """The first ``_GRID_ROWS`` embeddings as a group in ``kind``'s
    format — Zarr v3 for ``v3*`` and ``pyds_v3`` (16-row inner chunks in
    32-row shards for ``v3_sharded``), Zarr v2 otherwise, consolidated
    for ``*_consolidated`` — and the X array dir."""
    import os

    from single_cell_experiments_spark.sources.zarrv2 import (
        consolidate_metadata,
        write_zarr_group,
    )
    from single_cell_experiments_spark.sources.zarrv3 import (
        consolidate_metadata_v3,
        write_zarr_v3_group,
    )

    e = load_table(spark, SF_DIR, "embeddings").where(F.col("vec_id") < _GRID_ROWS)
    if "v3" in kind:
        shard = 16 if kind == "v3_sharded" else None
        write_zarr_v3_group(e, root, rows_per_chunk=_GRID_RPC, shard_inner_rows=shard)
        if kind.endswith("consolidated"):
            consolidate_metadata_v3(root)
    else:
        write_zarr_group(e, root, rows_per_chunk=_GRID_RPC)
        if kind.endswith("consolidated"):
            consolidate_metadata(root)
    return os.path.join(root, "X")


def _grid_read(spark, x_dir: str, kind: str):
    """X of ``_grid_store`` through the reader ``kind`` names."""
    import os

    from single_cell_experiments_spark.sources import zarrv2, zarrv3
    from single_cell_experiments_spark.sources.pyds import read_zarr_pyds

    group = os.path.dirname(x_dir)
    return {
        "v2": lambda: zarrv2.read_zarr_matrix(spark, x_dir),
        "v2_consolidated": lambda: zarrv2.read_zarr_matrix_consolidated(spark, group),
        "v3": lambda: zarrv3.read_zarr_v3_matrix(spark, x_dir),
        "v3_sharded": lambda: zarrv3.read_zarr_v3_matrix(spark, x_dir),
        "v3_consolidated": lambda: zarrv3.read_zarr_v3_matrix_consolidated(spark, group),
        "pyds": lambda: read_zarr_pyds(spark, x_dir),
        "pyds_v3": lambda: read_zarr_pyds(spark, x_dir),
    }[kind]()


def _slice_rows(df) -> dict:
    return {int(r["row"]): list(r["values"]) for r in df.collect()}


@pytest.mark.parametrize("kind", ["v2", "v3", "v3_sharded", "v2_consolidated", "v3_consolidated"])
def test_dense_zarr_readers_plan_one_grid_pass_in_one_job(spark, tmp_path, kind):
    """Every dense Zarr reader is the chunkgrid read plan: one
    shuffle-free mapInPandas with no listing scan, one Spark job."""
    from tests.conftest import count_jobs

    x_dir = _grid_store(spark, str(tmp_path / kind), kind)
    df = _grid_read(spark, x_dir, kind)
    assert count_jobs(spark, df.collect) == 1
    _assert_one_grid_pass(df)
    assert len(_slice_rows(df)) == _GRID_ROWS


@pytest.mark.parametrize("kind", ["v2", "v3", "v3_sharded", "pyds", "pyds_v3"])
def test_dense_zarr_readers_ignore_files_outside_the_grid(spark, tmp_path, kind):
    """A file in the array directory that is not a chunk of the grid —
    the sce_zarr sink's temp name ``1.0.__tmp__1`` (it matches a ``[0-9]*``
    glob) or a stray ``notes.txt`` — is never opened: all rows read back."""
    import os

    x_dir = _grid_store(spark, str(tmp_path / kind), kind)
    want = _slice_rows(_grid_read(spark, x_dir, kind))
    for name in ("1.0.__tmp__1", "notes.txt"):
        with open(os.path.join(x_dir, name), "wb") as fh:
            fh.write(b"not a chunk")
    got = _slice_rows(_grid_read(spark, x_dir, kind))
    assert len(got) == _GRID_ROWS
    assert got == want


@pytest.mark.parametrize(
    "kind", ["from_zarr", "v2", "v3", "v3_sharded", "v3_sharded_inner", "pyds"]
)
def test_from_zarr_reads_missing_chunk_as_fill_value(spark, tmp_path, kind):
    """Every dense Zarr reader: a chunk object absent from the store reads
    as the array's fill_value (zarr-python omits all-fill chunks) — the
    rows stay, filled; an array declaring fill_value null cannot be
    filled and refuses, also when only an inner chunk of a shard is
    absent (``v3_sharded_inner``)."""
    import json
    import os

    if kind == "v3_sharded_inner":
        # rows 96..99 of the last 32-row shard: its second 16-row inner
        # chunk lies past the array and is absent from the shard
        x_dir = _grid_store(spark, str(tmp_path / kind), "v3_sharded")
        doc = os.path.join(x_dir, "zarr.json")
        with open(doc) as fh:
            meta = json.load(fh)
        with open(doc, "w") as fh:
            json.dump({**meta, "fill_value": None}, fh)
        with pytest.raises(ValueError, match="fill_value null"):
            _grid_read(spark, x_dir, "v3_sharded").collect()
        return
    if kind != "from_zarr":
        x_dir = _grid_store(spark, str(tmp_path / kind), kind)
        want = _slice_rows(_grid_read(spark, x_dir, kind))
        v3 = kind.startswith("v3")
        os.remove(os.path.join(x_dir, "c/1/0" if v3 else "1.0"))
        got = _slice_rows(_grid_read(spark, x_dir, kind))
        assert len(got) == len(want) == _GRID_ROWS
        filled = range(_GRID_RPC, 2 * _GRID_RPC)
        assert all(got[r] == [0.0] * len(want[r]) for r in filled)
        assert all(got[r] == want[r] for r in want if r not in filled)
        doc = os.path.join(x_dir, "zarr.json" if v3 else ".zarray")
        with open(doc) as fh:
            meta = json.load(fh)
        with open(doc, "w") as fh:
            json.dump({**meta, "fill_value": None}, fh)
        with pytest.raises(Exception, match="fill_value null"):
            _grid_read(spark, x_dir, kind).collect()
        return

    af = _af(spark)
    store = str(tmp_path / "grp")
    af.to_zarr(store)
    want = _x_rows(AnnFrame.from_zarr(spark, store))
    os.remove(os.path.join(store, "X", "1.0"))
    got = _x_rows(AnnFrame.from_zarr(spark, store))
    assert len(got) == len(want) == af.n_obs
    for r in range(64, 128):
        assert got[r] == [0.0] * len(want[r])
    assert all(got[r] == want[r] for r in want if not 64 <= r < 128)

    strs = AnnFrame.from_table(
        load_table(spark, SF_DIR, "embeddings").select(
            "vec_id", "embedding", F.col("vec_id").cast("string").alias("name")
        )
    )
    store2 = str(tmp_path / "grp_str")
    strs.to_zarr(store2)
    os.remove(os.path.join(store2, "obs_name", "0"))
    with pytest.raises(Exception, match="fill_value null"):
        AnnFrame.from_zarr(spark, store2).obs.collect()


def test_from_zarr_rejects_annotation_length_mismatch(spark, tmp_path):
    """An obs_*/var_* member whose length disagrees with X's row/gene count
    raises naming the member, instead of silently dropping rows."""
    import json
    import os

    af = _af(spark).filter_genes(min_cells=1, expr_threshold=0.1).reindex()
    for member in ("obs_label", "var_n_cells"):
        store = str(tmp_path / member)
        af.to_zarr(store)
        zpath = os.path.join(store, member, ".zarray")
        with open(zpath) as fh:
            meta = json.load(fh)
        meta["shape"] = [meta["shape"][0] - 1]
        with open(zpath, "w") as fh:
            json.dump(meta, fh)
        with pytest.raises(ValueError, match=member):
            AnnFrame.from_zarr(spark, store)
