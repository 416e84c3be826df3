#!/usr/bin/env python
"""Scale-stress measurement: run headline queries at a multiple of the
bench scale factor, against synthetic data DERIVED from the driver tables
(never touching /root/testdata), under the engine's cluster posture
(AQE on — not the small-SF bench sizing), with DuckDB timed on the same
files as the control.

    python tools/scale_stress.py [multiplier]   # default 20 (~sf2)

The synthesis unions K key-shifted copies of sf0.1's lineitem / orders /
events, keeping keys unique (rank windows and distinct counts stay
honest) while value distributions repeat.  Queries run through the SAME
registry builders the driver checks — this measures the verified code at
20× the verified scale, where per-job dispatch floors amortize away and
the data path dominates: the regime BENCH_r*.json's caveats point to.
Results land in SCALE.md §5.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import DUCKDB_SQL  # noqa: E402

QUERIES = ("q1_pricing_summary", "window_rank", "distinct_users_daily",
           "tumbling_window_events")
#: r9 additions the r9 verdict flagged as stress-untested (#6): two
#: event-sequence windows plus the Σ(df²)-bounded all-pairs cosine.
R9_QUERIES = ("ewma_user_value", "event_type_transitions",
              "sparse_cosine_pairs_tfidf")
#: r10 additions, SPLIT in r11: the gap-fill grid/window pair (events)
#: runs at the full multiplier; the k-core peel over the near-dup graph
#: runs under its own ``--r10k`` flag at a smaller default — the r11 20×
#: attempt measured the LSH candidate bound at 770M pairs (2,400× the 1×
#: bound; copy-invariant punctuation shingles merge buckets across
#: copies — see dedup.LSH_BUCKET_CAP, added from that finding), and even
#: capped (12.3M pairs) the 3-timed-run × 8-peel-round pipeline plus the
#: 20×-unrolled DuckDB oracle is an hours-scale measurement; k=5 bounds
#: the same regime (the --r10c precedent).
R10_QUERIES = ("gap_fill_user_hourly", "gap_fill_user_linear")
R10K_QUERIES = ("dedup_kcore",)
#: second r10 batch: the sketch rollups (orders), the bucket-grid interval
#: join (events — user count grows with k so per-day pair work grows k²:
#: the measurement bounds the Σ(cell²) regime, not linear corpus growth),
#: and the surprisal score (documents, disjoint vocab ⇒ linear).
R10B_QUERIES = ("bitmap_exact_distinct_customers", "hll_sketch_rollup_customers",
                "doc_surprisal_score")
#: the interval join runs at a SMALLER deliberate multiplier (--r10c):
#: event copies multiply USERS, so per-day pair work grows k² by
#: construction — k=5 (25× pair work) bounds the quadratic regime without
#: an hour-long 400× run; linear corpus growth (same users, more days)
#: would keep per-day work flat, which synthesize() can't express.
R10C_QUERIES = ("interval_overlap_pairs",)
#: r11 batch: the SCD2 point-in-time containment join and the stream-
#: LEFT-OUTER batch equivalent, both over events (key-shifted copies
#: multiply users; per-user version/band counts stay constant, so the
#: PIT join and the band join grow linearly — the claimed scale shape).
R11_QUERIES = ("scd2_point_in_time_purchases", "stream_left_join_unattributed")
#: r12 depth batch: CMS build stays a ≤2048-group agg however large the
#: stream (the claim under test); bigram-LM model tables grow with the
#: OBSERVED bigram set (disjoint-vocab copies → linear); RRF cost lives
#: in its two bounded rankers; interval coalesce is one user-keyed window
#: pass over k× events.
R12B_QUERIES = (
    "cms_word_freq",
    "doc_bigram_lm_score",
    "hybrid_rank_rrf",
    "events_interval_coalesce",
    "twap_user_daily",
    "collocations_lift",
)
TABLES = ("lineitem", "orders", "events")
R9_TABLES = ("events", "documents")
R10B_TABLES = ("events", "documents", "orders")


def synthesize(spark, src_dir: str, out_dir: str, k: int,
               tables: tuple[str, ...] = TABLES) -> None:
    from pyspark.sql import functions as F

    os.makedirs(out_dir, exist_ok=True)
    shifts = {
        # key columns that must stay UNIQUE across copies (shift by copy
        # index × a power of ten above the sf0.1 max)
        "lineitem": {"l_orderkey": 10_000_000},
        "orders": {"o_orderkey": 10_000_000, "o_custkey": 1_000_000},
        "events": {"event_id": 100_000_000, "user_id": 100_000},
        "documents": {"doc_id": 1_000_000},
    }
    for t in tables:
        dst = os.path.join(out_dir, f"{t}.parquet")
        if os.path.exists(dst):
            continue
        df = spark.read.parquet(os.path.join(src_dir, f"{t}.parquet"))
        copies = spark.range(k).withColumnRenamed("id", "__copy")
        wide = df.crossJoin(copies)
        for col, step in shifts[t].items():
            wide = wide.withColumn(col, F.col(col) + F.col("__copy") * step)
        if t == "documents":
            # the text analogue of key-shifting: suffix every token with
            # the copy index so each copy owns a DISJOINT vocabulary —
            # per-term df and the Σ(df²) pair bound scale linearly in k
            # (verbatim copies would scale df² by k², measuring a
            # duplication regime, not corpus growth; that regime is the
            # --dupes run below).
            wide = wide.withColumn(
                "text",
                F.expr(
                    r"regexp_replace(text, '([\\p{L}\\p{N}]+)',"
                    r" concat('$1x', CAST(__copy AS STRING)))"
                ),
            )
        # Write a MULTI-FILE layout: the sf0.1 sources are single-row-group
        # files, so the crossJoin inherits ~1 partition and the k× table
        # would land as ONE parquet split — every downstream scan (and the
        # token-suffix regexp above) then runs as a single task, which is
        # neither how a real k×-sized corpus is laid out nor a measurable
        # regime (r11: the dedup_kcore 20× warm run sat in one 110-minute
        # shingle task).  32 files ≈ the engine's local parallelism; DuckDB
        # reads the same glob.
        wide.repartition(32).drop("__copy").write.mode("overwrite").parquet(dst)


def communities_stress(spark, src_dir: str, out_dir: str, k: int) -> dict:
    """Opt-in (``--communities``): the graph pipeline at k× embeddings —
    IVF coarse assignment → bucket-restricted kNN edges → symmetrize →
    synchronous LPA to fixpoint.  Exact kNN is O(n²) and deliberately NOT
    run here (k×2000 rows → billions of pairs); the IVF candidate
    generator is the documented scale path and this measures exactly it,
    plus the per-round LPA join/window loop, at a size where the work —
    not the dispatch floor — dominates.  Embedding copies are key-shifted
    like the fact tables; vectors repeat, which only densifies buckets
    (the hard direction for Σ(cell²) work).
    """
    import math

    from pyspark.sql import functions as F

    from single_cell_experiments_spark.operators.singlecell import (
        SC_IVF_FINE_BITS,
        lpa_labels,
        sc_ivf_cells_fine,
        sc_neighbor_edges,
    )

    dst = os.path.join(out_dir, "embeddings.parquet")
    if not os.path.exists(dst):
        df = spark.read.parquet(os.path.join(src_dir, "embeddings.parquet"))
        copies = spark.range(k).withColumnRenamed("id", "__copy")
        wide = df.crossJoin(copies).withColumn(
            "vec_id", F.col("vec_id") + F.col("__copy") * 1_000_000
        )
        wide.repartition(32).drop("__copy").write.mode("overwrite").parquet(dst)

    # nlist ∝ √n (SCALE.md §9): split the 10 label cells with enough sign
    # bits that cell count ≈ √n — the geometric fix the 20× run showed a
    # FIXED 10-cell codebook needs (160M scored pairs at 40k rows).
    n_rows = spark.read.parquet(dst).count()
    bits = max(
        SC_IVF_FINE_BITS, min(8, math.ceil(math.log2(max(1.0, (n_rows**0.5) / 10))))
    )
    t0 = time.perf_counter()
    cells = sc_ivf_cells_fine(spark, out_dir, bits=bits)
    cells.count()
    t_index = time.perf_counter() - t0
    n_cells = cells.select("cell").distinct().count()

    t0 = time.perf_counter()
    knn = sc_neighbor_edges(spark, out_dir, cells=cells).select("vec_id", "nbr")
    sym = (
        knn.select(F.col("vec_id").alias("src"), F.col("nbr").alias("dst"))
        .union(knn.select(F.col("nbr").alias("src"), F.col("vec_id").alias("dst")))
        .union(knn.select(F.col("vec_id").alias("src"), F.col("vec_id").alias("dst")))
        .distinct()
    )
    from single_cell_experiments_spark.session import materialize

    edges = materialize(sym)
    n_edges = edges.count()
    t_edges = time.perf_counter() - t0

    t0 = time.perf_counter()
    lpa_stats: dict = {}
    labels = lpa_labels(edges, max_rounds=10, stats=lpa_stats)
    n_nodes = labels.count()
    n_comm = labels.select("lbl").distinct().count()
    t_lpa = time.perf_counter() - t0

    return {
        "quantizer_bits": bits,
        "quantizer_cells": n_cells,
        "nodes": n_nodes,
        "edges": n_edges,
        "communities": n_comm,
        "lpa_rounds": lpa_stats["rounds"],
        "lpa_converged": lpa_stats["converged"],
        "ivf_index_sec": round(t_index, 3),
        "knn_edges_sec": round(t_edges, 3),
        "lpa_sec": round(t_lpa, 3),
        "lpa_sec_per_round": round(t_lpa / max(1, lpa_stats["rounds"]), 3),
    }


def louvain2_stress(spark, src_dir: str, out_dir: str, k: int) -> dict:
    """Opt-in (``--louvain2``): the two-level Louvain at k× embeddings —
    verifies the 'level 1 dominates' scale claim by TIMING THE LEVELS
    SEPARATELY: IVF kNN edges (the shared input, same √n-bits quantizer
    scaling as ``communities_stress``; exact kNN is O(n²) and deliberately
    not run at this size), level-1 γ=1 phase-1 over the corpus-sized
    graph, then the coarsen + weighted-phase-1 level 2 over the
    O(communities) supergraph.  The claim holds iff t_level2 ≪ t_level1.
    """
    import math

    from pyspark.sql import functions as F

    from single_cell_experiments_spark.operators.singlecell import (
        SC_IVF_FINE_BITS,
        SC_MODULARITY_ROUNDS,
        louvain_coarsen,
        louvain_phase1_labels,
        sc_ivf_cells_fine,
        sc_neighbor_edges,
    )
    from single_cell_experiments_spark.session import materialize

    dst = os.path.join(out_dir, "embeddings.parquet")
    if not os.path.exists(dst):
        df = spark.read.parquet(os.path.join(src_dir, "embeddings.parquet"))
        copies = spark.range(k).withColumnRenamed("id", "__copy")
        wide = df.crossJoin(copies).withColumn(
            "vec_id", F.col("vec_id") + F.col("__copy") * 1_000_000
        )
        wide.repartition(32).drop("__copy").write.mode("overwrite").parquet(dst)

    n_rows = spark.read.parquet(dst).count()
    bits = max(
        SC_IVF_FINE_BITS, min(8, math.ceil(math.log2(max(1.0, (n_rows**0.5) / 10))))
    )
    t0 = time.perf_counter()
    cells = sc_ivf_cells_fine(spark, out_dir, bits=bits)
    knn = sc_neighbor_edges(spark, out_dir, cells=cells).select("vec_id", "nbr")
    sym = materialize(
        knn.select(F.col("vec_id").alias("src"), F.col("nbr").alias("dst"))
        .union(knn.select(F.col("nbr").alias("src"), F.col("vec_id").alias("dst")))
        .distinct()
    )
    n_edges = sym.count()
    t_edges = time.perf_counter() - t0

    l1_stats: dict = {}
    t0 = time.perf_counter()
    lv1 = materialize(
        louvain_phase1_labels(sym, SC_MODULARITY_ROUNDS, stats=l1_stats)
    )
    n_l1 = lv1.select("lbl").distinct().count()
    t_l1 = time.perf_counter() - t0

    t0 = time.perf_counter()
    sw, smass = louvain_coarsen(sym, lv1)
    l2_stats: dict = {}
    lv2 = louvain_phase1_labels(
        sw, SC_MODULARITY_ROUNDS, stats=l2_stats, selfmass=smass
    )
    n_l2 = lv2.select("lbl").distinct().count()
    t_l2 = time.perf_counter() - t0

    return {
        "nodes": n_rows,
        "quantizer_bits": bits,
        "sym_edges": n_edges,
        "level1_communities": n_l1,
        "level2_communities": n_l2,
        "level1_rounds": l1_stats["rounds"],
        "level2_rounds": l2_stats["rounds"],
        "knn_edges_sec": round(t_edges, 3),
        "level1_sec": round(t_l1, 3),
        "level2_sec": round(t_l2, 3),
        "level2_over_level1": round(t_l2 / max(t_l1, 1e-9), 3),
    }


def _reset(spark) -> None:
    """Between-run resource reset (the driver_mimic mitigation): the peel/
    fixpoint queries localCheckpoint every round, and accumulated blocks
    eventually evict a large indirect task result before the driver
    fetches it — observed r11 as a silent scheduler wedge (32 tasks
    'running', zero executor threads) twice, ~350-550 stages into a
    stress JVM.  Drop caches and GC both sides so every sample starts
    from an independent resource posture."""
    import gc

    from single_cell_experiments_spark import registry as _reg

    spark.catalog.clearCache()
    _reg._plan_cache.pop(spark, None)
    gc.collect()
    spark._jvm.System.gc()


def r9_stress(args: list[str]) -> int:
    """``--r9 [k]``: the r9 additions at k× (disjoint-vocabulary document
    copies + key-shifted events), DuckDB control from each query's own
    registry oracle.  ``--dupes [k]``: sparse_cosine_pairs_tfidf on
    VERBATIM document copies — the duplication regime where per-term df
    scales by k and the Σ(df²) pair bound by k² (kept to small k on
    purpose: the measurement IS the quadratic blow-up)."""
    import duckdb

    from single_cell_experiments_spark.registry import REGISTRY, fresh_fn
    from single_cell_experiments_spark.session import get_spark

    dupes = "--dupes" in sys.argv
    r10 = "--r10" in sys.argv
    r10b = "--r10b" in sys.argv
    r10c = "--r10c" in sys.argv
    r10k = "--r10k" in sys.argv
    r11 = "--r11" in sys.argv
    r12b = "--r12b" in sys.argv
    k = int(args[0]) if args else (3 if dupes else (5 if r10k else 20))
    src = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # Speculation re-launches a straggler whose (indirect) result the
    # block manager silently dropped — the r11 wedge class: a long stress
    # JVM ends up with N tasks 'running', zero executor threads, and a
    # scheduler waiting forever on results that will never arrive.  On a
    # real cluster speculation is standard posture anyway; the engine's
    # writers are attempt-retry-safe (pyds two-phase commit).
    spark = get_spark(app_name="sce-r9-stress", extra_confs={
        "spark.speculation": "true",
        "spark.speculation.interval": "5s",
        "spark.speculation.multiplier": "4",
        "spark.speculation.quantile": "0.75",
    })

    if dupes:
        out = f"/tmp/sce_stress_dupes_x{k}"
        os.makedirs(out, exist_ok=True)
        dst = os.path.join(out, "documents.parquet")
        if not os.path.exists(dst):
            from pyspark.sql import functions as F

            df = spark.read.parquet(os.path.join(src, "documents.parquet"))
            copies = spark.range(k).withColumnRenamed("id", "__copy")
            wide = df.crossJoin(copies).withColumn(
                "doc_id", F.col("doc_id") + F.col("__copy") * 1_000_000
            )
            wide.repartition(32).drop("__copy").write.mode("overwrite").parquet(dst)
        names = ("sparse_cosine_pairs_tfidf",)
        tables = ("documents",)
    elif r10b:
        out = f"/tmp/sce_stress_r10b_x{k}"
        synthesize(spark, src, out, k, tables=R10B_TABLES)
        names = R10B_QUERIES
        tables = R10B_TABLES
    elif r10c:
        out = f"/tmp/sce_stress_r10c_x{k}"
        synthesize(spark, src, out, k, tables=("events",))
        names = R10C_QUERIES
        tables = ("events",)
    elif r11:
        out = f"/tmp/sce_stress_r11_x{k}"
        synthesize(spark, src, out, k, tables=("events",))
        names = R11_QUERIES
        tables = ("events",)
    elif r12b:
        out = f"/tmp/sce_stress_r12b_x{k}"
        synthesize(spark, src, out, k, tables=R9_TABLES)
        names = R12B_QUERIES
        tables = R9_TABLES
    elif r10k:
        out = f"/tmp/sce_stress_r10k_x{k}"
        synthesize(spark, src, out, k, tables=("documents",))
        names = R10K_QUERIES
        tables = ("documents",)
    elif r10:
        out = f"/tmp/sce_stress_r9_x{k}"
        synthesize(spark, src, out, k, tables=R9_TABLES)
        names = R10_QUERIES
        tables = R9_TABLES
    else:
        out = f"/tmp/sce_stress_r9_x{k}"
        synthesize(spark, src, out, k, tables=R9_TABLES)
        names = R9_QUERIES
        tables = R9_TABLES

    sizes = {
        t: round(sum(os.path.getsize(os.path.join(out, f"{t}.parquet", f))
                     for f in os.listdir(os.path.join(out, f"{t}.parquet"))
                     if f.endswith(".parquet")) / 1e6, 1)
        for t in tables
    }
    fns = {n: fresh_fn(n) for n in names}
    for n in names:  # warm
        fns[n](spark, out).toPandas()
        _reset(spark)
    spark_t: dict[str, float] = {}
    rows: dict[str, int] = {}
    for n in names:
        ts = []
        for _ in range(3):
            t0 = time.perf_counter()
            pdf = fns[n](spark, out).toPandas()
            ts.append(time.perf_counter() - t0)
            _reset(spark)
        spark_t[n] = round(statistics.median(ts), 3)
        rows[n] = len(pdf)

    ddb = duckdb.connect()
    ddb.execute(f"SET threads TO {os.environ.get('SPARK_GRAFT_CPUS', '32')}")
    for t in tables:
        ddb.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{out}/{t}.parquet/*.parquet')"
        )
    ddb_t: dict[str, float] = {}
    for n in names:
        sql = REGISTRY[n].oracle
        ddb.sql(sql).df()  # warm
        ts = []
        for _ in range(3):
            t0 = time.perf_counter()
            ddb.sql(sql).df()
            ts.append(time.perf_counter() - t0)
        ddb_t[n] = round(statistics.median(ts), 3)

    print(json.dumps({
        "mode": ("dupes" if dupes else "r12b" if r12b else "r11" if r11 else "r10k" if r10k else "r10c" if r10c else "r10b" if r10b else "r10" if r10 else "r9"),
        "multiplier": k,
        "table_mb": sizes,
        "spark_sec": spark_t,
        "duckdb_sec": ddb_t,
        "rows": rows,
    }))
    return 0


def lshcap_stress(args: list[str]) -> int:
    """``--lshcap [k]``: measure the TRUE-PAIR recall loss of
    ``dedup.LSH_BUCKET_CAP`` at k× documents (r11 verdict #2) — the same
    disjoint-vocab synthetic corpus whose 20× run produced the 770M
    uncapped candidate bound and motivated the cap.

    Ground truth is enumerated, not discovered: (a) LINEAGE pairs — the
    k synthesized copies of each base doc (doc_id ≡ base mod 1e6), the
    degenerate near-identical regime that filled the over-cap buckets;
    (b) copy-replicated BASE near-dup pairs — the 1× registered
    ``dedup_minhash_lsh`` output shifted into every copy.  Every
    enumerated pair is then EXACT-Jaccard-verified on the k× corpus
    (shingle-set intersection), so "true pair" means J ≥ threshold by
    recomputation, never by sketch.  For each true pair we test (1) does
    ANY of its 3 band buckets collide (uncapped LSH recall) and (2) does
    any collide in a bucket of size ≤ cap (capped recall) — the gap is
    the cap's measured loss.  Limitation: pairs outside (a)∪(b) are not
    enumerated; the cap's loss on them is bounded by the same per-band
    geometry but not measured here.
    """
    from single_cell_experiments_spark.operators.dedup import (
        _BAND_SIGS,
        _BAND_SIGS_HIRECALL,
        _MH_AGGS,
        _SPARK_SHINGLES,
        LSH_BUCKET_CAP,
        MINHASH_JACCARD_MIN,
    )
    from single_cell_experiments_spark.registry import fresh_fn
    from single_cell_experiments_spark.session import get_spark

    hirecall = "--hirecall" in sys.argv
    band_sigs = _BAND_SIGS_HIRECALL if hirecall else _BAND_SIGS
    k = int(args[0]) if args else 20
    cap = int(args[1]) if len(args) > 1 else LSH_BUCKET_CAP
    src = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out = f"/tmp/sce_stress_r10k_x{k}"  # reuse the kcore/cap-bound corpus
    spark = get_spark(app_name="sce-lshcap-stress", extra_confs={
        "spark.speculation": "true",
        "spark.speculation.interval": "5s",
        "spark.speculation.multiplier": "4",
        "spark.speculation.quantile": "0.75",
    })
    synthesize(spark, src, out, k, tables=("documents",))
    t0 = time.perf_counter()

    # 1× base near-dup pairs FIRST and eagerly: the registry fn rebinds the
    # __docs view to the 1× table, and temp-view references in later
    # spark.sql() calls resolve at sql() time — materialize before the 20×
    # corpus claims the view name (first run of this measurement silently
    # emptied the lineage arm through exactly that collision).
    bp_path = os.path.join(out, "_lshcap_base_pairs.parquet")
    if not os.path.exists(bp_path):
        fresh_fn("dedup_minhash_lsh")(spark, src).select("doc1", "doc2").write.parquet(bp_path)
    spark.read.parquet(bp_path).createOrReplaceTempView("base_pairs")

    docs = spark.read.parquet(os.path.join(out, "documents.parquet"))
    docs.createOrReplaceTempView("__docs")

    # shingles + band signatures, materialized once (reused 3×)
    shing = os.path.join(out, "_lshcap_shingles.parquet")
    if not os.path.exists(shing):
        spark.sql(
            f"SELECT DISTINCT doc_id, h FROM ({_SPARK_SHINGLES})"
        ).write.parquet(shing)
    spark.read.parquet(shing).createOrReplaceTempView("shingles")
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, {sig} AS sig FROM sigs"
        for b, sig in enumerate(band_sigs)
    )
    spark.sql(
        f"WITH sigs AS (SELECT doc_id, {_MH_AGGS} FROM shingles GROUP BY doc_id) "
        f"SELECT * FROM ({band_rows})"
    ).createOrReplaceTempView("bands")
    spark.sql(
        "SELECT band, sig, COUNT(*) AS n FROM bands GROUP BY band, sig"
    ).cache().createOrReplaceTempView("buckets")

    # truth enumeration: lineage pairs + copy-replicated 1× near-dup pairs
    spark.sql(
        f"""
        SELECT a.doc_id AS d1, b.doc_id AS d2, 'lineage' AS kind
        FROM __docs a JOIN __docs b
          ON a.doc_id % 1000000 = b.doc_id % 1000000 AND a.doc_id < b.doc_id
        UNION ALL
        SELECT p.doc1 + c.id * 1000000, p.doc2 + c.id * 1000000, 'base_neardup'
        FROM base_pairs p CROSS JOIN range({k}) c
        """
    ).createOrReplaceTempView("pairs")

    verdicts = spark.sql(
        f"""
        WITH sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
        inter AS (
          SELECT p.d1, p.d2, COUNT(*) AS i
          FROM pairs p
          JOIN shingles s1 ON s1.doc_id = p.d1
          JOIN shingles s2 ON s2.doc_id = p.d2 AND s2.h = s1.h
          GROUP BY p.d1, p.d2
        ),
        coll AS (
          SELECT p.d1, p.d2,
                 MAX(CASE WHEN b1.sig = b2.sig THEN 1 ELSE 0 END) AS collides,
                 MAX(CASE WHEN b1.sig = b2.sig AND bu.n <= {cap} THEN 1 ELSE 0 END)
                   AS admitted
          FROM pairs p
          JOIN bands b1 ON b1.doc_id = p.d1
          JOIN bands b2 ON b2.doc_id = p.d2 AND b2.band = b1.band
          JOIN buckets bu ON bu.band = b1.band AND bu.sig = b1.sig
          GROUP BY p.d1, p.d2
        ),
        -- star salvage (dedup._lsh_star_sql semantics): over-cap buckets
        -- emit exemplar->member edges; a pair is CLUSTER-RECOVERED if it
        -- shares an over-cap bucket whose exemplar both endpoints
        -- Jaccard-verify against (lower bound: multi-hop CC paths through
        -- capped pairs are not counted).
        over_b AS (
          SELECT band, sig, MIN(doc_id) AS ex
          FROM bands GROUP BY band, sig HAVING COUNT(*) > {cap}
        ),
        om AS (
          SELECT b.doc_id, o.band, o.sig, o.ex
          FROM bands b JOIN over_b o ON o.band = b.band AND o.sig = b.sig
        ),
        star_edges AS (SELECT DISTINCT doc_id, ex FROM om WHERE doc_id <> ex),
        star_ok AS (
          SELECT e.doc_id, e.ex
          FROM star_edges e
          JOIN (SELECT e2.doc_id, e2.ex, COUNT(*) AS i
                FROM star_edges e2
                JOIN shingles s1 ON s1.doc_id = e2.doc_id
                JOIN shingles s2 ON s2.doc_id = e2.ex AND s2.h = s1.h
                GROUP BY e2.doc_id, e2.ex) v
            ON v.doc_id = e.doc_id AND v.ex = e.ex
          JOIN sizes z1 ON z1.doc_id = e.doc_id
          JOIN sizes z2 ON z2.doc_id = e.ex
          WHERE CAST(v.i AS DOUBLE) / (z1.n + z2.n - v.i) >= {MINHASH_JACCARD_MIN}
        ),
        starrec AS (
          SELECT p.d1, p.d2,
                 MAX(CASE WHEN (m1.doc_id = m1.ex OR s1.doc_id IS NOT NULL)
                           AND (m2.doc_id = m2.ex OR s2.doc_id IS NOT NULL)
                          THEN 1 ELSE 0 END) AS star_recovered
          FROM pairs p
          JOIN om m1 ON m1.doc_id = p.d1
          JOIN om m2 ON m2.doc_id = p.d2 AND m2.band = m1.band AND m2.sig = m1.sig
          LEFT JOIN star_ok s1 ON s1.doc_id = p.d1 AND s1.ex = m1.ex
          LEFT JOIN star_ok s2 ON s2.doc_id = p.d2 AND s2.ex = m2.ex
          GROUP BY p.d1, p.d2
        )
        SELECT p.kind,
               CAST(COALESCE(i.i, 0) AS DOUBLE)
                 / (z1.n + z2.n - COALESCE(i.i, 0)) >= {MINHASH_JACCARD_MIN} AS is_true,
               c.collides, c.admitted,
               GREATEST(c.admitted, COALESCE(sr.star_recovered, 0)) AS recovered,
               COUNT(*) AS cnt
        FROM pairs p
        JOIN coll c ON c.d1 = p.d1 AND c.d2 = p.d2
        LEFT JOIN inter i ON i.d1 = p.d1 AND i.d2 = p.d2
        LEFT JOIN starrec sr ON sr.d1 = p.d1 AND sr.d2 = p.d2
        JOIN sizes z1 ON z1.doc_id = p.d1
        JOIN sizes z2 ON z2.doc_id = p.d2
        GROUP BY 1, 2, 3, 4, 5
        """
    ).toPandas()
    bstats = spark.sql(
        f"""SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets,
                  CAST(SUM(CASE WHEN n > {cap} THEN 1 ELSE 0 END) AS BIGINT) AS n_over_cap,
                  CAST(MAX(n) AS BIGINT) AS max_bucket,
                  CAST(SUM(CASE WHEN n <= {cap} THEN n*(n-1) div 2 ELSE 0 END) AS BIGINT)
                    AS admitted_pair_bound,
                  CAST(SUM(n*(n-1) div 2) AS BIGINT) AS total_pair_bound
           FROM buckets"""
    ).toPandas().iloc[0]
    wall = round(time.perf_counter() - t0, 1)

    def _agg(df):
        true = df[df["is_true"]]
        n_true = int(true["cnt"].sum())
        coll = int(true[true["collides"] == 1]["cnt"].sum())
        adm = int(true[true["admitted"] == 1]["cnt"].sum())
        rec = int(true[true["recovered"] == 1]["cnt"].sum())
        return {
            "n_pairs": int(df["cnt"].sum()),
            "n_true": n_true,
            "true_lsh_colliding": coll,
            "true_cap_admitted": adm,
            "true_star_recovered": rec,
            "uncapped_recall": round(coll / n_true, 6) if n_true else None,
            "capped_recall": round(adm / n_true, 6) if n_true else None,
            "star_recall_lb": round(rec / n_true, 6) if n_true else None,
            "cap_loss_of_colliding": round((coll - adm) / coll, 6) if coll else None,
            "star_loss_of_colliding": round((coll - rec) / coll, 6) if coll else None,
        }

    result = {
        "mode": "lshcap-hirecall" if hirecall else "lshcap",
        "multiplier": k,
        "cap": cap,
        "jaccard_min": MINHASH_JACCARD_MIN,
        "overall": _agg(verdicts),
        "by_kind": {kind: _agg(g) for kind, g in verdicts.groupby("kind")},
        "buckets": {s: int(bstats[s]) for s in bstats.index},
        "wall_sec": wall,
    }
    print(json.dumps(result))
    return 0


def _ui_totals(spark) -> dict:
    """Cumulative stage totals from the app's own UI REST API (the public
    surface for shuffle telemetry; py4j overloads on AppStatusStore don't
    resolve).  Caller diffs two snapshots around the measured region."""
    import json as _json
    import urllib.request

    ui = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    stages = _json.load(
        urllib.request.urlopen(f"{ui}/api/v1/applications/{app}/stages?status=complete")
    )
    return {
        "stages": len(stages),
        "tasks": sum(s.get("numCompleteTasks", 0) for s in stages),
        "input_mb": round(sum(s.get("inputBytes", 0) for s in stages) / 1e6, 1),
        "shuffle_write_mb": round(
            sum(s.get("shuffleWriteBytes", 0) for s in stages) / 1e6, 1
        ),
        "shuffle_read_mb": round(
            sum(s.get("shuffleReadBytes", 0) for s in stages) / 1e6, 1
        ),
    }


def _ui_diff(a: dict, b: dict) -> dict:
    return {k: round(b[k] - a[k], 1) for k in a}


def r13_zarr_stress(args: list[str]) -> int:
    """``--r13zarr [k]`` (default 100): the v3 SHARDED connector at 100×
    embeddings (r12 verdict #3 — the brief's design point, not the 20×
    the earlier sections measured).  Key-shifted DENSE re-ids (the v3
    writer's positional contract), one object per 64-row shard with
    16-row inner chunks through bytes→blosc→crc32c, read back through
    ``spark.read.format("sce_zarr")``.  Integrity is exact: COO row count
    must be n·d and the BIGINT micro-sum of round(v, 6) must equal the
    same reduction over the source parquet.  Telemetry: wall per phase,
    store object census, and REST-scraped shuffle/input bytes — the
    numbers that show the plan shape is flat (no hidden quadratic)."""
    import glob

    from pyspark.sql import functions as F

    from single_cell_experiments_spark.session import get_spark
    from single_cell_experiments_spark.sources.pyds import read_zarr_group_coo
    from single_cell_experiments_spark.sources.zarrv3 import write_zarr_v3_group

    k = int(args[0]) if args else 100
    src = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out = f"/tmp/sce_stress_r13z_x{k}"
    spark = get_spark(
        app_name="sce-r13-zarr-stress", extra_confs={"spark.ui.enabled": "true"}
    )
    dst = os.path.join(out, "embeddings.parquet")
    if not os.path.exists(dst):
        df = spark.read.parquet(os.path.join(src, "embeddings.parquet"))
        n_src = df.count()
        copies = spark.range(k).withColumnRenamed("id", "__copy")
        wide = df.crossJoin(copies).withColumn(
            "vec_id", F.col("vec_id") + F.col("__copy") * n_src
        )
        wide.repartition(32).drop("__copy").write.mode("overwrite").parquet(dst)

    import shutil

    srcagg = (
        spark.read.parquet(dst)
        .select(F.posexplode("embedding").alias("p", "v32"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.expr("CAST(round(CAST(v32 AS DOUBLE), 6) * 1000000 AS BIGINT)")
            ).alias("s"),
        )
        .collect()[0]
    )

    configs = {
        # the registered query's coverage config (tiny shards — one task
        # per 64-row object: the task-per-object floor dominates) vs the
        # production sizing a 100 TB store would use (the same plan, the
        # object-count dial turned: tasks shrink 64×, range reads grow).
        "coverage_64x16": {"rows_per_chunk": 64, "shard_inner_rows": 16},
        "production_4096x256": {"rows_per_chunk": 4096, "shard_inner_rows": 256},
    }
    results = {}
    for cname, kw in configs.items():
        store = os.path.join(out, f"v3store_{cname}")
        shutil.rmtree(store, ignore_errors=True)

        u0 = _ui_totals(spark)
        t0 = time.perf_counter()
        meta = write_zarr_v3_group(spark.read.parquet(dst), store, **kw)
        t_write = round(time.perf_counter() - t0, 2)
        u1 = _ui_totals(spark)

        t0 = time.perf_counter()
        coo = read_zarr_group_coo(spark, store)
        got = coo.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.expr("CAST(round(v, 6) * 1000000 AS BIGINT)")).alias("s"),
        ).collect()[0]
        t_read = round(time.perf_counter() - t0, 2)
        u2 = _ui_totals(spark)

        files = [
            p
            for p in glob.glob(os.path.join(store, "**"), recursive=True)
            if os.path.isfile(p)
        ]
        results[cname] = {
            "rows": int(meta["shape"][0]),
            "shards": int(meta["n_chunks"]),
            "coo_rows": int(got["n"]),
            "exact_integrity": bool(
                got["n"] == srcagg["n"] and got["s"] == srcagg["s"]
            ),
            "store_mb": round(sum(os.path.getsize(p) for p in files) / 1e6, 1),
            "store_objects": len(files),
            "write_sec": t_write,
            "read_agg_sec": t_read,
            "write_ui": _ui_diff(u0, u1),
            "read_ui": _ui_diff(u1, u2),
        }
    print(json.dumps({"mode": "r13zarr", "multiplier": k, "configs": results}))
    return 0


def r13_dedup_stress(args: list[str]) -> int:
    """``--r13dedup [k]`` (default 100): the composed star-salvage dedup
    pipeline at 100× documents — the r12 verdict's 100× ask (§13 measured
    the 20× regime).  Same disjoint-vocab synthesis (copy-invariant
    punctuation shingles still merge buckets across copies, so the
    over-cap star path is genuinely exercised at this size).  One timed
    fresh run of ``dedup_pipeline_verdict_star`` (Spark only — the
    unrolled CC oracle at this multiplier is the §13b hours-scale
    pathology), plus the ``dedup_lsh_bucket_audit`` census on the same
    corpus for the measured candidate bound, and REST shuffle totals."""
    from single_cell_experiments_spark.registry import fresh_fn
    from single_cell_experiments_spark.session import get_spark

    k = int(args[0]) if args else 100
    src = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out = f"/tmp/sce_stress_r13d_x{k}"
    spark = get_spark(
        app_name="sce-r13-dedup-stress",
        extra_confs={
            "spark.ui.enabled": "true",
            "spark.speculation": "true",
            "spark.speculation.interval": "5s",
            "spark.speculation.multiplier": "4",
            "spark.speculation.quantile": "0.75",
        },
    )
    synthesize(spark, src, out, k, tables=("documents",))
    doc_mb = round(
        sum(
            os.path.getsize(os.path.join(out, "documents.parquet", f))
            for f in os.listdir(os.path.join(out, "documents.parquet"))
            if f.endswith(".parquet")
        )
        / 1e6,
        1,
    )

    u0 = _ui_totals(spark)
    t0 = time.perf_counter()
    audit = fresh_fn("dedup_lsh_bucket_audit")(spark, out).toPandas()
    t_audit = round(time.perf_counter() - t0, 1)
    _reset(spark)
    u1 = _ui_totals(spark)

    result = {
        "mode": "r13dedup",
        "multiplier": k,
        "documents_mb": doc_mb,
        "bucket_audit": audit.to_dict("records"),
        "audit_sec": t_audit,
        "audit_ui": _ui_diff(u0, u1),
    }
    # The census is always affordable (two keyed aggs, no pair
    # enumeration); the pipeline's exact-Jaccard verify materializes
    # admitted-pairs × shingles-per-doc sort runs, whose SPILL exceeds
    # this container's ~80 GB free disk at 100× (first 100× attempt died
    # in stage 71 with SPILL_OUT_OF_MEMORY: No space left on device — a
    # single-node disk bound, not a plan defect: the same bytes spread
    # over E executors' local disks on a real cluster).  --auditonly
    # records the census at the big multiplier; the full pipeline runs at
    # the largest disk-feasible k.
    if "--auditonly" not in sys.argv:
        t0 = time.perf_counter()
        verdicts = fresh_fn("dedup_pipeline_verdict_star")(spark, out).toPandas()
        t_pipe = round(time.perf_counter() - t0, 1)
        u2 = _ui_totals(spark)
        result.update({
            "pipeline_rows": len(verdicts),
            "pipeline_sec": t_pipe,
            "pipeline_ui": _ui_diff(u1, u2),
            "verdict_counts": {
                str(kk): int(v)
                for kk, v in verdicts.groupby("verdict").size().items()
            },
        })
    print(json.dumps(result))
    return 0


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    if "--r13zarr" in sys.argv:
        return r13_zarr_stress(args)
    if "--r13dedup" in sys.argv:
        return r13_dedup_stress(args)
    if "--lshcap" in sys.argv:
        return lshcap_stress(args)
    if "--communities" in sys.argv:
        k = int(args[0]) if args else 20
        src = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
        out = f"/tmp/sce_stress_x{k}"
        from single_cell_experiments_spark.session import get_spark

        spark = get_spark(app_name="sce-communities-stress")
        os.makedirs(out, exist_ok=True)
        print(json.dumps({"multiplier": k, **communities_stress(spark, src, out, k)}))
        return 0
    if "--louvain2" in sys.argv:
        k = int(args[0]) if args else 20
        src = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
        out = f"/tmp/sce_stress_x{k}"
        from single_cell_experiments_spark.session import get_spark

        spark = get_spark(app_name="sce-louvain2-stress")
        os.makedirs(out, exist_ok=True)
        print(json.dumps({"multiplier": k, **louvain2_stress(spark, src, out, k)}))
        return 0
    if any(f in sys.argv for f in ("--r9", "--dupes", "--r10", "--r10b", "--r10c", "--r10k", "--r11", "--r12b")):
        return r9_stress(args)
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 20
    src = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out = f"/tmp/sce_stress_x{k}"

    from single_cell_experiments_spark.registry import fresh_fn
    from single_cell_experiments_spark.session import get_spark

    spark = get_spark(app_name="sce-scale-stress")
    # cluster posture: engine defaults (AQE on, runtime-sized partitions) —
    # NOT the small-SF bench confs; this is the regime they exist to avoid.
    synthesize(spark, src, out, k)
    sizes = {
        t: round(sum(os.path.getsize(os.path.join(out, f"{t}.parquet", f))
                     for f in os.listdir(os.path.join(out, f"{t}.parquet"))
                     if f.endswith(".parquet")) / 1e6, 1)
        for t in TABLES
    }

    fns = {n: fresh_fn(n) for n in QUERIES}
    for n in QUERIES:  # warm (JIT, FS cache)
        fns[n](spark, out).toPandas()
    spark_t: dict[str, float] = {}
    rows: dict[str, int] = {}
    for n in QUERIES:
        ts = []
        for _ in range(3):
            t0 = time.perf_counter()
            pdf = fns[n](spark, out).toPandas()
            ts.append(time.perf_counter() - t0)
        spark_t[n] = round(statistics.median(ts), 3)
        rows[n] = len(pdf)

    import duckdb

    ddb = duckdb.connect()
    ddb.execute(f"SET threads TO {os.environ.get('SPARK_GRAFT_CPUS', '32')}")
    for t in TABLES:
        ddb.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{out}/{t}.parquet/*.parquet')"
        )
    ddb_t: dict[str, float] = {}
    for n in QUERIES:
        ddb.sql(DUCKDB_SQL[n]).df()  # warm
        ts = []
        for _ in range(3):
            t0 = time.perf_counter()
            ddb.sql(DUCKDB_SQL[n]).df()
            ts.append(time.perf_counter() - t0)
        ddb_t[n] = round(statistics.median(ts), 3)

    print(json.dumps({
        "multiplier": k,
        "table_mb": sizes,
        "spark_sec": spark_t,
        "duckdb_sec": ddb_t,
        "rows": rows,
        "spark_total": round(sum(spark_t.values()), 3),
        "duckdb_total": round(sum(ddb_t.values()), 3),
        "ratio": round(sum(spark_t.values()) / sum(ddb_t.values()), 2),
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
