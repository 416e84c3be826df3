"""MLlib-backed operators (SURVEY.md §2.A A10 + §2.B Dedup/Similarity LSH
rows).

The reference's PCA experiments (SURVEY.md §2.A A10 [M, low]: MLlib or
chunked SVD on the RDD matrix) map to ``pyspark.ml.feature.PCA`` over the
``embeddings`` array column; the LSH families are the MLlib twins of the
hand-rolled SQL LSH in operators/dedup.py and operators/similarity.py.

None of these have an exact point-for-point SQL oracle (eigenvectors are
sign/rotation ambiguous; MLlib's hash families use library-internal
seeds), so each is registered through an INVARIANT oracle instead — a
hash-checked consequence that does not depend on library internals,
anchored where possible by a cross-engine NUMBER DuckDB derives
independently (PCA: rotation-invariant norms; MinHash: identical-input
recall over a reproducible clone injection; BRP: soundness + the exact
threshold pair count; KMeans: partition flags + the total sum of squares;
TF-IDF: exact CountVectorizer vocabulary reproduced relationally).
tests/test_ml.py additionally self-checks PCA against ``numpy.linalg.svd``
and LSH recall against exact pair sets.

Scale notes: MLlib PCA computes the Gramian via a single treeAggregate —
O(d²) driver memory, fine for d ≲ 10⁴ (the AnnData regime; for wider
matrices switch to ``RowMatrix.computeSVD``).  ``approxSimilarityJoin`` is
a bucket-join under the hood — the same LSH shape as the SQL variants.
"""

from __future__ import annotations

import weakref

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.compat import big, stat6
from ..registry import query

PCA_K = 16
EMBED_DIM = 64  # driver embeddings table dimension (TESTDATA.md)


def _vectorized(df: DataFrame) -> DataFrame:
    """embeddings table -> (vec_id, label, features: VectorUDT)."""
    from pyspark.ml.functions import array_to_vector

    return df.select(
        "vec_id",
        "label",
        array_to_vector(F.col("embedding").cast("array<double>")).alias("features"),
    )


#: per-session cache of MLlib input DataFrames: session -> {key: cached DF}.
#: The LSH/KMeans fits iterate their input, so a storage-level cache is the
#: right call — but a PER-BUILD ``.cache()`` leaks: every registry rebuild
#: (driver correctness loop, bench rounds) pinned a fresh copy of the same
#: blocks for the session's lifetime.  Memoizing the cached DataFrame per
#: (session, key) pins each input exactly once.
_fit_input_cache: "weakref.WeakKeyDictionary[SparkSession, dict]" = weakref.WeakKeyDictionary()


def _cached_input(spark: SparkSession, key: tuple, build) -> DataFrame:
    try:
        c = _fit_input_cache[spark]
    except KeyError:
        c = _fit_input_cache.setdefault(spark, {})
    if key not in c:
        c[key] = build().cache()
    return c[key]


def _vec_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached vectorized embeddings (shared LSH/KMeans fit input)."""
    return _cached_input(
        spark, ("emb_vec", sf_dir), lambda: _vectorized(load_table(spark, sf_dir, "embeddings"))
    )


def pca_scores(spark: SparkSession, sf_dir: str, k: int = PCA_K) -> DataFrame:
    """PCA(k) scores per cell (Scanpy ``pp.pca`` semantics: center, project
    onto top right-singular vectors; ref experiments [M, low]) in long form
    (vec_id, component, score).

    MLlib's PCA derives axes from the (internally centered) covariance but
    projects the RAW vectors — an explicit mean-centering step
    (StandardScaler withMean) precedes it so scores are the Scanpy ones.
    tests/test_ml.py aligns signs and asserts k=16 scores match
    ``numpy.linalg.svd`` of the centered matrix.
    """
    from pyspark.ml.feature import PCA, StandardScaler
    from pyspark.ml.functions import vector_to_array

    raw = _vectorized(load_table(spark, sf_dir, "embeddings"))
    centerer = StandardScaler(
        withMean=True, withStd=False, inputCol="features", outputCol="centered"
    ).fit(raw)
    e = centerer.transform(raw).drop("features").withColumnRenamed("centered", "features")
    model = PCA(k=k, inputCol="features", outputCol="pcs").fit(e)
    return (
        model.transform(e)
        .select("vec_id", F.posexplode(vector_to_array("pcs")).alias("component", "score"))
        .select("vec_id", big("component", "component"), F.col("score"))
    )


#: Full-rank PC-space norms are rotation/sign-invariant: with k = d the
#: orthonormal eigenbasis is a pure rotation of the centered data, so each
#: cell's squared score-norm equals its squared distance from the mean —
#: which IS SQL-expressible.  Per-row float error between the two engines is
#: O(1e-12) against a 1e-4 rounding grid, so the hash is stable.
_PCA_ORACLE = f"""
WITH cells AS (
  SELECT vec_id,
         generate_subscripts(embedding, 1) AS i,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
),
means AS (SELECT i, AVG(x) AS mu FROM cells GROUP BY i)
SELECT c.vec_id, round(SUM((c.x - m.mu) * (c.x - m.mu)), 4) AS norm2_pc
FROM cells c JOIN means m USING (i)
GROUP BY c.vec_id
"""


@query("sc_pca", oracle=_PCA_ORACLE, tags=("singlecell", "ml", "pca"))
def sc_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 — PCA over embeddings, checked through a rotation-invariant
    oracle: the registered query runs the FULL-RANK (k = d = 64) MLlib PCA
    pipeline and emits each cell's squared PC-space norm, which must equal
    the cell's squared distance from the column means (computable in plain
    SQL) because an orthonormal full basis is a rotation.  Component-level
    k=16 scores (sign-ambiguous, not SQL-expressible) are verified against
    ``numpy.linalg.svd`` in tests/test_ml.py via ``pca_scores``.

    Rounding to 4 decimals absorbs the O(1e-12) cross-engine float drift
    from mean estimation, projection roundoff, and 64-term sum order.
    """
    scores = pca_scores(spark, sf_dir, k=EMBED_DIM)
    return scores.groupBy("vec_id").agg(
        F.round(F.sum(F.col("score") * F.col("score")), 4).alias("norm2_pc")
    )


SHINGLE_K = 5  # char-shingle width — matches the SQL twin (dedup.py)
MINHASH_TABLES = 12
MINHASH_ROWS_PER_BAND = 4
MINHASH_DIST_MAX = 0.7
#: Deterministic duplicate injection for the recall oracle: docs with
#: doc_id < N_CLONES are re-emitted verbatim under doc_id + CLONE_OFFSET.
#: DuckDB reproduces the same union, so the oracle stays data-dependent
#: and non-vacuous at every SF (the natural shingle-set duplicate count is
#: 2 at sf0.001, 0 at sf0.01, 18 at sf0.1 — zero would make the sf0.01
#: gate vacuous without the injection).
MINHASH_N_CLONES = 25
MINHASH_CLONE_OFFSET = 1_000_000_000


def _shingled_docs(spark: SparkSession, sf_dir: str, augment: bool = False) -> DataFrame:
    """documents -> (doc_id, shingles: array<string>) — distinct char-5-gram
    shingles of the raw text, the same feature definition as the SQL scale
    path (``dedup_minhash_lsh``).  ``augment=True`` unions in the clone
    rows the recall oracle counts on."""
    d = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "text"
    )
    if augment:
        clones = d.where(F.col("doc_id") < MINHASH_N_CLONES).select(
            (F.col("doc_id") + F.lit(MINHASH_CLONE_OFFSET)).alias("doc_id"), "text"
        )
        d = d.unionByName(clones)
    shingles = F.expr(
        f"array_distinct(transform(sequence(1, length(text) - {SHINGLE_K - 1}),"
        f" p -> substring(text, p, {SHINGLE_K})))"
    )
    return d.where(F.length("text") >= SHINGLE_K).select("doc_id", shingles.alias("shingles"))


def _banded_minhash_neighbors(docs: DataFrame) -> DataFrame:
    """(doc_id, shingles) -> per-doc near-dup stats via MLlib MinHash +
    EXPLICIT banding.

    MLlib's own ``approxSimilarityJoin`` is OR-amplification over
    single-hash tables (r=1, b=numHashTables): candidate probability
    1-(1-s)^b, which on this high-similarity corpus (31-word generator
    vocabulary; measured mean pairwise shingle-Jaccard ≈ 0.46) makes ~94%
    of ALL pairs candidates — the measured >9 min sf0.1 degeneracy of
    round 5 was structural, not a feature-tokenization bug.  The fix
    composes AND-amplification on top of the library's hash family: the
    model's 12 MinHash values are grouped into 3 bands × 4 rows (the SQL
    twin's banding), pairs must match a whole band, and the exact Jaccard
    verify runs only on band-local candidates.  Identical feature sets
    still collide in every band, so the identical-input recall guarantee
    is preserved.
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH
    from pyspark.ml.functions import vector_to_array

    tf = HashingTF(
        inputCol="shingles", outputCol="features", numFeatures=1 << 18, binary=True
    ).transform(docs)
    model = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=MINHASH_TABLES, seed=42
    ).fit(tf)
    hashed = model.transform(tf).select("doc_id", F.posexplode("hashes").alias("t", "hvec"))
    bands = (
        hashed.select(
            "doc_id",
            F.expr(f"t div {MINHASH_ROWS_PER_BAND}").alias("band"),
            F.struct("t", vector_to_array("hvec")[0].cast("bigint").alias("h")).alias("th"),
        )
        .groupBy("doc_id", "band")
        .agg(
            F.array_join(
                F.transform(F.array_sort(F.collect_list("th")), lambda s: s["h"].cast("string")),
                ",",
            ).alias("sig")
        )
    )
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .distinct()
    )
    sh = docs.select("doc_id", "shingles")
    pairs = (
        cand.join(
            sh.withColumnRenamed("doc_id", "d1").withColumnRenamed("shingles", "s1"), "d1"
        )
        .join(sh.withColumnRenamed("doc_id", "d2").withColumnRenamed("shingles", "s2"), "d2")
        .select(
            "d1",
            "d2",
            (
                F.lit(1.0)
                - F.size(F.array_intersect("s1", "s2"))
                / F.size(F.array_union("s1", "s2")).cast("double")
            ).alias("jaccard_dist"),
        )
        .where(F.col("jaccard_dist") <= MINHASH_DIST_MAX)
    )
    sym = pairs.select(
        F.col("d1").alias("doc_id"), F.col("jaccard_dist").alias("jaccard_dist")
    ).unionByName(pairs.select(F.col("d2").alias("doc_id"), "jaccard_dist"))
    return sym.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_near_dups"),
        F.round(F.min("jaccard_dist"), 4).alias("closest_dist"),
    )


def _centered(rows, mu):
    """``rows`` (one vector or a list of them) as float64, minus ``mu``.

    Module-level, so the Python workers of ``svd_project`` and
    ``gram_project`` receive it by reference and import the package."""
    import numpy as np

    return np.asarray(rows, dtype=np.float64) - mu


def svd_project(e: DataFrame, k: int):
    """Wide-matrix PCA route (A10 scale note): center, ``RowMatrix.
    computeSVD(k, computeU=False)``, then project rows against the
    broadcast V — driver memory O(d·k), never O(d²).

    Why this is the d ≳ 10⁴ path: MLlib's ``PCA``/
    ``computePrincipalComponents`` materializes the d×d Gramian on the
    driver (8·d² bytes — 3.2 GB at d=2·10⁴).  ``computeSVD`` instead
    selects its mode from (d, k): for d > 15000 with k ≤ d/2 it runs
    distributed ARPACK, where each Lanczos step is a matrix-free
    ``multiplyGramianMatrixBy`` treeAggregate over the rows and the driver
    holds only O(d·ncv) work vectors (RowMatrix's documented dist-eigs
    mode).  For small d it falls back to the local Gramian, so one code
    path serves both regimes.

    Returns ``(scores_df(vec_id, scores: array<double>), s: ndarray[k])``.
    The projection re-reads the DataFrame column (not the RDD) with the
    broadcast mean and V, so row keys survive without ``IndexedRowMatrix``
    bookkeeping and the scores stay an Arrow-batched column.
    """
    import numpy as np
    from pyspark.mllib.linalg import Vectors as OldVectors
    from pyspark.mllib.linalg.distributed import RowMatrix
    from pyspark.sql.functions import pandas_udf

    spark = e.sparkSession
    arr = e.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    mu_rows = (
        arr.select(F.posexplode("v").alias("i", "x"))
        .groupBy("i")
        .agg(F.avg("x").alias("mu"))
        .collect()
    )  # O(d) driver
    mu = np.zeros(len(mu_rows))
    for r in mu_rows:
        mu[r["i"]] = r["mu"]
    sc = spark.sparkContext
    mu_b = sc.broadcast(mu)
    # The legacy pyspark.mllib RDD API forces one per-row Python→JVM
    # crossing here (no Arrow path exists for RowMatrix).  CACHING the
    # mapped RDD is what bounds that cost: ARPACK's Lanczos loop runs one
    # distributed multiplyGramianMatrixBy PER ITERATION, and uncached each
    # iteration re-executes the whole Python map — measured at sf0.1
    # (2000×64, k=64): 4.9 s uncached vs 1.2 s cached, the gap growing
    # linearly with iteration count at real scale.  MEMORY_AND_DISK so a
    # 1.3M×30k matrix (~300 GB distributed) spills instead of OOMing; the
    # one-time crossing itself is ~0.3 s per 2k×64 partition batch
    # (SCALE.md "sc_pca_svd" row).
    from pyspark import StorageLevel

    rows = (
        arr.select("v")
        .rdd.map(
            lambda r: OldVectors.dense(_centered(r[0], mu_b.value))
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        svd = RowMatrix(rows).computeSVD(k, computeU=False)
    finally:
        rows.unpersist()
    v_local = np.asarray(svd.V.toArray())  # d×k
    v_b = sc.broadcast(v_local)

    @pandas_udf("array<double>")
    def _proj(col: pd.Series) -> pd.Series:
        return pd.Series(list(_centered(col.to_list(), mu_b.value) @ v_b.value))

    scores = arr.select("vec_id", _proj("v").alias("scores"))
    return scores, np.asarray(svd.s.toArray())


@query("sc_pca_svd", oracle=_PCA_ORACLE, tags=("singlecell", "ml", "pca", "svd"))
def sc_pca_svd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 wide-matrix PCA fallback, checked through the same
    rotation-invariant oracle as ``sc_pca``: full-rank (k = d) SVD scores
    are a rotation of the centered data, so each cell's squared score-norm
    equals its squared distance from the column means.  The d ≳ 10⁴
    no-Gramian regime itself is exercised by the synthetic-wide self-test
    (tests/test_ml.py::test_svd_wide_path_avoids_gramian)."""
    scores, _ = svd_project(load_table(spark, sf_dir, "embeddings"), EMBED_DIM)
    return scores.select(
        "vec_id",
        F.round(
            F.aggregate("scores", F.lit(0.0), lambda a, x: a + x * x), 4
        ).alias("norm2_pc"),
    )


#: gram_project refuses widths above this (8·d² ≈ 290 MB of driver Gram);
#: svd_project is the matrix-free route past it.
GRAM_MAX_D = 6000


def gram_project(e: DataFrame, k: int, max_d: int = GRAM_MAX_D):
    """Mid-d PCA via the RELATIONAL Gram matrix — the Arrow-era
    alternative to ``svd_project``'s legacy-mllib route (whose per-row
    Python→JVM crossing is the one irreducible residue of the RowMatrix
    contract, SCALE.md §6): the d×d Gram ``G = ΣᵢxᵢxᵢT`` is ONE plain
    DataFrame self-join + aggregation (pure JVM, partial aggregation
    map-side), the centered eigenproblem ``G − n·μμT`` is solved with
    ``numpy.linalg.eigh`` on the driver, and the projection is one Arrow
    batch matmul.  No RDD, no per-row crossing anywhere.

    Regime: driver memory is O(d²) (8·d² bytes — ~200 MB at d=5000), so
    this is the d ≲ 5·10³ path; ``svd_project`` (matrix-free ARPACK) takes
    over beyond.  The bound is MECHANICAL (r8 verdict #6): widths above
    ``max_d`` (default ``GRAM_MAX_D`` = 6000, ~290 MB of Gram) raise
    immediately — before any O(d²) work — naming ``svd_project`` as the
    route, instead of documenting the limit only in prose.  Compute is
    O(cells·d²) total, distributed, one shuffle keyed on the (i, j)
    dimension pair (bounded d² cardinality).

    Returns ``(scores_df(vec_id, scores: array<double>), eigvals[k])``
    with eigenvalues descending (= squared singular values of centered X).
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    from ..session import materialize

    spark = e.sparkSession
    arr = e.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    coo = materialize(arr.select("vec_id", F.posexplode("v").alias("i", "x")))
    n = arr.count()
    mu_rows = coo.groupBy("i").agg(F.avg("x").alias("mu")).collect()  # O(d)
    d = max(int(r["i"]) for r in mu_rows) + 1
    if d > max_d:
        raise ValueError(
            f"gram_project: matrix width d={d} exceeds max_d={max_d} — the "
            f"d×d Gram collect would hold {8 * d * d / 1e9:.1f} GB on the "
            f"driver.  Use svd_project (matrix-free ARPACK) for wide "
            f"matrices, or raise max_d knowingly."
        )
    mu = np.zeros(d)
    for r in mu_rows:
        mu[int(r["i"])] = float(r["mu"])
    a = coo.select("vec_id", F.col("i").alias("gi"), F.col("x").alias("gx"))
    b = coo.select("vec_id", F.col("i").alias("gj"), F.col("x").alias("gy"))
    gram_rows = (
        a.join(b, "vec_id")
        .where(F.col("gi") <= F.col("gj"))
        .groupBy("gi", "gj")
        .agg(F.sum(F.col("gx") * F.col("gy")).alias("g"))
        .collect()
    )  # O(d²) driver — the regime bound above
    g = np.zeros((d, d))
    for r in gram_rows:
        g[int(r["gi"]), int(r["gj"])] = g[int(r["gj"]), int(r["gi"])] = float(r["g"])
    gc = g - n * np.outer(mu, mu)
    evals, evecs = np.linalg.eigh(gc)  # ascending
    order = np.argsort(evals)[::-1][:k]
    v_local = evecs[:, order]  # d×k orthonormal
    sc = spark.sparkContext
    mu_b, v_b = sc.broadcast(mu), sc.broadcast(v_local)

    @pandas_udf("array<double>")
    def _proj(col: pd.Series) -> pd.Series:
        return pd.Series(list(_centered(col.to_list(), mu_b.value) @ v_b.value))

    scores = arr.select("vec_id", _proj("v").alias("scores"))
    return scores, np.maximum(evals[order], 0.0)


@query("sc_pca_gram", oracle=_PCA_ORACLE, tags=("singlecell", "ml", "pca", "gram"))
def sc_pca_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 mid-d PCA via the relational Gram matrix (``gram_project``),
    checked through the same rotation-invariant oracle as ``sc_pca`` /
    ``sc_pca_svd``: full-rank scores against an orthonormal eigenbasis
    preserve each cell's squared distance from the column means.  This is
    the PCA route with ZERO per-row Python crossings — the answer to the
    sc_pca_svd mllib-contract residue for every d the driver can hold a
    d×d Gram for."""
    scores, _ = gram_project(load_table(spark, sf_dir, "embeddings"), EMBED_DIM)
    return scores.select(
        "vec_id",
        F.round(
            F.aggregate("scores", F.lit(0.0), lambda a, x: a + x * x), 4
        ).alias("norm2_pc"),
    )


def minhash_dedup_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib MinHashLSH near-dup profile over documents (the library twin
    of ``dedup_minhash_lsh``): char-5-gram shingles → binary HashingTF →
    MinHash(12) → 3×4 banded candidate join → exact Jaccard ≤ 0.7,
    aggregated to per-document neighbor stats (count + closest distance).

    ``n_near_dups`` depends on LSH recall (library-internal hash
    coefficients), so this detailed form stays unregistered (checked in
    tests/test_ml.py); the registered ``mllib_minhash_dedup`` hash-checks
    the family's recall GUARANTEE instead.
    """
    return _banded_minhash_neighbors(_shingled_docs(spark, sf_dir))


#: LSH gives no general recall guarantee, but it gives an ABSOLUTE one for
#: identical inputs.  The binary HashingTF vector is a function of the
#: doc's distinct SHINGLE set, so two docs with equal shingle sets get
#: identical vectors, identical MinHash signatures, collide in every band,
#: and their candidate pair's true Jaccard distance is 0 ≤ threshold —
#: every such doc MUST surface with closest_dist = 0.  The oracle
#: reproduces the clone injection and enumerates shingle-set-duplicate
#: docs in SQL (≥ 2·N_CLONES rows at every SF plus natural duplicates),
#: asserting the flags the live banded join computes.
_MINHASH_ORACLE = f"""
WITH docs AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents
  UNION ALL
  SELECT CAST(doc_id + {MINHASH_CLONE_OFFSET} AS BIGINT), text
  FROM documents WHERE doc_id < {MINHASH_N_CLONES}
),
sh AS (
  SELECT doc_id, list_sort(list_distinct(list_transform(
      range(1, length(text) - {SHINGLE_K - 2}),
      p -> substr(text, p, {SHINGLE_K})))) AS sset
  FROM docs WHERE length(text) >= {SHINGLE_K}
)
SELECT doc_id, TRUE AS has_set_dup, TRUE AS closest_is_zero
FROM sh
WHERE sset IN (SELECT sset FROM sh GROUP BY sset HAVING COUNT(*) > 1)
"""


@query("mllib_minhash_dedup", oracle=_MINHASH_ORACLE, tags=("dedup", "ml", "lsh"))
def mllib_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib MinHashLSH dedup, hash-oracled through the identical-input
    recall guarantee (see oracle note): every document whose distinct
    char-5-gram shingle set duplicates another's — natural duplicates plus
    the deterministic clone injection both engines reproduce — must be
    reported by the live banded LSH join with a distance-0 nearest
    neighbor.  The full per-doc near-dup profile is
    ``minhash_dedup_profile`` (tests/test_ml.py)."""
    docs = _shingled_docs(spark, sf_dir, augment=True)
    ssets = docs.select("doc_id", F.array_sort("shingles").alias("sset"))
    dup_sets = ssets.groupBy("sset").agg(F.count(F.lit(1)).alias("n")).where(F.col("n") > 1)
    dup_docs = ssets.join(F.broadcast(dup_sets.select("sset")), "sset").select("doc_id")
    prof = _banded_minhash_neighbors(docs)
    return dup_docs.join(prof, "doc_id", "left").select(
        "doc_id",
        F.lit(True).alias("has_set_dup"),
        (F.col("closest_dist") == 0.0).alias("closest_is_zero"),
    )


def brp_lsh_neighbor_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane-bucketed euclidean neighbor pairs over embeddings
    (BucketedRandomProjectionLSH ``approxSimilarityJoin``, distance ≤ 1.2)
    — the MLlib twin of ``ann_cosine_pairs_signlsh``.

    The pair SET depends on library-internal projection seeds, so this
    detailed form stays unregistered (spot-checked vs numpy in
    tests/test_ml.py); the registered ``mllib_brp_lsh_neighbors``
    hash-checks the join's soundness properties instead.
    """
    from pyspark.ml.feature import BucketedRandomProjectionLSH

    e = _vec_embeddings(spark, sf_dir)
    model = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes", bucketLength=0.5, numHashTables=4, seed=42
    ).fit(e)
    pairs = model.approxSimilarityJoin(e, e, BRP_THRESHOLD, distCol="euclid_dist")
    return (
        pairs.where(F.col("datasetA.vec_id") < F.col("datasetB.vec_id"))
        .select(
            F.col("datasetA.vec_id").alias("vec1"),
            F.col("datasetB.vec_id").alias("vec2"),
            F.round("euclid_dist", 4).alias("euclid_dist"),
        )
    )


BRP_THRESHOLD = 1.2


def _sq_dist2(v1: str | F.Column, v2: str | F.Column) -> F.Column:
    """Index-ordered Σ(x−y)² over two array<double> columns — the exact
    left-to-right IEEE sum DuckDB's list-lambda twin performs, so the
    rounded value is bit-identical across engines."""
    return F.aggregate(
        F.zip_with(v1, v2, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


#: LSH recall is seed-dependent, but SOUNDNESS is not — and soundness has a
#: cross-engine NUMERIC consequence: the reported pair count can never
#: exceed the exact number of pairs within the threshold, which DuckDB
#: computes independently from the raw embeddings (all-pairs squared
#: distance, quantized to 6 dp before the threshold test so both engines
#: make the identical boundary decision).  The hash row therefore carries
#: ``exact_pair_ct`` — a data-dependent number each engine derives on its
#: own — alongside the Spark-computed invariant flags: every reported pair
#: (a) exists, (b) carries the true distance (re-derived via ``exact_dist``,
#: tolerance = the 4-dp output rounding), (c) is within threshold BY THE
#: RE-DERIVED distance (not the join's own pass-through column), and
#: (d) ``n_reported ≤ exact_pair_ct`` (the soundness bound).  An empty pair
#: set turns ``found_pairs`` false, so the check cannot pass vacuously.
_BRP_ORACLE = f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
pairs AS (
  SELECT round(list_sum(list_transform(range(1, {EMBED_DIM + 1}),
             i -> (a.e[i] - b.e[i]) * (a.e[i] - b.e[i]))), 6) AS d2
  FROM v a JOIN v b ON a.vec_id < b.vec_id
)
SELECT TRUE AS found_pairs, TRUE AS dists_exact,
       TRUE AS within_threshold, TRUE AS sound_pair_bound,
       COUNT(*) FILTER (WHERE d2 <= {BRP_THRESHOLD * BRP_THRESHOLD}) AS exact_pair_ct
FROM pairs
"""


@query("mllib_brp_lsh_neighbors", oracle=_BRP_ORACLE, tags=("similarity", "ml", "lsh"))
def mllib_brp_lsh_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BucketedRandomProjectionLSH neighbor join, hash-oracled through its
    soundness invariants plus an independently-computed cross-engine pair
    count (see oracle note); the raw pair list is
    ``brp_lsh_neighbor_pairs`` (tests/test_ml.py)."""
    pairs = brp_lsh_neighbor_pairs(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    exact = (
        pairs.join(emb.withColumnRenamed("vec_id", "vec1").withColumnRenamed("v", "v1"), "vec1")
        .join(emb.withColumnRenamed("vec_id", "vec2").withColumnRenamed("v", "v2"), "vec2")
        .select(
            "vec1",
            "vec2",
            "euclid_dist",
            F.sqrt(_sq_dist2("v1", "v2")).alias("exact_dist"),
        )
    )
    flags = exact.agg(
        (F.count(F.lit(1)) > 0).alias("found_pairs"),
        (F.max(F.abs(F.col("euclid_dist") - F.col("exact_dist"))) <= 5.1e-5).alias("dists_exact"),
        # Threshold checked on the RE-DERIVED distance (tolerance = output
        # rounding), so the flag verifies the join rather than restating
        # its own filter.
        (F.max("exact_dist") <= BRP_THRESHOLD + 5.1e-5).alias("within_threshold"),
        F.count(F.lit(1)).cast("bigint").alias("n_reported"),
    )
    all_pairs = (
        emb.alias("a")
        .join(emb.alias("b"), F.col("a.vec_id") < F.col("b.vec_id"))
        .select(F.round(_sq_dist2("a.v", "b.v"), 6).alias("d2"))
    )
    exact_ct = all_pairs.agg(
        F.sum(
            F.when(F.col("d2") <= BRP_THRESHOLD * BRP_THRESHOLD, 1).otherwise(0)
        ).cast("bigint").alias("exact_pair_ct")
    )
    return flags.crossJoin(exact_ct).select(
        "found_pairs",
        "dists_exact",
        "within_threshold",
        (F.col("n_reported") <= F.col("exact_pair_ct")).alias("sound_pair_bound"),
        "exact_pair_ct",
    )


def kmeans_cluster_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster KMeans(k=10, fixed seed) readout: size, majority
    ``label`` and its purity — the clustering quality view for the
    AnnData-style annotation comparison.  Seed-deterministic in Spark but
    not SQL-reproducible (centroid init is library-internal), so this
    detailed form stays unregistered; tests/test_ml.py checks it and the
    registered ``kmeans_embedding_clusters`` hash-checks the invariants.
    """
    from pyspark.ml.clustering import KMeans

    e = _vec_embeddings(spark, sf_dir)
    model = KMeans(k=10, seed=42, featuresCol="features", predictionCol="cluster").fit(e)
    assigned = model.transform(e)
    per_label = assigned.groupBy("cluster", "label").agg(F.count(F.lit(1)).alias("n"))
    from pyspark.sql import Window as W

    w = W.partitionBy("cluster").orderBy(F.desc("n"), F.asc("label"))
    return (
        per_label.withColumn("rk", F.row_number().over(w))
        .groupBy("cluster")
        .agg(
            F.sum("n").alias("size"),
            F.max(F.when(F.col("rk") == 1, F.col("label"))).alias("majority_label"),
            F.round(
                F.max(F.when(F.col("rk") == 1, F.col("n"))).cast("double") / F.sum("n"), 4
            ).alias("purity"),
        )
        .select(big("cluster", "cluster"), "size", "majority_label", "purity")
    )


#: Cluster compositions depend on library-internal centroid init, but the
#: invariants do not — and one of them has a cross-engine NUMERIC anchor:
#: the total sum of squares about the global mean, which DuckDB computes
#: independently from the raw embeddings.  Converged Lloyd inertia is
#: bounded by it (each cluster mean minimizes its cluster's SS, so
#: per-cluster SS ≤ that cluster's SS about ANY point, in particular the
#: global mean; summing gives inertia ≤ total SS).  The hash row carries
#: ``total_ss`` — each engine derives it on its own through the stat6
#: decimal path (per-row 6-dp quantization → exact DECIMAL sums → one
#: final rounding), so the doubles are bit-identical — plus the
#: Spark-computed partition flags (non-empty clusters partition all N rows
#: into 1..k groups; Lloyd may leave clusters empty, so exactly-k is NOT
#: pinned) and the inertia bound against the live model's trainingCost.
_KMEANS_ORACLE = """
WITH x AS (
  SELECT generate_subscripts(embedding, 1) AS i,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
),
dims AS (
  SELECT i,
         CAST(SUM(CAST(round(x * x, 6) AS DECIMAL(18,6))) AS DOUBLE) AS ss,
         CAST(SUM(CAST(round(x, 6) AS DECIMAL(18,6))) AS DOUBLE) AS s,
         COUNT(*) AS n
  FROM x GROUP BY i
)
SELECT TRUE AS clusters_within_k,
       (SELECT COUNT(*) FROM embeddings) AS n_points,
       TRUE AS inertia_le_total_ss,
       round(CAST(SUM(CAST(round(ss - s * s / n, 6) AS DECIMAL(18,6))) AS DOUBLE), 4)
         AS total_ss
FROM dims
"""


@query("kmeans_embedding_clusters", oracle=_KMEANS_ORACLE, tags=("ml", "clustering"))
def kmeans_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMeans(k=10, fixed seed) over embeddings, hash-oracled through its
    partition + inertia invariants anchored by a cross-engine ``total_ss``
    (see oracle note); the per-cluster profile lives in
    ``kmeans_cluster_profile`` (tests/test_ml.py)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import vector_to_array

    e = _vec_embeddings(spark, sf_dir)
    model = KMeans(k=10, seed=42, featuresCol="features", predictionCol="cluster").fit(e)
    inertia = model.summary.trainingCost
    arr = e.select(vector_to_array("features").alias("v"))
    total_ss = (
        arr.select(F.posexplode("v").alias("i", "x"))
        .groupBy("i")
        .agg(
            F.sum(stat6(F.col("x") * F.col("x"))).cast("double").alias("ss"),
            F.sum(stat6("x")).cast("double").alias("s"),
            F.count("*").alias("n"),
        )
        .select(stat6(F.col("ss") - F.col("s") * F.col("s") / F.col("n")).alias("c"))
        .agg(F.round(F.sum("c").cast("double"), 4).alias("total_ss"))
    )
    assigned = model.transform(e)
    sizes = assigned.groupBy("cluster").agg(F.count(F.lit(1)).alias("n"))
    return sizes.agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum("n").alias("n_points"),
    ).crossJoin(total_ss).select(
        ((F.col("n_clusters") >= 1) & (F.col("n_clusters") <= 10)).alias("clusters_within_k"),
        "n_points",
        # The 1e-6 headroom covers the stat6 quantization of total_ss; the
        # k=10 inertia sits far below total_ss, so the bound stays sharp.
        (F.lit(float(inertia)) <= F.col("total_ss") * (1 + 1e-9) + 1e-4).alias(
            "inertia_le_total_ss"
        ),
        "total_ss",
    )


#: MLlib IDF is log((N+1)/(df+1)) over raw CountVectorizer term counts, so
#: with an EXACT vocabulary (CountVectorizer, not HashingTF — hashing
#: collisions would make the feature space SQL-irreproducible) every per-doc
#: quantity is plain relational algebra: unnest tokens, count distinct terms
#: per doc, df per term, N docs.  Rounding to 4 decimals absorbs float
#: sum-order drift between the two engines.
_TFIDF_ORACLE = """
WITH toks AS (
  SELECT doc_id, t AS term
  FROM documents, UNNEST(regexp_split_to_array(lower(text), '[^a-z]+')) AS u(t)
  WHERE length(t) >= 3
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY term),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
w AS (
  SELECT tf.doc_id,
         round(tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)), 6) AS w6
  FROM tf JOIN df USING (term) CROSS JOIN n
)
SELECT doc_id,
       COUNT(*) AS n_active_terms,
       round(sqrt(CAST(SUM(CAST(round(w6 * w6, 6) AS DECIMAL(18,6))) AS DOUBLE)), 4)
         AS l2_norm
FROM w
GROUP BY doc_id
"""


@query("mllib_tfidf_features", oracle=_TFIDF_ORACLE, tags=("text", "ml", "tfidf"))
def mllib_tfidf_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib TF-IDF pipeline (RegexTokenizer → CountVectorizer → IDF) — the
    library twin of the SQL ``tfidf_top_terms``; emits per-doc active-term
    count and TF-IDF L2 norm.

    Hash-oracled: CountVectorizer gives an exact vocabulary (one feature per
    real term — unlike HashingTF, whose murmur3 bucket collisions have no
    SQL twin), so MLlib's weights (tf · ln((N+1)/(df+1))) are reproducible
    in DuckDB from first principles.  Docs with zero qualifying tokens have
    no active terms and are dropped to match the oracle's inner join shape.

    Scale note: the vocabulary is a driver-side fit (CountVectorizer
    collects distinct terms); cap with vocabSize/minDF at corpus scale, or
    fall back to HashingTF when the exact vocabulary no longer fits — the
    pipeline shape is unchanged.
    """
    from pyspark.ml.feature import IDF, CountVectorizer, RegexTokenizer
    from pyspark.ml.functions import vector_to_array

    d = load_table(spark, sf_dir, "documents").select("doc_id", F.lower("text").alias("text"))
    toks = RegexTokenizer(
        inputCol="text", outputCol="words", pattern="[^a-z]+", minTokenLength=3
    ).transform(d)
    cv = CountVectorizer(inputCol="words", outputCol="tf", vocabSize=1 << 20, minDF=1.0).fit(toks)
    tf = cv.transform(toks)
    idf = IDF(inputCol="tf", outputCol="tfidf").fit(tf)
    arr = idf.transform(tf).select("doc_id", "words", vector_to_array("tfidf").alias("w"))
    # n_active_terms counts DISTINCT TERMS (tf >= 1), matching the oracle's
    # per-(doc, term) rows — NOT positive weights: a term present in every
    # document has idf = ln((N+1)/(N+1)) = 0, which the oracle still counts
    # but a weight>0 filter would drop (its 0 weight contributes nothing to
    # the l2 norm in either engine, so the norms agree regardless).
    #
    # l2_norm goes through the engine-wide decimal determinism path
    # (compat.py hazard #1): each weight is a transcendental (ln), so it is
    # 6-dp-rounded per row (hazard-#2 insurance), its square re-quantized,
    # and the per-doc sum runs over exact DECIMAL(18,6) — order-insensitive
    # where a raw double sum would differ between Spark's index-order array
    # fold and DuckDB's scan-order row aggregation.  The dense vector is
    # exploded to rows for the decimal sum; absent terms contribute an
    # exact decimal 0, so the dense/sparse difference cannot drift the sum.
    rows = arr.select(
        "doc_id",
        big(F.size(F.array_distinct("words")), "n_active_terms"),
        F.explode("w").alias("x"),
    )
    w6 = F.round(F.col("x"), 6)
    return (
        rows.groupBy("doc_id", "n_active_terms")
        .agg(
            F.round(F.sqrt(F.sum(stat6(w6 * w6)).cast("double")), 4).alias("l2_norm")
        )
        .where(F.col("n_active_terms") > 0)
    )
