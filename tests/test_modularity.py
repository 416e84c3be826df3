"""sc_communities_modularity / louvain_phase1_labels: determinism against
an independent Python reference, convergence on the kNN fixtures, and the
modularity objective actually improving over the singleton start."""

from __future__ import annotations

from collections import defaultdict

import numpy as np
import pytest

from single_cell_experiments_spark.operators.singlecell import (
    SC_MODULARITY_ROUNDS,
    louvain_phase1_labels,
    sc_communities,
    sc_communities_modularity,
)
from tests.conftest import SF_DIR, count_jobs


def ref_louvain_sync(edges: list[tuple[int, int]], rounds: int) -> dict[int, int]:
    """Independent reference: PHASED-synchronous Louvain phase-1 — two
    id-parity phases per round, integer score
    M*k_uc - k_u*(tot(c) - [own]*k_u), smallest-label ties, singleton
    minimum-labeling damping, and BEST-STATE selection (argmax integer
    Q numerator over rounds 0..R, earliest tie) — mirroring
    louvain_phase1_labels."""
    nbrs: dict[int, list[int]] = defaultdict(list)
    for u, v in edges:
        nbrs[u].append(v)
    deg = {u: len(vs) for u, vs in nbrs.items()}
    m = sum(deg.values())
    lbl = {u: u for u in nbrs}

    def qnum(lbl: dict[int, int]) -> int:
        e_in = sum(1 for u, v in edges if lbl[u] == lbl[v])
        tot: dict[int, int] = defaultdict(int)
        for u in nbrs:
            tot[lbl[u]] += deg[u]
        return m * e_in - sum(t * t for t in tot.values())

    def phase(lbl: dict[int, int], par: int) -> dict[int, int]:
        tot: dict[int, int] = defaultdict(int)
        csz: dict[int, int] = defaultdict(int)
        for u in nbrs:
            tot[lbl[u]] += deg[u]
            csz[lbl[u]] += 1
        new = dict(lbl)
        for u in nbrs:
            if u % 2 != par:
                continue
            kuc: dict[int, int] = defaultdict(int)
            for v in nbrs[u]:
                kuc[lbl[v]] += 1
            best: tuple[int, int] | None = None
            for c in sorted(set(kuc) | {lbl[u]}):
                # minimum-labeling damping: singleton -> other singleton
                # only toward a smaller label
                if c != lbl[u] and csz[lbl[u]] == 1 and csz[c] == 1 and c > lbl[u]:
                    continue
                own = deg[u] if lbl[u] == c else 0
                score = m * kuc.get(c, 0) - deg[u] * (tot[c] - own)
                if best is None or score > best[0]:
                    best = (score, c)
            new[u] = best[1]
        return new

    hist = [dict(lbl)]
    for _ in range(rounds):
        new = phase(phase(lbl, 0), 1)
        if new == lbl:
            break
        lbl = new
        hist.append(dict(lbl))
    qs = [qnum(h) for h in hist]
    return hist[max(range(len(qs)), key=lambda i: (qs[i], -i))]


def modularity(edges: list[tuple[int, int]], lbl: dict[int, int]) -> float:
    """Newman modularity Q of a partition over symmetric directed edges."""
    deg: dict[int, int] = defaultdict(int)
    for u, _ in edges:
        deg[u] += 1
    m2 = len(edges)  # = 2m
    e_in = sum(1 for u, v in edges if lbl[u] == lbl[v]) / m2
    tot: dict[int, int] = defaultdict(int)
    for u, k in deg.items():
        tot[lbl[u]] += k
    return e_in - sum((t / m2) ** 2 for t in tot.values())


def _sym(pairs: list[tuple[int, int]]) -> list[tuple[int, int]]:
    out = set()
    for u, v in pairs:
        if u != v:
            out.update({(u, v), (v, u)})
    return sorted(out)


@pytest.fixture(scope="module")
def knn_edges(spark) -> list[tuple[int, int]]:
    """The symmetrized sf0.001 kNN graph the community operators run on,
    collected once for the module."""
    from single_cell_experiments_spark.operators.singlecell import sc_neighbor_edges

    knn = sc_neighbor_edges(spark, SF_DIR).select("vec_id", "nbr").collect()
    return _sym([(r.vec_id, r.nbr) for r in knn])


def _spark_louvain(spark, edges, stats=None) -> dict[int, int]:
    df = spark.createDataFrame(edges, "src long, dst long")
    res = louvain_phase1_labels(df, SC_MODULARITY_ROUNDS, stats=stats)
    return {r.id: r.lbl for r in res.collect()}


def test_louvain_matches_reference_on_structured_graphs(spark):
    """Two cliques joined by a bridge + a path + a pair: Spark equals the
    independent reference, converges, and finds the obvious communities."""
    k1 = [(a, b) for a in range(4) for b in range(4) if a < b]
    k2 = [(a, b) for a in range(10, 15) for b in range(10, 15) if a < b]
    bridge = [(3, 10)]
    path = [(20, 21), (21, 22), (22, 23)]
    pair = [(30, 31)]
    edges = _sym(k1 + k2 + bridge + path + pair)
    stats: dict = {}
    got = _spark_louvain(spark, edges, stats)
    assert got == ref_louvain_sync(edges, SC_MODULARITY_ROUNDS)
    assert stats["converged"]
    # cliques keep their identity despite the bridge; the pair merges
    assert len({got[a] for a in range(4)}) == 1
    assert len({got[a] for a in range(10, 15)}) == 1
    assert got[0] != got[10], "bridge must not merge the cliques"
    assert got[30] == got[31]
    # the greedy start strictly improves on the singleton partition
    assert modularity(edges, got) > modularity(edges, {u: u for u in got})


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_louvain_matches_reference_on_random_graphs(spark, seed):
    """Random sparse graphs: Spark == reference after the same fixed round
    budget, converged or not — fixed-round semantics is the definition."""
    rng = np.random.default_rng(seed)
    n = 24
    pairs = {
        (int(min(a, b)), int(max(a, b)))
        for a, b in rng.integers(0, n, (40, 2))
        if a != b
    }
    edges = _sym(sorted(pairs))
    assert _spark_louvain(spark, edges) == ref_louvain_sync(
        edges, SC_MODULARITY_ROUNDS
    )


def test_sc_communities_modularity_on_real_graph(spark, knn_edges):
    """End-to-end over sf0.001 embeddings: every cell labeled, the
    best-state selection picked a non-initial round with positive Q
    (community structure, not noise), and the partition is non-trivial
    (the kNN graph churns without a fixpoint — exactly why the operator
    returns the argmax-Q state rather than asserting convergence)."""
    stats: dict = {}
    res = sc_communities_modularity(spark, SF_DIR, stats=stats)
    rows = {r.vec_id: r.community for r in res.collect()}
    n_emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").count()
    assert len(rows) == n_emb
    assert stats["best_round"] >= 1
    assert stats["best_qnum"] > 0
    ncomm = len(set(rows.values()))
    assert 1 < ncomm < n_emb
    # objective check on the same graph the operator used
    assert modularity(knn_edges, rows) > 0.0


def test_modularity_vs_lpa_partition_relation(spark, knn_edges):
    """Recorded negative result (r10): the r9 verdict suggested asserting
    that the modularity step REFINES sc_communities' LPA partition — it
    does not (measured on sf0.001: only 60/183 greedy communities sit
    inside a single LPA community), and LPA's aggressive merging actually
    scores HIGHER Newman modularity here (0.375 vs 0.233) because
    single-level phase-1 stops before the coarsening levels that full
    Louvain uses to escape its first plateau.  What IS stable and worth
    pinning: both partitions have positive modularity on the kNN graph
    (structure, not noise), and the greedy step never returns a WORSE-
    than-singleton partition by construction (best-state selection)."""
    lpa = {r.vec_id: r.community for r in sc_communities(spark, SF_DIR).collect()}
    mod = {
        r.vec_id: r.community
        for r in sc_communities_modularity(spark, SF_DIR).collect()
    }
    edges = knn_edges
    q_mod, q_lpa = modularity(edges, mod), modularity(edges, lpa)
    assert q_mod > 0.0 and q_lpa > 0.0
    singleton = {u: u for u in mod}
    assert q_mod > modularity(edges, singleton)


def ref_louvain_w(
    nodes: list[int], w: dict[tuple[int, int], int], sm: dict[int, int], rounds: int
) -> tuple[dict[int, int], int]:
    """Independent weighted phase-1 reference over a supergraph: ``w``
    holds both directions of every weighted edge, ``sm`` each supernode's
    self-mass; degrees k = Σ out-w + sm, the Q numerator counts all
    self-mass as internal.  Returns the best-state labels and the number
    of rounds run (the fixpoint round included)."""
    nbrs: dict[int, dict[int, int]] = defaultdict(dict)
    for (a, b), ww in w.items():
        nbrs[a][b] = ww
    deg = {c: sum(nbrs[c].values()) + sm.get(c, 0) for c in nodes}
    m = sum(deg.values())
    sm_total = sum(sm.values())

    def qnum(lbl: dict[int, int]) -> int:
        e_in = sum(ww for (a, b), ww in w.items() if lbl[a] == lbl[b]) + sm_total
        tot: dict[int, int] = defaultdict(int)
        for u in nodes:
            tot[lbl[u]] += deg[u]
        return m * e_in - sum(t * t for t in tot.values())

    def phase(lbl: dict[int, int], par: int) -> dict[int, int]:
        tot: dict[int, int] = defaultdict(int)
        csz: dict[int, int] = defaultdict(int)
        for u in nodes:
            tot[lbl[u]] += deg[u]
            csz[lbl[u]] += 1
        new = dict(lbl)
        for u in nodes:
            if u % 2 != par:
                continue
            kuc: dict[int, int] = defaultdict(int)
            for v, ww in nbrs[u].items():
                kuc[lbl[v]] += ww
            best: tuple[int, int] | None = None
            for c in sorted(set(kuc) | {lbl[u]}):
                if c != lbl[u] and csz[lbl[u]] == 1 and csz[c] == 1 and c > lbl[u]:
                    continue
                own = deg[u] if lbl[u] == c else 0
                score = m * kuc.get(c, 0) - deg[u] * (tot[c] - own)
                if best is None or score > best[0]:
                    best = (score, c)
            new[u] = best[1]
        return new

    lbl = {c: c for c in nodes}
    hist = [dict(lbl)]
    used = 0
    for _ in range(rounds):
        new = phase(phase(lbl, 0), 1)
        used += 1
        if new == lbl:
            break
        lbl = new
        hist.append(dict(lbl))
    qs = [qnum(h) for h in hist]
    return hist[max(range(len(qs)), key=lambda i: (qs[i], -i))], used


def ref_louvain2(edges: list[tuple[int, int]], rounds: int) -> dict[int, int]:
    """Independent two-level reference: phase-1 best-state, coarsen to a
    weighted supergraph (inter-community edge counts + internal directed
    mass as self-mass), weighted phase-1 best-state, map back."""
    l1 = ref_louvain_sync(edges, rounds)
    w: dict[tuple[int, int], int] = defaultdict(int)
    sm: dict[int, int] = defaultdict(int)
    for u, v in edges:
        cu, cv = l1[u], l1[v]
        if cu == cv:
            sm[cu] += 1
        else:
            w[(cu, cv)] += 1
    l2, _ = ref_louvain_w(sorted(set(l1.values())), w, sm, rounds)
    return {u: l2[l1[u]] for u in l1}


@pytest.mark.parametrize("seed", [4, 5, 6])
def test_weighted_kernel_matches_reference(spark, seed):
    """The kernel's weighted path, directly: a random symmetric supergraph
    with multi-weights up to 5, random self-mass, and one supernode that
    has self-mass but no edges.  Labels equal ``ref_louvain_w`` and the
    ``stats`` round count equals the reference's."""
    rng = np.random.default_rng(seed)
    ids = sorted(int(i) for i in rng.choice(100, 14, replace=False))
    w: dict[tuple[int, int], int] = {}
    for a, b in rng.choice(ids, (24, 2)):
        if a != b:
            w[(int(a), int(b))] = w[(int(b), int(a))] = int(rng.integers(1, 6))
    sm = {u: int(rng.integers(0, 7)) for u in ids if rng.random() < 0.5}
    lone = 101  # self-mass, no edges
    sm[lone] = 6
    nodes = sorted({a for a, _ in w} | set(sm))
    assert lone in nodes and max(w.values()) > 1
    edf = spark.createDataFrame(
        [(a, b, ww) for (a, b), ww in sorted(w.items())], "src long, dst long, w long"
    )
    smdf = spark.createDataFrame(sorted(sm.items()), "id long, sm long")
    stats: dict = {}
    got = louvain_phase1_labels(edf, SC_MODULARITY_ROUNDS, stats=stats, selfmass=smdf)
    want, rounds = ref_louvain_w(nodes, w, sm, SC_MODULARITY_ROUNDS)
    assert {r.id: r.lbl for r in got.collect()} == want
    assert stats["rounds"] == rounds


def test_int64_guard_raises_before_any_round(spark, monkeypatch):
    """A γ whose score products leave int64 is refused with ``ValueError``
    naming M, k_max and γ, before any round is checkpointed: the degree
    table is the only ``materialize``."""
    from single_cell_experiments_spark.operators import singlecell

    calls = []
    real = singlecell.materialize
    monkeypatch.setattr(
        singlecell, "materialize", lambda df: calls.append(1) or real(df)
    )
    df = spark.createDataFrame(_sym([(0, 1), (1, 2), (2, 3)]), "src long, dst long")
    with pytest.raises(ValueError, match=r"M=6, k_max=2, gamma=4611686018427387904/1"):
        louvain_phase1_labels(df, SC_MODULARITY_ROUNDS, gamma=(2**62, 1))
    assert len(calls) == 1


#: jobs each community query runs at ``SF_DIR`` in one job group, the
#: highest of ten runs measured before the level-2 kernel was folded into
#: the level-1 one.  AQE starts its query-stage jobs as other stages
#: finish, so identical runs differ by up to ``AQE_JOB_SPREAD`` jobs
#: (leiden read 199, 200 and 201 on one tree); the bound allows that.
COMMUNITY_MAX_JOBS = {
    "sc_communities_modularity": 165,
    "sc_communities_leiden": 200,
    "sc_communities_louvain2": 317,
}
AQE_JOB_SPREAD = 2


@pytest.mark.parametrize("name", sorted(COMMUNITY_MAX_JOBS))
def test_community_job_count_bound(spark, name):
    from single_cell_experiments_spark.registry import fresh_fn

    jobs = count_jobs(
        spark,
        lambda: fresh_fn(name)(spark, SF_DIR).write.format("noop").mode("overwrite").save(),
    )
    assert 0 < jobs <= COMMUNITY_MAX_JOBS[name] + AQE_JOB_SPREAD, jobs


def test_louvain2_matches_reference_and_improves_q(spark, knn_edges):
    """Two-level Spark == two-level reference on the sf0.001 kNN graph,
    and the coarsened pass genuinely escapes the level-1 plateau:
    Q(level 2) > Q(level 1) (measured 0.233 -> 0.372 when this was
    written — the Blondel coarsening doing its job)."""
    from single_cell_experiments_spark.operators.singlecell import sc_communities_louvain2

    edges = knn_edges
    got = {
        r.vec_id: r.community
        for r in sc_communities_louvain2(spark, SF_DIR).collect()
    }
    assert got == ref_louvain2(edges, SC_MODULARITY_ROUNDS)
    l1 = ref_louvain_sync(edges, SC_MODULARITY_ROUNDS)
    q1, q2 = modularity(edges, l1), modularity(edges, got)
    assert q2 > q1, (q1, q2)
    assert len(set(got.values())) < len(set(l1.values()))


# --- Leiden: γ resolution + connectivity refinement (r11) --------------------


def ref_louvain_gamma(
    edges: list[tuple[int, int]], rounds: int, gnum: int, gden: int
) -> dict[int, int]:
    """γ-resolution variant of ``ref_louvain_sync``: score and selection
    key scaled per the Reichardt–Bornholdt gain —
    score = γden·M·k_uc − γnum·k_u·(tot−own), Qnum = γden·M·e_in − γnum·Σtot²."""
    nbrs: dict[int, list[int]] = defaultdict(list)
    for u, v in edges:
        nbrs[u].append(v)
    deg = {u: len(vs) for u, vs in nbrs.items()}
    m = sum(deg.values())
    lbl = {u: u for u in nbrs}

    def qnum(lbl: dict[int, int]) -> int:
        e_in = sum(1 for u, v in edges if lbl[u] == lbl[v])
        tot: dict[int, int] = defaultdict(int)
        for u in nbrs:
            tot[lbl[u]] += deg[u]
        return gden * m * e_in - gnum * sum(t * t for t in tot.values())

    def phase(lbl: dict[int, int], par: int) -> dict[int, int]:
        tot: dict[int, int] = defaultdict(int)
        csz: dict[int, int] = defaultdict(int)
        for u in nbrs:
            tot[lbl[u]] += deg[u]
            csz[lbl[u]] += 1
        new = dict(lbl)
        for u in nbrs:
            if u % 2 != par:
                continue
            kuc: dict[int, int] = defaultdict(int)
            for v in nbrs[u]:
                kuc[lbl[v]] += 1
            best: tuple[int, int] | None = None
            for c in sorted(set(kuc) | {lbl[u]}):
                if c != lbl[u] and csz[lbl[u]] == 1 and csz[c] == 1 and c > lbl[u]:
                    continue
                own = deg[u] if lbl[u] == c else 0
                score = gden * m * kuc.get(c, 0) - gnum * deg[u] * (tot[c] - own)
                if best is None or score > best[0]:
                    best = (score, c)
            new[u] = best[1]
        return new

    hist = [dict(lbl)]
    for _ in range(rounds):
        new = phase(phase(lbl, 0), 1)
        if new == lbl:
            break
        lbl = new
        hist.append(dict(lbl))
    qs = [qnum(h) for h in hist]
    return hist[max(range(len(qs)), key=lambda i: (qs[i], -i))]


def _components_within_labels(
    edges: list[tuple[int, int]], lbl: dict[int, int]
) -> dict[int, int]:
    """Union-find reference for leiden_refine: min reachable id through
    SAME-LABEL edges."""
    parent = {u: u for u in lbl}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        if lbl[u] == lbl[v]:
            ra, rb = find(u), find(v)
            if ra != rb:
                lo, hi = min(ra, rb), max(ra, rb)
                parent[hi] = lo
    return {u: find(u) for u in lbl}


@pytest.mark.parametrize("gamma", [(2, 1), (5, 4), (1, 2)])
def test_gamma_kernel_matches_reference(spark, gamma):
    """γ≠1 fixture rows: the Spark kernel's integer γ scaling equals the
    independent reference at three non-trivial resolutions, on the
    structured fixture graph."""
    k1 = [(a, b) for a in range(4) for b in range(4) if a < b]
    k2 = [(a, b) for a in range(10, 15) for b in range(10, 15) if a < b]
    edges = _sym(k1 + k2 + [(3, 10)] + [(20, 21), (21, 22)])
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r.id: r.lbl
        for r in louvain_phase1_labels(
            df, SC_MODULARITY_ROUNDS, gamma=gamma
        ).collect()
    }
    assert got == ref_louvain_gamma(edges, SC_MODULARITY_ROUNDS, *gamma)


def test_gamma_one_is_classic_louvain(spark):
    """γ=1/1 must reproduce the unparameterized kernel bit-for-bit."""
    rng = np.random.default_rng(7)
    pairs = {
        (int(min(a, b)), int(max(a, b)))
        for a, b in rng.integers(0, 20, (30, 2))
        if a != b
    }
    edges = _sym(sorted(pairs))
    df = spark.createDataFrame(edges, "src long, dst long")
    base = {r.id: r.lbl for r in louvain_phase1_labels(df, 4).collect()}
    g11 = {r.id: r.lbl for r in louvain_phase1_labels(df, 4, gamma=(1, 1)).collect()}
    assert base == g11


def test_leiden_refine_splits_disconnected_community(spark):
    """The refinement contract, directly: two cliques FORCED under one
    label with no connecting edge must split into two communities; a
    connected community must stay whole; an isolated node keeps its own
    label."""
    from single_cell_experiments_spark.operators.singlecell import leiden_refine

    k1 = [(a, b) for a in range(3) for b in range(3) if a < b]
    k2 = [(a, b) for a in range(10, 13) for b in range(10, 13) if a < b]
    path = [(20, 21), (21, 22)]
    edges = _sym(k1 + k2 + path)
    df = spark.createDataFrame(edges, "src long, dst long")
    # one label for both cliques (disconnected!), one for the path, 99 isolated
    lbl = {u: 0 for u in range(3)} | {u: 0 for u in range(10, 13)}
    lbl |= {20: 1, 21: 1, 22: 1, 99: 99}
    ldf = spark.createDataFrame(sorted(lbl.items()), "id long, lbl long")
    got = {r.id: r.lbl for r in leiden_refine(df, ldf).collect()}
    assert got == _components_within_labels(edges, lbl) | {99: 99}
    assert got[0] != got[10], "disconnected community must split"
    assert len({got[u] for u in range(3)}) == 1
    assert len({got[u] for u in (20, 21, 22)}) == 1
    assert got[99] == 99


@pytest.mark.parametrize("seed", [11, 12])
def test_leiden_refine_matches_union_find_on_random(spark, seed):
    """Random graph + random coarse labels: refine == union-find reference."""
    from single_cell_experiments_spark.operators.singlecell import leiden_refine

    rng = np.random.default_rng(seed)
    n = 30
    pairs = {
        (int(min(a, b)), int(max(a, b)))
        for a, b in rng.integers(0, n, (45, 2))
        if a != b
    }
    edges = _sym(sorted(pairs))
    nodes = sorted({u for u, _ in edges})
    lbl = {u: int(rng.integers(0, 4)) for u in nodes}
    df = spark.createDataFrame(edges, "src long, dst long")
    ldf = spark.createDataFrame(sorted(lbl.items()), "id long, lbl long")
    got = {r.id: r.lbl for r in leiden_refine(df, ldf).collect()}
    assert got == _components_within_labels(edges, lbl)


def test_leiden_gamma_resolution_monotone_on_fixture(spark):
    """γ is the resolution knob END-TO-END (r11 verdict #6): on the
    triangle barbell (two K3s joined by 3 bridge edges) the full
    phase-1(γ) → leiden_refine composition yields 1 community at γ=1/2
    (coarse: everything merges), 2 at γ=1 (the natural two-clique split),
    and 6 at γ=2 (finest: every node alone) — community count strictly
    increasing in γ, each count pinned exactly."""
    from single_cell_experiments_spark.operators.singlecell import leiden_refine

    k1 = [(a, b) for a in range(3) for b in range(3) if a < b]
    k2 = [(10 + a, 10 + b) for a in range(3) for b in range(3) if a < b]
    bridges = [(i, 10 + i) for i in range(3)]
    edges = _sym(k1 + k2 + bridges)
    df = spark.createDataFrame(edges, "src long, dst long")
    counts = {}
    for gamma in [(1, 2), (1, 1), (2, 1)]:
        lbl = louvain_phase1_labels(df, SC_MODULARITY_ROUNDS, gamma=gamma)
        refined = leiden_refine(df, lbl)
        counts[gamma] = refined.select("lbl").distinct().count()
    assert counts == {(1, 2): 1, (1, 1): 2, (2, 1): 6}
    assert counts[(1, 2)] < counts[(1, 1)] < counts[(2, 1)]


@pytest.mark.parametrize("seed", [21, 22, 23])
def test_leiden_refine_is_partition_refinement(spark, seed):
    """The refinement PROPERTY itself (r11 verdict #6), asserted directly
    rather than via union-find equality: the output is a partition of the
    same node set, every refined community's members all carry exactly ONE
    input label (refined ⊆ input), and no two input communities are ever
    merged."""
    from single_cell_experiments_spark.operators.singlecell import leiden_refine

    rng = np.random.default_rng(seed)
    n = 40
    pairs = {
        (int(min(a, b)), int(max(a, b)))
        for a, b in rng.integers(0, n, (70, 2))
        if a != b
    }
    edges = _sym(sorted(pairs))
    nodes = sorted({u for u, _ in edges})
    lbl = {u: int(rng.integers(0, 5)) for u in nodes}
    df = spark.createDataFrame(edges, "src long, dst long")
    ldf = spark.createDataFrame(sorted(lbl.items()), "id long, lbl long")
    got = {r.id: r.lbl for r in leiden_refine(df, ldf).collect()}

    assert set(got) == set(lbl), "refinement changed the node set"
    input_label_of_refined: dict[int, int] = {}
    for u, rc in got.items():
        prev = input_label_of_refined.setdefault(rc, lbl[u])
        assert prev == lbl[u], (
            f"refined community {rc} spans input labels {prev} and {lbl[u]} — "
            "output is not a refinement of the input partition"
        )


def test_sc_communities_leiden_connectivity_guarantee(spark, knn_edges):
    """Leiden's headline theorem, property-tested end-to-end on the
    sf0.001 kNN graph: EVERY returned community is internally connected
    (union-find over the community-induced subgraph finds exactly one
    piece per community), the partition refines the γ-phase-1 partition
    (each leiden community sits inside one phase-1 community), and the
    registered γ=5/4 resolution yields at least as many communities as
    γ=1 phase-1 on the same graph."""
    from single_cell_experiments_spark.operators.singlecell import (
        SC_LEIDEN_GAMMA,
        sc_communities_leiden,
    )

    edges = knn_edges
    got = {
        r.vec_id: r.community for r in sc_communities_leiden(spark, SF_DIR).collect()
    }
    n_emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").count()
    assert len(got) == n_emb

    # connectivity: within-community union-find must give one piece per
    # community (nodes with no same-community edge are singletons).
    comp = _components_within_labels(edges, got)
    by_comm: dict[int, set[int]] = defaultdict(set)
    for u, c in got.items():
        by_comm[c].add(comp.get(u, u))
    for c, pieces in by_comm.items():
        assert len(pieces) == 1, f"community {c} is internally disconnected"

    # coarsening relation: leiden refines the γ phase-1 partition
    lv1 = ref_louvain_gamma(edges, SC_MODULARITY_ROUNDS, *SC_LEIDEN_GAMMA)
    for u, c in got.items():
        peers = [v for v, c2 in got.items() if c2 == c]
        assert len({lv1.get(v, v) for v in peers}) == 1

    # resolution direction on this graph
    g1 = ref_louvain_sync(edges, SC_MODULARITY_ROUNDS)
    assert len(set(got.values())) >= len(set(g1.values()))
