"""SemDeDup (emb_semdedup_keepers): contract tests.

The within-cell pair set depends on the trained coarse quantizer, so
the driver runs a rows-only check; these tests pin the semantics:

1. planted tight duplicate clusters -> keeper assignment bit-identical
   to the exact all-pairs path AND the LSH-banded path (the case
   semantic dedup exists for, and the directive's equality bar);
2. real data -> candidate pairs are a SUBSET of the exact cos>=t pair
   set (precision 1) and semdedup clusters REFINE exact-path clusters;
3. the keeper operator over the within-cell pair set matches a numpy
   union-find reference exactly.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from clickhouse_build_spark.plans.similarity import (
    NEAR_DUP_COS,
    PAIR_HYPERPLANES,
    PAIR_MAX_HAMMING,
    _vectors,
    ivfpq_cell_cosine_pairs,
)
from clickhouse_build_spark.plans import REGISTRY

SF = "/root/testdata/sf0.001"


def _exact_pairs(spark, sf_dir):
    v = _vectors(spark, sf_dir).collect()
    ids = np.array([r["vec_id"] for r in v])
    E = np.array([r["e"] for r in v])
    U = E / np.maximum(np.linalg.norm(E, axis=1, keepdims=True), 1e-300)
    S = U @ U.T
    iu = np.triu_indices(len(ids), 1)
    m = S[iu] >= NEAR_DUP_COS
    return {
        (int(min(a, b)), int(max(a, b)))
        for a, b in zip(ids[iu[0][m]], ids[iu[1][m]])
    }


def _union_find(universe, pairs):
    parent = {i: i for i in universe}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in universe}


def test_real_data_precision_one_and_cluster_refinement(spark):
    exact = _exact_pairs(spark, SF)
    got = {
        (r["vec_a"], r["vec_b"])
        for r in ivfpq_cell_cosine_pairs(spark, SF).collect()
    }
    # precision 1: the exact-cosine refine admits no false pair
    assert got <= exact, got - exact

    # refinement: every semdedup cluster sits inside one exact cluster
    keepers = {
        r["vec_id"]: r["keeper"]
        for r in REGISTRY["emb_semdedup_keepers"].builder(spark, SF).collect()
    }
    universe = sorted(keepers)
    exact_comp = _union_find(universe, exact)
    by_sem: dict[int, set[int]] = {}
    for vid, k in keepers.items():
        by_sem.setdefault(k, set()).add(vid)
    for members in by_sem.values():
        assert len({exact_comp[m] for m in members}) == 1


def test_probe_rank1_matches_index_cells(spark):
    """The multi-probe table's rank-1 assignment IS the code index's
    cell — both score the same unit-normalized frame with the same
    (max cosine, lowest cell) ordering."""
    from clickhouse_build_spark.plans.similarity import (
        shared_ivfpq_index,
        shared_ivfpq_probes,
    )

    idx = {
        r["vec_id"]: r["cell"]
        for r in shared_ivfpq_index(spark, SF).select("vec_id", "cell").collect()
    }
    rank1 = {
        r["vec_id"]: r["cell"]
        for r in shared_ivfpq_probes(spark, SF, nprobe=2)
        .filter(F.col("probe_rank") == 1)
        .collect()
    }
    assert idx == rank1


def test_nprobe2_recall_gain(spark):
    """nprobe=2 candidates strictly extend nprobe=1 (union of per-probe
    equi-joins), still at precision 1, and recover boundary-straddling
    near-dup pairs (recall gain measured in the module note)."""
    exact = _exact_pairs(spark, SF)
    p1 = {
        (r["vec_a"], r["vec_b"])
        for r in ivfpq_cell_cosine_pairs(spark, SF).collect()
    }
    p2 = {
        (r["vec_a"], r["vec_b"])
        for r in ivfpq_cell_cosine_pairs(spark, SF, nprobe=2).collect()
    }
    assert p1 <= p2  # per-probe union only ever adds candidates
    assert p2 <= exact  # refine is exact cosine: precision stays 1
    # recall is monotone in nprobe; on this corpus the gain is strict
    # (0.258 -> 0.697 at sf0.001, re-measured r08)
    assert len(p2 & exact) > len(p1 & exact)


def test_probe2_keepers_match_union_find(spark):
    pairs = {
        (r["vec_a"], r["vec_b"])
        for r in ivfpq_cell_cosine_pairs(spark, SF, nprobe=2).collect()
    }
    keepers = {
        r["vec_id"]: r["keeper"]
        for r in REGISTRY["emb_semdedup_probe2_keepers"]
        .builder(spark, SF)
        .collect()
    }
    assert keepers == _union_find(sorted(keepers), pairs)


def test_keepers_match_union_find_over_cell_pairs(spark):
    pairs = {
        (r["vec_a"], r["vec_b"])
        for r in ivfpq_cell_cosine_pairs(spark, SF).collect()
    }
    keepers = {
        r["vec_id"]: r["keeper"]
        for r in REGISTRY["emb_semdedup_keepers"].builder(spark, SF).collect()
    }
    want = _union_find(sorted(keepers), pairs)
    assert keepers == want


@pytest.fixture()
def planted_dir(spark, tmp_path):
    """12 tight duplicate clusters (identical members -> a cluster can
    never split across cells) + 20 singletons, all far apart."""
    rng = np.random.default_rng(7)
    rows = []
    vid = 0
    # orthonormal 64-dim directions (QR): pairwise cos = 0 << NEAR_DUP_COS
    q, _ = np.linalg.qr(rng.standard_normal((64, 64)))
    dirs = q.T[:32].astype(np.float64)
    # guard the construction: cross-direction cosines must stay below t
    G = dirs @ dirs.T
    np.fill_diagonal(G, 0.0)
    assert float(np.abs(G).max()) < NEAR_DUP_COS - 0.05
    # >= 256 vectors total: the IVFPQ PQ trainer needs one sample per
    # residual code to seed its 256-entry books
    for c in range(12):
        for _ in range(20 + c % 3):
            rows.append((vid, [float(x) for x in dirs[c]], c))
            vid += 1
    for c in range(12, 32):
        rows.append((vid, [float(x) for x in dirs[c]], c))
        vid += 1
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    d = str(tmp_path / "sf")
    df.write.parquet(d + "/embeddings.parquet")
    return d


def test_ivfpq_incremental_append(spark, planted_dir):
    """FAISS add() lifecycle: new vectors join the at-rest index
    encoded against the EXISTING trained artifacts — no retrain, codes
    bit-identical to a direct encode, identical vectors landing in
    their cluster's cell."""
    from clickhouse_build_spark.plans.similarity import (
        _ivfpq_encode,
        _vectors,
        append_to_ivfpq_index,
        shared_ivfpq_index,
    )

    base = shared_ivfpq_index(spark, planted_dir)
    n_base = base.count()
    # two new members of planted cluster 0 (identical vector -> must
    # land in the cluster's cell) with ids beyond the corpus
    proto = _vectors(spark, planted_dir).filter(F.col("vec_id") == 0)
    new = proto.crossJoin(
        spark.createDataFrame([(100_000,), (100_001,)], "new_id long")
    ).select(F.col("new_id").alias("vec_id"), "e")
    appended = append_to_ivfpq_index(spark, planted_dir, new)
    assert appended == 2

    idx = shared_ivfpq_index(spark, planted_dir)
    assert idx.count() == n_base + 2
    rows = {r["vec_id"]: r for r in idx.collect()}
    cell0 = rows[0]["cell"]  # cluster-0 prototype's cell
    assert rows[100_000]["cell"] == cell0
    assert rows[100_001]["cell"] == cell0
    # codes bit-identical to a direct encode with the same artifacts
    direct = {r["vec_id"]: r for r in _ivfpq_encode(spark, planted_dir, new).collect()}
    for vid in (100_000, 100_001):
        got = rows[vid]
        want = direct[vid]
        assert all(got[f"c{s}"] == want[f"c{s}"] for s in range(8))
        # and identical vectors share the prototype's codes exactly
        assert all(got[f"c{s}"] == rows[0][f"c{s}"] for s in range(8))


def test_planted_clusters_all_three_paths_agree(spark, planted_dir):
    from clickhouse_build_spark.operators.dedup import dedup_keepers
    from clickhouse_build_spark.operators.similarity import (
        lsh_bucketed_cosine_pairs,
    )

    sem = {
        r["vec_id"]: r["keeper"]
        for r in REGISTRY["emb_semdedup_keepers"]
        .builder(spark, planted_dir)
        .collect()
    }
    exact = {
        r["vec_id"]: r["keeper"]
        for r in REGISTRY["emb_fuzzy_dedup_keepers"]
        .builder(spark, planted_dir)
        .collect()
    }
    v = _vectors(spark, planted_dir)
    lsh_pairs = lsh_bucketed_cosine_pairs(
        v, NEAR_DUP_COS, PAIR_HYPERPLANES, max_hamming=PAIR_MAX_HAMMING
    ).select(F.col("vec_a").alias("id_a"), F.col("vec_b").alias("id_b"))
    lsh = {
        r["vec_id"]: r["keeper"]
        for r in dedup_keepers(
            lsh_pairs, v.select("vec_id"), id_col="vec_id"
        ).collect()
    }
    assert sem == exact == lsh
    # and the clusters are the planted ones: every multi-member group
    # keeps its minimum id
    groups: dict[int, list[int]] = {}
    for vid, k in sem.items():
        groups.setdefault(k, []).append(vid)
    assert sum(len(g) > 1 for g in groups.values()) == 12
    for k, g in groups.items():
        assert k == min(g)


def test_subcell_split_activates_and_preserves_contracts(
    spark, planted_dir, monkeypatch
):
    """r14 two-level coarse quantization: with the target occupancy
    forced below the planted cluster size, cells actually SPLIT
    (subcell > 0 appears; fine-cell count exceeds coarse), rank-1
    probes reproduce the index's (cell, subcell) bit-identically, and
    the planted-cluster contract is untouched — identical vectors
    score identically, so a tight cluster can never straddle a
    sub-cell and keepers stay equal to the exact all-pairs path."""
    import clickhouse_build_spark.plans.similarity as sim

    monkeypatch.setattr(sim, "SEMDEDUP_CELL_ROWS", 8)
    sub = sim.shared_subcell_centroids(spark, planted_dir)
    assert sub is not None

    idx = (
        sim.shared_ivfpq_index(spark, planted_dir)
        .select("vec_id", "cell", "subcell")
        .collect()
    )
    assert any(r["subcell"] > 0 for r in idx)
    fine = {(r["cell"], r["subcell"]) for r in idx}
    coarse = {r["cell"] for r in idx}
    assert len(fine) > len(coarse)

    probes = sim.shared_ivfpq_probes(spark, planted_dir, nprobe=2)
    rank1 = {
        r["vec_id"]: (r["cell"], r["subcell"])
        for r in probes.filter(F.col("probe_rank") == 1).collect()
    }
    assert rank1 == {r["vec_id"]: (r["cell"], r["subcell"]) for r in idx}

    sem = {
        r["vec_id"]: r["keeper"]
        for r in REGISTRY["emb_semdedup_keepers"]
        .builder(spark, planted_dir)
        .collect()
    }
    exact = {
        r["vec_id"]: r["keeper"]
        for r in REGISTRY["emb_fuzzy_dedup_keepers"]
        .builder(spark, planted_dir)
        .collect()
    }
    assert sem == exact
    groups: dict[int, list[int]] = {}
    for vid, k in sem.items():
        groups.setdefault(k, []).append(vid)
    assert sum(len(g) > 1 for g in groups.values()) == 12


def test_subcell_split_oracle_hash_exact(spark, planted_dir, monkeypatch):
    """The DuckDB oracle re-derives keepers from the at-rest export's
    (cell, subcell) — with the split ACTIVE the subcell join condition
    does real work (gate SFs carry subcell=0 everywhere), so this pins
    the cross-engine contract on the two-level layout."""
    import duckdb

    import clickhouse_build_spark.plans.similarity as sim
    from tests.oracle_compare import compare

    monkeypatch.setattr(sim, "SEMDEDUP_CELL_ROWS", 8)
    con = duckdb.connect()
    con.execute(
        # the planted fixture is a Spark-written DIRECTORY of parts
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{planted_dir}/embeddings.parquet/*.parquet')"
    )
    for name in ("emb_semdedup_keepers", "emb_semdedup_probe2_keepers"):
        spec = REGISTRY[name]
        ok, msg = compare(spec.builder(spark, planted_dir), con, spec.oracle)
        assert ok, (name, msg)


def test_rank2_handoff_matches_exclusion_kernel(spark):
    """The rank-2 cell the probe table reads (the shared coarse
    assignment's runner-up, carved from the top-2 kernel pass's own
    score matrix) must equal a re-score with the index's rank-1 cell
    excluded — the invariant that lets one kernel pass serve the index
    and the nprobe=2 probe table."""
    from clickhouse_build_spark.operators.similarity import ivf_assign_kernel
    from clickhouse_build_spark.plans.similarity import (
        _unit_vectors,
        ivfpq_cells,
        shared_coarse_assignment,
        shared_ivf_centroids,
        shared_ivfpq_index,
    )

    idx = shared_ivfpq_index(spark, SF).select("vec_id", "cell")
    cent = shared_ivf_centroids(
        spark, SF, k=ivfpq_cells(spark, SF), iters=5
    )
    exclusion = ivf_assign_kernel(
        _unit_vectors(spark, SF), cent, exclude=idx
    ).select("vec_id", "cell")
    rank2 = shared_coarse_assignment(spark, SF).select("vec_id", "cell2")
    got = {r["vec_id"]: r["cell2"] for r in rank2.collect()}
    want = {r["vec_id"]: r["cell"] for r in exclusion.collect()}
    assert got == want and len(got) > 0
