

import pytest

# r13 driver-window tier: this file is in the SLOW families (measured
# from the full-suite durations log); deselect with -m "not slow".
pytestmark = pytest.mark.slow


def test_connected_components_multihop_and_singletons(spark):
    """A-B, B-C chain collapses to one component (min id wins across hops);
    D-E is its own; F (no edges) stays a singleton labeled by itself."""
    from data_management_service_run_etl_imputations_spark.operators.dedup import (
        connected_components_star,
    )

    nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 5, 6]], "id LONG")
    edges = spark.createDataFrame(
        [(2, 3), (1, 2), (4, 5)], "id_a LONG, id_b LONG"
    )
    out = {
        r.id: r.component
        for r in connected_components_star(nodes, edges).collect()
    }
    assert out == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 6}


def test_connected_components_long_chain_converges(spark):
    """A 12-node path graph needs several star rounds; the min label
    must reach the far end within the iteration cap."""
    from data_management_service_run_etl_imputations_spark.operators.dedup import (
        connected_components_star,
    )

    n = 12
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id LONG")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a LONG, id_b LONG"
    )
    out = {
        r.id: r.component for r in connected_components_star(nodes, edges).collect()
    }
    assert out == {i: 0 for i in range(n)}


def test_connected_components_nonconvergence_raises(spark):
    """Hitting max_iter with edges still moving must fail loudly, not
    return partially-merged (wrong) components."""
    from data_management_service_run_etl_imputations_spark.operators.dedup import (
        connected_components_star,
    )

    n = 10
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id LONG")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a LONG, id_b LONG"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components_star(nodes, edges, max_iter=1)


def test_blocked_near_duplicates_equals_exact(spark):
    """Metric-blocked (KMeans cell + triangle-inequality pruning) near-dup
    must reproduce the all-pairs result exactly — the bound guarantees
    recall at ANY threshold — and its plan must contain no cartesian."""
    import random

    from data_management_service_run_etl_imputations_spark.operators.similarity import (
        embedding_near_duplicates,
        embedding_near_duplicates_blocked,
    )

    rng = random.Random(3)
    base = [[rng.gauss(0, 1) for _ in range(8)] for _ in range(40)]
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
        if i % 5 == 0:  # planted near-duplicates
            rows.append((1000 + i, [float(x + rng.gauss(0, 0.01)) for x in v]))
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")
    for t in (0.5, 0.95):
        exact = sorted(
            map(tuple, embedding_near_duplicates(df, threshold=t).collect())
        )
        blocked_df = embedding_near_duplicates_blocked(
            df, threshold=t, n_cells=6, single_block_rows=0
        )
        blocked = sorted(map(tuple, blocked_df.collect()))
        assert blocked == exact, f"threshold={t}"
        plan = blocked_df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_blocked_near_duplicates_adaptive_coarsening(spark):
    """In the loose-threshold regime (most cell pairs survive the triangle
    bound) the operator agglomerates fine cells into super-blocks: fewer
    surviving pairs (lower shuffle degree + group count), identical
    result. Strict control: adaptive=False keeps the fine blocking and
    the same rows."""
    import random

    from data_management_service_run_etl_imputations_spark.operators.similarity import (
        embedding_near_duplicates,
        embedding_near_duplicates_blocked,
    )

    rng = random.Random(11)
    rows = [
        (i, [float(rng.gauss(0, 1)) for _ in range(8)]) for i in range(300)
    ]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")
    exact = sorted(
        map(tuple, embedding_near_duplicates(df, threshold=0.3).collect())
    )

    st_on: dict = {}
    out_on = sorted(
        map(
            tuple,
            embedding_near_duplicates_blocked(
                df, threshold=0.3, n_cells=16, stats_out=st_on,
                single_block_rows=0,
            ).collect(),
        )
    )
    assert st_on["coarsened"] is True
    assert st_on["n_cells"] < st_on["n_cells_initial"]
    assert (
        st_on["n_cell_pairs_survived"]
        < st_on["n_cell_pairs_survived_initial"]
    )
    assert out_on == exact

    st_off: dict = {}
    out_off = sorted(
        map(
            tuple,
            embedding_near_duplicates_blocked(
                df,
                threshold=0.3,
                n_cells=16,
                stats_out=st_off,
                adaptive=False,
                single_block_rows=0,
            ).collect(),
        )
    )
    assert st_off["coarsened"] is False
    assert st_off["n_cells"] == st_off["n_cells_initial"] == 16
    assert out_off == exact


def _union_find_components(ids, edges):
    """Pure-Python connected components: each id maps to the minimum id of
    its component."""
    parent = {i: i for i in ids}

    def root(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    for a, b in edges:
        ra, rb = root(a), root(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: root(i) for i in ids}


def test_connected_components_star_matches_union_find(spark):
    """The O(log n)-round star alternation labels a long chain, multiple
    components, and singletons exactly as a union-find does — and needs
    far fewer rounds than the 40-node chain's diameter."""
    import random

    from data_management_service_run_etl_imputations_spark.operators.dedup import (
        connected_components_star,
    )

    n = 40
    ids = list(range(n + 3))
    nodes = spark.createDataFrame([(i,) for i in ids], "id LONG")
    # a 40-chain (diameter 39), one triangle, two singletons
    edges = [(i, i + 1) for i in range(n - 1)]
    edges += [(n, n + 1), (n + 1, n), (n, n)]  # dup + self-loop robustness
    rng = random.Random(7)
    rng.shuffle(edges)
    edf = spark.createDataFrame(edges, "id_a LONG, id_b LONG")
    star = {
        r.id: r.component
        for r in connected_components_star(nodes, edf, max_iter=8).collect()
    }
    expect = {i: 0 for i in range(n)}
    expect.update({n: n, n + 1: n, n + 2: n + 2})
    assert star == expect
    assert star == _union_find_components(ids, edges)


def test_ivf_pq_recall_against_brute_force(spark, sf_dir):
    """IVF-PQ (8 subspaces × 32 codes, ADC + exact re-rank) must reach
    recall@10 ≥ 0.6 per query vs brute force — tracked at the same floor
    as IVF; measured ≥ 0.8 on the synthetic (near-random) embeddings."""
    from pyspark.sql import functions as F

    from data_management_service_run_etl_imputations_spark.operators.similarity import (
        brute_force_topk,
        ivf_pq_topk,
    )
    from data_management_service_run_etl_imputations_spark.schemas import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 5)
    approx = ivf_pq_topk(
        emb, qs, k=10, n_centroids=16, n_probe=12,
        m_subspaces=8, ks_codes=32, refine_factor=12,
    )
    exact = brute_force_topk(emb, qs, k=10)
    hits = (
        approx.select("query_id", "neighbor_id")
        .join(exact.select("query_id", "neighbor_id"),
              ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    per_query = {r["query_id"]: r["n"] for r in hits.collect()}
    assert len(per_query) == 5
    assert min(per_query.values()) >= 6


def test_small_corpus_short_circuit_equals_exact(spark):
    """Below the single-block size floor the operator skips the
    quantizer entirely (one scan + one single-task scoring pass) and
    must still reproduce the all-pairs result exactly, with
    short_circuit telemetry and no shuffle in the plan."""
    import random

    from data_management_service_run_etl_imputations_spark.operators.similarity import (
        embedding_near_duplicates,
        embedding_near_duplicates_blocked,
    )

    rng = random.Random(5)
    rows = [
        (i, [float(rng.gauss(0, 1)) for _ in range(8)]) for i in range(120)
    ]
    rows += [(1000 + i, rows[i][1]) for i in range(10)]  # exact dups
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")
    for t in (0.4, 0.95):
        exact = sorted(
            map(tuple, embedding_near_duplicates(df, threshold=t).collect())
        )
        st: dict = {}
        out_df = embedding_near_duplicates_blocked(
            df, threshold=t, stats_out=st
        )
        assert st["short_circuit"] is True
        assert sorted(map(tuple, out_df.collect())) == exact, f"t={t}"
        plan = out_df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan  # single task, no shuffle


def test_lsh_route_recovers_planted_dups_no_false_positives(spark):
    """Banded angular LSH candidates + exact verify (VERDICT r10 #5):
    on a 128-dim corpus with planted exact AND noisy near-dups the
    route must (a) recover every planted pair at threshold 0.9 — exact
    duplicates collide with certainty, noisy ones within the documented
    recall bound at this seed — (b) emit ZERO false positives (exact
    verify), and (c) generate candidates ≪ brute force."""
    import random

    from data_management_service_run_etl_imputations_spark.operators.similarity import (
        embedding_near_duplicates_lsh,
    )

    rng = random.Random(3)
    rows = [(i, [rng.gauss(0, 1) for _ in range(128)]) for i in range(800)]
    plants = [(100000 + i, rows[i][1]) for i in range(15)]  # exact
    plants += [
        (100000 + i, [x + rng.gauss(0, 0.03) for x in rows[i][1]])
        for i in range(15, 25)
    ]  # noisy (cosine ≈ 0.999 at 128 dims)
    df = spark.createDataFrame(
        rows + plants, "vec_id LONG, embedding ARRAY<DOUBLE>"
    )
    stats: dict = {}
    got = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_duplicates_lsh(
            df, threshold=0.9, stats_out=stats
        ).collect()
    }
    want = {(i, 100000 + i) for i in range(25)}
    assert got == want  # full recall here, zero false positives
    assert stats["candidate_volume"] < 0.05 * stats["brute_force_volume"]
    assert stats["recall_lower_bound_at_threshold"] > 0.9


def test_blocked_auto_route_escapes_distance_concentration(spark):
    """route='auto': when >25% of cell pairs survive coarsening (the
    distance-concentration regime), the blocked operator must hand
    candidates to the LSH route and record it in stats_out; the result
    must match route='lsh' exactly."""
    import random

    from data_management_service_run_etl_imputations_spark.operators.similarity import (
        embedding_near_duplicates_blocked,
        embedding_near_duplicates_lsh,
    )

    rng = random.Random(5)
    rows = [(i, [rng.gauss(0, 1) for _ in range(64)]) for i in range(600)]
    rows += [(100000 + i, rows[i][1]) for i in range(10)]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    stats: dict = {}
    auto = sorted(
        map(
            tuple,
            embedding_near_duplicates_blocked(
                df, threshold=0.95, stats_out=stats, route="auto",
                single_block_rows=64, target_block_rows=64,
            ).collect(),
        )
    )
    assert stats["routed"] == "lsh"
    assert stats["n_cell_pairs_survived"] > 0.25 * stats["n_cell_pairs_total"]
    direct = sorted(
        map(
            tuple,
            embedding_near_duplicates_lsh(df, threshold=0.95).collect(),
        )
    )
    assert auto == direct
    # default route stays exact: no reroute, identical pair set here
    # (exact duplicates are found by both)
    exact_stats: dict = {}
    exact = sorted(
        map(
            tuple,
            embedding_near_duplicates_blocked(
                df, threshold=0.95, stats_out=exact_stats,
                single_block_rows=64, target_block_rows=64,
            ).collect(),
        )
    )
    assert "routed" not in exact_stats
    assert exact == auto


def test_auto_route_declines_lsh_at_loose_thresholds(spark):
    """code-review r11: the auto reroute is RECALL-GATED — at loose
    thresholds where no reasonable band count meets the 0.98 floor,
    auto must stay EXACT (recorded in stats) instead of silently
    collapsing recall."""
    import random

    from data_management_service_run_etl_imputations_spark.operators.similarity import (
        embedding_near_duplicates,
        embedding_near_duplicates_blocked,
    )

    rng = random.Random(5)
    rows = [(i, [rng.gauss(0, 1) for _ in range(32)]) for i in range(300)]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    stats: dict = {}
    got = sorted(
        map(
            tuple,
            embedding_near_duplicates_blocked(
                df, threshold=0.35, stats_out=stats, route="auto",
                single_block_rows=32, target_block_rows=32,
            ).collect(),
        )
    )
    assert "routed" not in stats  # declined
    assert stats["lsh_declined_bands_needed"] > 64
    exact = sorted(
        map(tuple, embedding_near_duplicates(df, threshold=0.35).collect())
    )
    assert got == exact  # the exact answer, whatever the cost


def test_route_validation_and_forced_lsh_small_corpus(spark):
    """code-review r11: route validation happens before the small-corpus
    short-circuit, and route='lsh' is honored (not silently exact) even
    below single_block_rows."""
    import pytest as _pytest

    from data_management_service_run_etl_imputations_spark.operators.similarity import (
        embedding_near_duplicates_blocked,
        embedding_near_duplicates_lsh,
    )

    rows = [(i, [float(i == j) for j in range(8)]) for i in range(6)]
    rows += [(100 + i, rows[i][1]) for i in range(3)]  # exact dups
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    with _pytest.raises(ValueError, match="route must be"):
        embedding_near_duplicates_blocked(df, route="bogus")
    stats: dict = {}
    got = sorted(
        map(
            tuple,
            embedding_near_duplicates_blocked(
                df, threshold=0.95, route="lsh", stats_out=stats
            ).collect(),
        )
    )
    assert stats["routed"] == "lsh"
    want = sorted(
        map(
            tuple,
            embedding_near_duplicates_lsh(df, threshold=0.95).collect(),
        )
    )
    assert got == want and len(got) == 3


def test_lsh_empty_corpus_returns_empty(spark):
    from data_management_service_run_etl_imputations_spark.operators.similarity import (
        embedding_near_duplicates_lsh,
    )

    empty = spark.createDataFrame([], "vec_id LONG, embedding ARRAY<DOUBLE>")
    out = embedding_near_duplicates_lsh(empty, threshold=0.9)
    assert out.count() == 0
    assert out.columns == ["id_a", "id_b", "cosine"]
