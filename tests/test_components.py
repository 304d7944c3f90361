"""Connected-components edge semantics (operators/components.py).

Oracle parity covers the minhash-derived graph; these pin the algorithm:
transitive chains longer than one hop (multiple propagation rounds),
component isolation, and min-id labeling.
"""

import random

import pytest

from datafusion_flight_sql_server_spark.operators.components import (
    connected_components,
    connected_components_star,
)


class TestConnectedComponents:
    def test_chain_two_components_min_label(self, spark):
        # 7-5-3-1 is a chain (needs >1 round to converge); {10, 20} separate
        edges = spark.createDataFrame(
            [(7, 5), (5, 3), (3, 1), (20, 10)],
            "src bigint, dst bigint",
        )
        got = {
            (r.node, r.cluster_id)
            for r in connected_components(edges).collect()
        }
        assert got == {
            (1, 1), (3, 1), (5, 1), (7, 1),
            (10, 10), (20, 10),
        }

    def test_single_edge_and_symmetry(self, spark):
        # direction must not matter
        edges = spark.createDataFrame([(2, 9)], "src bigint, dst bigint")
        got = {
            (r.node, r.cluster_id)
            for r in connected_components(edges).collect()
        }
        assert got == {(2, 2), (9, 2)}


class TestStarContraction:
    """Large-star/small-star (Kiveris et al. SoCC'14): adversarial-diameter
    convergence in O(log n) rounds, identical labels to min-label
    propagation."""

    def test_long_chain_converges_logarithmically(self, spark):
        # a 64-node chain has diameter 63: min-label propagation needs ~63
        # rounds; the star contraction must finish in O(log n) ≈ ≤10 full
        # LS+SS rounds (each round provably at least halves star depth)
        n = 64
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(1, n)], "src bigint, dst bigint"
        )
        labels, rounds = connected_components_star(
            edges, max_iter=15, with_rounds=True
        )
        got = {(r.node, r.cluster_id) for r in labels.collect()}
        labels.unpersist()
        assert got == {(i, 1) for i in range(1, n + 1)}
        assert rounds <= 10, f"chain of {n} took {rounds} rounds"

    def test_matches_min_label_propagation_on_random_graph(self, spark):
        rng = random.Random(42)
        nodes = list(range(40))
        edges = [
            (rng.choice(nodes), rng.choice(nodes)) for _ in range(45)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        df = spark.createDataFrame(edges, "src bigint, dst bigint")
        star = connected_components_star(df)
        prop = connected_components(df, max_iter=50)
        got_star = {(r.node, r.cluster_id) for r in star.collect()}
        got_prop = {(r.node, r.cluster_id) for r in prop.collect()}
        star.unpersist()
        assert got_star == got_prop

    def test_self_loops_and_direction_ignored(self, spark):
        edges = spark.createDataFrame(
            [(5, 5), (9, 2), (2, 9), (3, 3)], "src bigint, dst bigint"
        )
        labels = connected_components_star(edges)
        got = {(r.node, r.cluster_id) for r in labels.collect()}
        labels.unpersist()
        # self-loop-only nodes label themselves; direction is irrelevant
        assert got == {(2, 2), (9, 2), (5, 5), (3, 3)}

    def test_max_iter_below_two_fails_fast(self, spark):
        # a fixed point is two equal consecutive rounds, so max_iter=1 could
        # never converge; the guard raises before any job runs
        edges = spark.createDataFrame([(1, 2)], "src bigint, dst bigint")
        with pytest.raises(ValueError, match="max_iter >= 2"):
            connected_components_star(edges, max_iter=1)

    def test_empty_input_converges_in_two_rounds(self, spark):
        edges = spark.createDataFrame([], "src bigint, dst bigint")
        labels, rounds = connected_components_star(
            edges, max_iter=2, with_rounds=True
        )
        assert labels.collect() == []
        labels.unpersist()
        assert rounds == 2

    def test_already_star_input_converges_in_two_rounds(self, spark):
        # every component is already a depth-1 min-star: round 1 changes
        # nothing, round 2 confirms the fixed point
        edges = spark.createDataFrame(
            [(2, 1), (3, 1), (4, 1), (20, 10)], "src bigint, dst bigint"
        )
        labels, rounds = connected_components_star(
            edges, max_iter=2, with_rounds=True
        )
        got = {(r.node, r.cluster_id) for r in labels.collect()}
        labels.unpersist()
        assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (20, 10)}
        assert rounds == 2


class TestDedupKeepBest:
    """Quality-ranked exact dedup (operators/dedup.py dedup_exact_keep_best).

    The documents fixture can't distinguish keep-best from keep-row (exact
    duplicates share text, hence the same n_chars score) — these constructed
    frames pin that the score actually decides, with the id tie-break."""

    def test_highest_score_wins(self, spark):
        from datafusion_flight_sql_server_spark.operators.dedup import (
            dedup_exact_keep_best,
        )

        df = spark.createDataFrame(
            [
                (1, "aaa", 10),
                (2, "aaa", 30),  # winner: best score, NOT min id
                (3, "aaa", 20),
                (4, "bbb", 5),
            ],
            "id long, text string, score long",
        )
        kept = sorted(
            r.id
            for r in dedup_exact_keep_best(
                df, key="text", id_col="id", score_col="score"
            ).collect()
        )
        assert kept == [2, 4]

    def test_score_tie_breaks_to_min_id(self, spark):
        from datafusion_flight_sql_server_spark.operators.dedup import (
            dedup_exact_keep_best,
        )

        df = spark.createDataFrame(
            [(9, "x", 7), (3, "x", 7), (5, "x", 7)],
            "id long, text string, score long",
        )
        kept = [
            r.id
            for r in dedup_exact_keep_best(
                df, key="text", id_col="id", score_col="score"
            ).collect()
        ]
        assert kept == [3]
