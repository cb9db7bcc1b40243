"""Round-8 operator tests: celled-tier quadratic guard, CDC empty-text
bounds, and the round-8 VERDICT/ADVICE items."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ssb_coefficient_maker_spark.sources.loaders import load_table


# ------------------------------------------- q115 celled-tier guard


class TestCelledTierGuard:
    def test_isotropic_corpus_refuses_past_bound(self, spark, sf_dir):
        """On a no-structure corpus the angular bound prunes ~nothing
        (raw testdata embeddings are isotropic — median ~78 deg to
        their own centroid), so the SURVIVING block-pair count stays
        ~quadratic and the guard must refuse loudly with the q57
        pointer instead of silently launching the full product."""
        from ssb_coefficient_maker_spark.operators.similarity import (
            cosine_neardup_celled,
        )

        emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        stats: dict = {}
        with pytest.raises(ValueError, match="q57|lsh_neardup_pairs"):
            cosine_neardup_celled(
                emb,
                threshold=0.4,
                n_cells=4,
                iters=1,
                block_size=8,
                stats=stats,
                max_block_pairs=16,
            )
        # the refusal was driven by the post-pruning count, and on
        # this corpus pruning genuinely kept (almost) everything
        assert stats["surviving_block_pairs"] > 16
        assert stats["kept_cell_pairs"] >= stats["total_cell_pairs"] * 0.8

    def test_clustered_corpus_prunes_under_same_bound(self, spark, sf_dir):
        """Identical bound, but on the planted clustered corpus the
        bound fires: surviving pairs collapse to ~within-cell and the
        plan builds. The guard is inert exactly when pruning bites."""
        from ssb_coefficient_maker_spark.operators.similarity import (
            Q115_CLUSTERS,
            Q115_THRESHOLD,
            clustered_embeddings,
            cosine_neardup_celled,
        )

        emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        corpus = clustered_embeddings(emb)
        stats: dict = {}
        df = cosine_neardup_celled(
            corpus,
            threshold=Q115_THRESHOLD,
            n_cells=Q115_CLUSTERS,
            iters=1,
            stats=stats,
        )
        assert df.columns == ["vec_a", "vec_b", "cos_sim"]
        assert stats["kept_cell_pairs"] < stats["total_cell_pairs"] * 0.25
        assert stats["surviving_block_pairs"] <= 8192

    def test_blocked_guard_counts_populated_blocks(self, spark):
        """The q50 guard counts POPULATED blocks (countDistinct of the
        block id), so a sparse/offset id space cannot overcount and
        spuriously refuse (round-7 guard inferred density from
        max(vec_id))."""
        from ssb_coefficient_maker_spark.operators.similarity import (
            cosine_neardup_blocked,
        )

        # 4 vectors with ids offset to 1e9..: max-id inference would
        # see ~1e9/2 blocks; the populated count is 2
        rows = [(10**9 + i, [1.0, float(i)]) for i in range(4)]
        emb = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )
        df = cosine_neardup_blocked(emb, block_size=2, max_block_pairs=3)
        assert df.count() >= 0  # plan built and runs


# ------------------------------------------------ formula matmul (@)


class TestMatmul:
    """``a @ b`` — the round-8 formula EXTENSION (the reference's own
    pd.eval rejects '@'; SURVEY §2 Part B). Triplet-path contraction
    join + sum, pandas-differential."""

    def _fe(self, spark, **frames):
        from ssb_coefficient_maker_spark.api import FormulaEvaluator

        return FormulaEvaluator(frames, spark=spark)

    def test_square_matches_pandas(self, spark):
        import numpy as np
        import pandas as pd

        rng = np.random.default_rng(42)
        a = pd.DataFrame(rng.normal(size=(5, 5)), index=list("vwxyz"), columns=list("abcde"))
        b = pd.DataFrame(rng.normal(size=(5, 5)), index=list("abcde"), columns=list("pqrst"))
        got = self._fe(spark, a=a, b=b).evaluate_to_pandas("a @ b").sort_index()
        exp = (a @ b).sort_index()
        assert list(got.index) == list(exp.index)
        assert np.allclose(got[list(exp.columns)].values, exp.values)

    def test_nonsquare_matches_pandas(self, spark):
        import numpy as np
        import pandas as pd

        rng = np.random.default_rng(7)
        a = pd.DataFrame(rng.normal(size=(3, 6)), index=list("xyz"), columns=list("abcdef"))
        b = pd.DataFrame(rng.normal(size=(6, 2)), index=list("abcdef"), columns=list("pq"))
        got = self._fe(spark, a=a, b=b).evaluate_to_pandas("a @ b").sort_index()
        exp = (a @ b).sort_index()
        assert np.allclose(got[list(exp.columns)].values, exp.values)

    def test_composes_with_transpose_and_elementwise(self, spark):
        import numpy as np
        import pandas as pd

        rng = np.random.default_rng(3)
        a = pd.DataFrame(rng.normal(size=(4, 3)), index=list("wxyz"), columns=list("abc"))
        b = pd.DataFrame(rng.normal(size=(4, 3)), index=list("wxyz"), columns=list("pqr"))
        fe = self._fe(spark, a=a, b=b)
        # a.T @ b : contraction over the shared row labels
        got = fe.evaluate_to_pandas("a.T @ b").sort_index()
        exp = (a.T @ b).sort_index()
        assert np.allclose(got[list(exp.columns)].values, exp.values)
        # (a.T @ b).T == b.T @ a, and mixing with elementwise ops
        got2 = fe.evaluate_to_pandas("2 * (a.T @ b).T + b.T @ a").sort_index()
        exp2 = (3 * (b.T @ a)).sort_index()
        assert np.allclose(got2[list(exp2.columns)].values, exp2.values)

    def test_chain_matches_pandas(self, spark):
        import numpy as np
        import pandas as pd

        rng = np.random.default_rng(11)
        a = pd.DataFrame(rng.normal(size=(3, 4)), index=list("xyz"), columns=list("abcd"))
        b = pd.DataFrame(rng.normal(size=(4, 5)), index=list("abcd"), columns=list("klmno"))
        c = pd.DataFrame(rng.normal(size=(5, 2)), index=list("klmno"), columns=list("pq"))
        got = self._fe(spark, a=a, b=b, c=c).evaluate_to_pandas("a @ b @ c").sort_index()
        exp = (a @ b @ c).sort_index()
        assert np.allclose(got[list(exp.columns)].values, exp.values)

    def test_nan_poisons_cells_like_pandas(self, spark):
        import numpy as np
        import pandas as pd

        a = pd.DataFrame(
            [[1.0, np.nan], [3.0, 4.0]], index=list("xy"), columns=list("ab")
        )
        b = pd.DataFrame(
            [[1.0, 2.0], [3.0, 4.0]], index=list("ab"), columns=list("pq")
        )
        fe = self._fe(spark, a=a, b=b)
        fe.validation = "defer"  # NaN cells are the point of this test
        got = fe.evaluate_to_pandas("a @ b").sort_index()
        exp = (a @ b).sort_index()
        assert np.isnan(got.loc["x", "p"]) and np.isnan(exp.loc["x", "p"])
        assert np.allclose(got.loc["y", list(exp.columns)], exp.loc["y"])

    def test_precedence_matches_python(self, spark):
        """`a @ b * 2` must parse as `(a @ b) * 2` (Python gives '@'
        multiplicative precedence, left-assoc) — not `a @ (b * 2)`;
        both evaluate the same here because scaling commutes, so pin
        the PARSE SHAPE, plus a non-commuting subtraction case."""
        import numpy as np
        import pandas as pd

        from ssb_coefficient_maker_spark.formula.parser import (
            BinOp,
            MatMul,
            parse_formula,
        )

        t = parse_formula("a @ b * 2")
        assert isinstance(t, BinOp) and t.op == "*"
        assert isinstance(t.left, MatMul)
        # value check on a non-commuting shape: a @ b - b
        rng = np.random.default_rng(5)
        a = pd.DataFrame(rng.integers(-3, 7, (3, 3)).astype(float),
                         index=list("xyz"), columns=list("xyz"))
        b = pd.DataFrame(rng.integers(-3, 7, (3, 3)).astype(float),
                         index=list("xyz"), columns=list("xyz"))
        got = self._fe(spark, a=a, b=b).evaluate_to_pandas("a @ b - b").sort_index()
        exp = (a @ b - b).sort_index()
        assert np.allclose(got[list(exp.columns)].values, exp.values)

    def test_scalar_operand_refuses(self, spark):
        from ssb_coefficient_maker_spark.api import FormulaEvaluator
        from ssb_coefficient_maker_spark.formula.parser import FormulaError

        fe = FormulaEvaluator({"s": 2.0}, spark=spark)
        with pytest.raises(FormulaError, match="matrix"):
            fe.evaluate_formula("s @ s")

    def test_series_operand_refuses_with_workaround_hint(self, spark):
        """`m @ v` on a Series refuses with the single-column-matrix
        hint — and the hinted form actually computes the
        matrix-vector product (pandas-differential)."""
        import numpy as np
        import pandas as pd

        from ssb_coefficient_maker_spark.formula.parser import FormulaError

        a = pd.DataFrame(
            np.arange(6, dtype=float).reshape(2, 3),
            index=list("xy"),
            columns=list("abc"),
        )
        v = pd.Series([1.0, 2.0, 3.0], index=list("abc"))
        fe = self._fe(spark, a=a, v=v)
        with pytest.raises(FormulaError, match="single-COLUMN"):
            fe.evaluate_formula("a @ v")
        fe2 = self._fe(spark, a=a, vm=v.to_frame("val"))
        got = fe2.evaluate_to_pandas("a @ vm").sort_index()
        exp = a.dot(v).sort_index()
        assert np.allclose(got["val"].values, exp.values)

    def test_elementwise_compound_refuses(self, spark):
        import numpy as np
        import pandas as pd

        a = pd.DataFrame(np.eye(2), index=list("xy"), columns=list("xy"))
        fe = self._fe(spark, a=a)
        with pytest.raises(Exception, match="bind the subexpression"):
            fe.evaluate_to_pandas("(a + a) @ a")

    def test_adp_mode_refuses(self, spark):
        import numpy as np
        import pandas as pd

        from ssb_coefficient_maker_spark.api import FormulaEvaluator

        a = pd.DataFrame(np.eye(2), index=list("xy"), columns=list("xy"))
        fe = FormulaEvaluator({"a": a}, spark=spark, adp_enabled=True)
        with pytest.raises(NotImplementedError, match="float64"):
            fe.evaluate_formula("a @ a")


@pytest.mark.parametrize("n,k,m,seed", [(2, 5, 3, 0), (6, 3, 4, 1), (4, 4, 4, 2)])
def test_matmul_formula_composes_vs_pandas(spark, n, k, m, seed):
    """`(a @ b) * 2 - a @ b` on the engine equals the same pandas
    expression across shapes (incl. negatives, integer-exact so the
    comparison is order-independent) — matmul, alignment, and
    arithmetic compose exactly."""
    import numpy as np
    import pandas as pd

    from ssb_coefficient_maker_spark.api import FormulaEvaluator

    rng = np.random.default_rng(seed)
    a = pd.DataFrame(rng.integers(-4, 9, (n, k))).astype(float)
    b = pd.DataFrame(rng.integers(-4, 9, (k, m))).astype(float)
    expected = (a @ b) * 2 - a @ b
    fe = FormulaEvaluator({"a": a, "b": b}, spark=spark)
    got = fe.evaluate_to_pandas("(a @ b) * 2 - a @ b")
    got = got[list(expected.columns)].astype(float).sort_index()
    np.testing.assert_allclose(got.to_numpy(), expected.to_numpy(), rtol=1e-12)


def test_evaluate_to_parquet_routes_matrix_ops(spark, tmp_path):
    """The production single-pass path (evaluate_to_parquet) supports
    the FULL grammar: .T/@ formulas compile on the triplet path and
    ride the same observe+fill+write action — previously they raised
    out of the wide-path compiler."""
    import numpy as np
    import pandas as pd

    from ssb_coefficient_maker_spark.api import FormulaEvaluator

    a = pd.DataFrame(
        np.arange(12, dtype=float).reshape(3, 4),
        index=list("xyz"),
        columns=list("abcd"),
    )
    b = pd.DataFrame(
        np.arange(8, dtype=float).reshape(4, 2),
        index=list("abcd"),
        columns=list("pq"),
    )
    fe = FormulaEvaluator({"a": a, "b": b}, spark=spark)
    meta = fe.evaluate_to_parquet("a @ b + 1", str(tmp_path / "mm"))
    assert meta["rows"] == 6 and meta["invalid"] == 0
    got = (
        spark.read.parquet(str(tmp_path / "mm"))
        .toPandas()
        .pivot(index="__row_id__", columns="__col_id__", values="value")
        .sort_index()
    )
    exp = (a @ b + 1).sort_index()
    assert np.allclose(got[list(exp.columns)].values, exp.values)
    meta_t = fe.evaluate_to_parquet("b.T", str(tmp_path / "t"))
    assert meta_t["rows"] == 8 and meta_t["invalid"] == 0


def test_matmul_plan_is_join_plus_partial_agg(spark):
    """The scale claim behind routing '@' onto the triplet path: the
    contraction compiles to ONE equi-join on the contraction key plus
    a map-side-combined (partial_sum) aggregate — no width-dependent
    expression explosion, no cartesian."""
    import numpy as np
    import pandas as pd

    from ssb_coefficient_maker_spark.api import FormulaEvaluator

    a = pd.DataFrame(np.arange(16, dtype=float).reshape(4, 4))
    fe = FormulaEvaluator({"a": a}, spark=spark)
    df = fe.evaluate_formula("a @ a")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "partial_sum" in plan  # map-side combine before the shuffle
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# ------------------------------------- round-8 self-review regressions


class TestReviewFixes:
    def test_fused_batch_routes_matrix_ops_to_extras(self, spark):
        """A coefficient-map row with '@' or '.T' over wide matrices
        must NOT enter the wide fused compiler (which cannot express
        matrix ops and would fail the whole batch) — it evaluates via
        the auto-routing standard path and lands in extras."""
        import numpy as np
        import pandas as pd

        from ssb_coefficient_maker_spark.api import CoefficientCalculator

        a = pd.DataFrame(np.arange(9, dtype=float).reshape(3, 3),
                         index=list("xyz"), columns=list("xyz"))
        b = pd.DataFrame(np.ones((3, 3)), index=list("xyz"), columns=list("xyz"))
        cmap = pd.DataFrame(
            {
                "kortnavn": ["plain", "mm", "tt"],
                "formel": ["a + b", "a @ b", "a.T * 2"],
            }
        )
        calc = CoefficientCalculator(
            {"a": a, "b": b},
            cmap,
            "kortnavn",
            "formel",
            spark=spark,
            validation="defer",
        )
        groups, extras = calc.compute_coefficients_fused()
        fused_names = [n for g in groups for n in g.result_cols]
        assert fused_names == ["plain"]
        assert set(extras) == {"mm", "tt"}
        got = (
            extras["mm"]
            .toPandas()
            .pivot(index="__row_id__", columns="__col_id__", values="value")
            .sort_index()
        )
        exp = (a @ b).sort_index()
        assert np.allclose(got[list(exp.columns)].values, exp.values)

    def test_adp_parquet_matmul_refuses_driver_side(self, spark, tmp_path):
        """evaluate_to_parquet under ADP must raise the same
        driver-side NotImplementedError as evaluate_formula for '@' —
        not an opaque executor failure at write time."""
        import numpy as np
        import pandas as pd

        from ssb_coefficient_maker_spark.api import FormulaEvaluator

        a = pd.DataFrame(np.eye(2), index=list("xy"), columns=list("xy"))
        fe = FormulaEvaluator({"a": a}, spark=spark, adp_enabled=True)
        with pytest.raises(NotImplementedError, match="float64"):
            fe.evaluate_to_parquet("a @ a", str(tmp_path / "adp_mm"))

    def test_matmul_common_subexpression_binds_once(self, spark):
        """'(a @ b) * 2 - a @ b' must bind ONE synthetic operand for
        both structurally-equal '@' subtrees — one contraction join,
        not two plus an alignment join between identical results."""
        import numpy as np
        import pandas as pd

        from ssb_coefficient_maker_spark.api import FormulaEvaluator
        from ssb_coefficient_maker_spark.formula.parser import parse_formula
        from ssb_coefficient_maker_spark.plans.triplet import (
            _rewrite_matrix_ops,
            wide_to_triplet,
        )

        a = pd.DataFrame(np.arange(4, dtype=float).reshape(2, 2))
        fe = FormulaEvaluator({"a": a}, spark=spark)
        # unpivoted, as compile_formula_triplet hands its operands over
        datasets = {"a": wide_to_triplet(fe.datasets["a"])}
        expr = parse_formula("(a @ a) * 2 - a @ a")
        _, extra = _rewrite_matrix_ops(expr, datasets)
        assert len(extra) == 1  # the repeated subtree deduped
        # and the value is still right
        got = fe.evaluate_to_pandas("(a @ a) * 2 - a @ a").sort_index()
        exp = ((a @ a) * 2 - a @ a).sort_index()
        assert np.allclose(got[list(exp.columns)].values, exp.values)

    def test_adp_transpose_refuses_driver_side(self, spark, tmp_path):
        """ADP + string-carried Matrix + '.T' must refuse on the
        DRIVER in both evaluate paths (same class as the '@' guard) —
        previously it failed opaquely inside the executor UDF, and in
        the parquet path only after the overwrite had clobbered the
        destination. TripletMatrix-only ADP formulas keep their
        documented float64 routing."""
        import numpy as np
        import pandas as pd

        from ssb_coefficient_maker_spark.api import FormulaEvaluator

        a = pd.DataFrame(np.eye(2), index=list("xy"), columns=list("xy"))
        fe = FormulaEvaluator({"a": a}, spark=spark, adp_enabled=True)
        with pytest.raises(NotImplementedError, match="float64"):
            fe.evaluate_formula("a.T + a")
        with pytest.raises(NotImplementedError, match="float64"):
            fe.evaluate_to_parquet("a.T + a", str(tmp_path / "adp_t"))

    def test_adp_triplet_matrix_ops_keep_float64_routing(self, spark):
        """ADP + TripletMatrix-only operands: .T/@ stay on the triplet
        path (triplet inputs under ADP are the documented float64
        demotion) — the new guards must not break round-6's routing
        contract."""
        import pandas as pd

        from ssb_coefficient_maker_spark.api import FormulaEvaluator
        from ssb_coefficient_maker_spark.plans.triplet import TripletMatrix

        t = TripletMatrix(
            spark.createDataFrame(
                pd.DataFrame(
                    {
                        "__row_id__": ["0", "0", "1", "1"],
                        "__col_id__": ["x", "y", "x", "y"],
                        "value": [1.0, 2.0, 3.0, 4.0],
                    }
                )
            )
        )
        fe = FormulaEvaluator({"t": t}, adp_enabled=True, spark=spark)
        res = fe.evaluate_formula("t.T * 2")
        got = {
            (r["__row_id__"], r["__col_id__"]): r["value"] for r in res.collect()
        }
        assert got[("y", "1")] == 8.0

    def test_fused_to_parquet_writes_matrix_op_extras(self, spark, tmp_path):
        """compute_coefficients_fused_to_parquet must WRITE matrix-op
        extras (they are cluster-scale lazy DataFrames, not
        driver-cheap Series) — previously they sat unevaluated in the
        manifest and the coefficient silently produced no parquet."""
        import numpy as np
        import pandas as pd

        from ssb_coefficient_maker_spark.api import CoefficientCalculator

        a = pd.DataFrame(np.arange(9, dtype=float).reshape(3, 3),
                         index=list("xyz"), columns=list("xyz"))
        cmap = pd.DataFrame(
            {"kortnavn": ["plain", "mm"], "formel": ["a * 2", "a @ a"]}
        )
        calc = CoefficientCalculator(
            {"a": a}, cmap, "kortnavn", "formel",
            spark=spark, validation="defer",
        )
        manifest = calc.compute_coefficients_fused_to_parquet(str(tmp_path))
        assert "mm" in manifest and manifest["mm"]["rows"] == 9
        got = (
            spark.read.parquet(manifest["mm"]["path"])
            .toPandas()
            .pivot(index="__row_id__", columns="__col_id__", values="value")
            .sort_index()
        )
        exp = (a @ a).sort_index()
        assert np.allclose(got[list(exp.columns)].values, exp.values)
        assert manifest["extras"] == {}  # nothing driver-cheap here

    def test_nested_matmul_subtree_contracts_once(self, spark, monkeypatch):
        """'(a @ a).T - a @ a' must run the contraction ONCE: the
        triplet-level memo dedupes the repeated '@' subtree even when
        one occurrence is nested inside another matrix op."""
        import numpy as np
        import pandas as pd

        from ssb_coefficient_maker_spark.api import FormulaEvaluator
        from ssb_coefficient_maker_spark.formula.parser import parse_formula
        from ssb_coefficient_maker_spark.plans import triplet as T

        calls = []
        real = T.matmul_triplet
        monkeypatch.setattr(
            T, "matmul_triplet", lambda x, y: calls.append(1) or real(x, y)
        )
        a = pd.DataFrame(np.arange(4, dtype=float).reshape(2, 2))
        fe = FormulaEvaluator({"a": a}, spark=spark)
        expr = parse_formula("(a @ a).T - a @ a")
        datasets = {"a": T.wide_to_triplet(fe.datasets["a"])}
        _, extra = T._rewrite_matrix_ops(expr, datasets)
        assert len(calls) == 1  # the nested repeat reused the memo
        assert len(extra) == 2  # one '@' binding + one '.T' binding

    def test_cdc_null_text_yields_null_bounds(self, spark):
        """NULL text -> NULL bounds (JVM-expression parity), not a
        batch-killing TypeError inside the Arrow kernel."""
        from ssb_coefficient_maker_spark.operators.dedup import (
            cdc_bounds_gear_udf,
        )

        df = spark.createDataFrame(
            [(0, None), (1, "some text here")], "doc_id long, text string"
        )
        rows = {
            r["doc_id"]: r["b"]
            for r in df.select(
                "doc_id", cdc_bounds_gear_udf()(F.col("text")).alias("b")
            ).collect()
        }
        assert rows[0] is None
        assert rows[1] == [0, 14]


# --------------------------------------------- CDC empty-text bounds


class TestCdcEmptyText:
    def test_empty_text_yields_single_bound(self, spark):
        """bounds('') == [0], not [0, 0]: a duplicate bound would emit
        a zero-length md5('') chunk the oracle's list_distinct (and
        the old md5-window expression's array_distinct) never
        produces."""
        from ssb_coefficient_maker_spark.operators.dedup import (
            cdc_bounds_gear_udf,
        )

        df = spark.createDataFrame(
            [(0, ""), (1, "short"), (2, "x" * 64)], "doc_id long, text string"
        )
        out = {
            r["doc_id"]: r["b"]
            for r in df.select(
                "doc_id", cdc_bounds_gear_udf()(F.col("text")).alias("b")
            ).collect()
        }
        assert out[0] == [0]
        assert out[1] == [0, 5]
        assert out[2][0] == 0 and out[2][-1] == 64
        assert len(out[2]) == len(set(out[2]))  # no duplicate bounds


# ------------------------------ Leontief / Neumann series (triplet)


def _triplet(spark, m):
    """pandas DataFrame -> TripletMatrix (string labels)."""
    from ssb_coefficient_maker_spark.plans.triplet import (
        COL_ID,
        VALUE,
        TripletMatrix,
    )
    from ssb_coefficient_maker_spark.session import ROW_ID

    rows = [
        (str(r), str(c), float(m.loc[r, c])) for r in m.index for c in m.columns
    ]
    return TripletMatrix(
        spark.createDataFrame(
            rows, f"{ROW_ID} string, {COL_ID} string, {VALUE} double"
        )
    )


def _to_numpy(t, labels):
    """TripletMatrix -> dense numpy over ``labels`` x ``labels``."""
    import numpy as np

    from ssb_coefficient_maker_spark.plans.triplet import COL_ID, VALUE
    from ssb_coefficient_maker_spark.session import ROW_ID

    idx = {l: i for i, l in enumerate(labels)}
    out = np.zeros((len(labels), len(labels)))
    for row in t.df.collect():
        out[idx[row[ROW_ID]], idx[row[COL_ID]]] = row[VALUE]
    return out


class TestLeontief:
    """Neumann series / Leontief total requirements on the triplet
    path — the reference domain's flagship matrix op (input-output
    total requirements = (I - A)^-1, reference coeff_maker.py:1-13),
    reachable now that '@' contracts on triplets. numpy-differential."""

    LBL = [f"s{i}" for i in range(6)]

    def _a(self, seed=5, scale=0.55):
        import numpy as np
        import pandas as pd

        rng = np.random.default_rng(seed)
        raw = rng.uniform(0.1, 1.0, size=(6, 6))
        # column-normalize then shrink: column sums == scale < 1, so
        # the spectral radius is < 1 and the series converges
        return pd.DataFrame(
            raw / raw.sum(axis=0) * scale, index=self.LBL, columns=self.LBL
        )

    def test_fixed_terms_matches_numpy(self, spark):
        import numpy as np

        from ssb_coefficient_maker_spark.plans.triplet import neumann_series

        a = self._a()
        got = _to_numpy(neumann_series(_triplet(spark, a), 3), self.LBL)
        v = a.values
        exp = np.eye(6) + v + v @ v + v @ v @ v
        assert np.allclose(got, exp)

    def test_zero_terms_is_identity(self, spark):
        import numpy as np

        from ssb_coefficient_maker_spark.plans.triplet import neumann_series

        got = _to_numpy(neumann_series(_triplet(spark, self._a()), 0), self.LBL)
        assert np.allclose(got, np.eye(6))

    def test_leontief_matches_numpy_inverse(self, spark):
        import numpy as np

        from ssb_coefficient_maker_spark.plans.triplet import (
            leontief_total_requirements,
        )

        a = self._a()
        t = leontief_total_requirements(_triplet(spark, a), tol=1e-12)
        got = _to_numpy(t, self.LBL)
        exp = np.linalg.inv(np.eye(6) - a.values)
        assert np.allclose(got, exp, atol=1e-9)

    def test_absent_cell_is_zero_not_nan(self, spark):
        """Sparse linear-algebra semantics: a missing triplet is 0
        (terms with disjoint support ADD), unlike the elementwise
        path's pandas NaN alignment — documented deviation."""
        import numpy as np

        from ssb_coefficient_maker_spark.plans.triplet import (
            COL_ID,
            VALUE,
            TripletMatrix,
            neumann_series,
        )
        from ssb_coefficient_maker_spark.session import ROW_ID

        # strictly upper-triangular 3x3: A = [[0,.5,0],[0,0,.5],[0,0,0]]
        # stored SPARSELY (zeros absent); A^2 has only cell (0,2)
        t = TripletMatrix(
            spark.createDataFrame(
                [("r0", "r1", 0.5), ("r1", "r2", 0.5)],
                f"{ROW_ID} string, {COL_ID} string, {VALUE} double",
            )
        )
        got = _to_numpy(neumann_series(t, 2), ["r0", "r1", "r2"])
        v = np.array([[0, 0.5, 0], [0, 0, 0.5], [0, 0, 0]])
        assert np.allclose(got, np.eye(3) + v + v @ v)

    def test_divergent_matrix_raises(self, spark):
        import pytest

        from ssb_coefficient_maker_spark.plans.triplet import (
            leontief_total_requirements,
        )

        a = self._a(scale=1.6)  # column sums 1.6: spectral radius > 1
        with pytest.raises(ValueError, match="converge"):
            leontief_total_requirements(
                _triplet(spark, a), tol=1e-10, max_terms=12
            )

    def test_nan_cell_raises(self, spark):
        import numpy as np
        import pytest

        from ssb_coefficient_maker_spark.plans.triplet import (
            leontief_total_requirements,
        )

        a = self._a()
        a.iloc[2, 3] = np.nan
        with pytest.raises(ValueError, match="NaN"):
            leontief_total_requirements(_triplet(spark, a), tol=1e-10)


class TestNeumannFormula:
    """``neumann(a, k)`` in the formula GRAMMAR — the Leontief
    construction reachable from coefficient-map formula strings
    (the same surface the reference's metadata maps use)."""

    def _fe(self, spark, **frames):
        from ssb_coefficient_maker_spark.api import FormulaEvaluator

        return FormulaEvaluator(frames, spark=spark)

    def _a(self):
        import numpy as np
        import pandas as pd

        rng = np.random.default_rng(21)
        raw = rng.uniform(0.1, 1.0, size=(4, 4))
        lbl = list("wxyz")
        return pd.DataFrame(
            raw / raw.sum(axis=0) * 0.5, index=lbl, columns=lbl
        )

    def test_matches_numpy_series(self, spark):
        import numpy as np

        a = self._a()
        got = self._fe(spark, a=a).evaluate_to_pandas("neumann(a, 2)")
        got = got.sort_index()[sorted(got.columns)]
        v = a.values
        exp = np.eye(4) + v + v @ v
        assert np.allclose(got.values, exp)

    def test_composes_elementwise_and_dedupes(self, spark):
        """neumann(a, 2) - a @ a - a == I (sparse identity term means
        the diagonal is 1, off-diagonal 0) — and the '@' subtree
        inside neumann is independent of the explicit 'a @ a' (the
        series is one bound operand, not re-expanded)."""
        import numpy as np

        a = self._a()
        got = self._fe(spark, a=a).evaluate_to_pandas("neumann(a, 2) - a @ a - a")
        got = got.sort_index()[sorted(got.columns)]
        assert np.allclose(got.values, np.eye(4), atol=1e-12)

    def test_terms_must_be_literal_int(self, spark):
        import pytest

        from ssb_coefficient_maker_spark.formula.parser import (
            FormulaError,
            parse_formula,
        )

        for bad in ("neumann(a, 2.5)", "neumann(a, k)", "neumann(a, -1)",
                    "neumann(a)", "neumann(a, 1 + 1)"):
            with pytest.raises(FormulaError, match="neumann"):
                parse_formula(bad)

    def test_adp_refuses_driver_side(self, spark):
        import pytest

        from ssb_coefficient_maker_spark.api import FormulaEvaluator

        fe = FormulaEvaluator({"a": self._a()}, spark=spark, adp_enabled=True)
        with pytest.raises(NotImplementedError, match="neumann"):
            fe.evaluate_formula("neumann(a, 2)")

    def test_non_matrix_operand_refuses(self, spark):
        import pandas as pd
        import pytest

        from ssb_coefficient_maker_spark.formula.parser import FormulaError

        fe = self._fe(spark, v=pd.Series([1.0, 2.0], index=["x", "y"]))
        with pytest.raises(FormulaError):
            fe.evaluate_formula("neumann(v, 2)")

    def test_full_input_output_workflow(self, spark):
        """The reference domain's end-to-end ask, entirely in ONE
        formula string: gross output for a final-demand vector,
        x = (I - A)^-1 d, evaluated as `neumann(a, 20) @ d` — the
        Neumann node composing INSIDE a matmul. Truncation at K=20
        on a 0.5-column-sum matrix leaves < 1e-6 tail."""
        import numpy as np
        import pandas as pd

        a = self._a()
        d = pd.DataFrame(
            {"demand": [10.0, 20.0, 30.0, 40.0]}, index=list("wxyz")
        )
        got = self._fe(spark, a=a, d=d).evaluate_to_pandas("neumann(a, 20) @ d")
        exp = np.linalg.inv(np.eye(4) - a.values) @ d.values
        assert np.allclose(
            got.sort_index()["demand"].values, exp.ravel(), atol=1e-4
        )

    def test_evaluate_to_parquet_routes_neumann(self, spark, tmp_path):
        """The production single-pass sink handles neumann() like the
        other matrix ops: triplet-routed, observed metrics, parquet
        written once."""
        import numpy as np
        import pandas as pd

        a = self._a()
        fe = self._fe(spark, a=a)
        meta = fe.evaluate_to_parquet("neumann(a, 2) - 1", str(tmp_path / "neu"))
        assert meta["rows"] == 16 and meta["invalid"] == 0
        got = (
            pd.read_parquet(tmp_path / "neu")
            .pivot(index="__row_id__", columns="__col_id__", values="value")
            .sort_index()
        )
        v = a.values
        exp = np.eye(4) + v + v @ v - 1.0
        assert np.allclose(got[sorted(got.columns)].values, exp)


# --------------------------------------- q221 IVF ingest cycle (ANN)


class TestIvfIngest:
    """The ANN daily-ingest cycle (q221): frozen-quantizer append into
    the pinned IVF index, probe of the grown index."""

    def _release(self):
        from ssb_coefficient_maker_spark.operators.similarity import (
            release_ivf_index,
        )

        release_ivf_index()

    def test_append_never_retrains_or_rescans_corpus(self, spark, sf_dir, monkeypatch):
        """ivf_append must be map-only over the NEW batch: zero
        kmeans_centroids calls (the quantizer is frozen), and the
        union it materializes reads the corpus from the pinned
        assignment (InMemoryTableScan) with parquet scanned only for
        the batch."""
        import sys
        from collections import Counter
        from pathlib import Path

        sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
        import plan_audit

        import ssb_coefficient_maker_spark.operators.similarity as S

        self._release()
        emb = load_table(spark, sf_dir, "embeddings")
        corpus = emb.filter(F.col("vec_id") % 5 != 4)
        batch = emb.filter(F.col("vec_id") % 5 == 4)
        index = S.ivf_index_from(corpus, ("test", "corpus"), n_centroids=8)

        calls = []
        real = S.kmeans_centroids
        monkeypatch.setattr(
            S, "kmeans_centroids", lambda *a, **k: calls.append(1) or real(*a, **k)
        )
        # the lazy union ivf_append materializes, reconstructed here
        cents, assigned = index
        lazy = assigned.unionByName(S.assign_buckets(batch, cents))
        nodes = Counter(
            n.nodeName()
            for n in plan_audit._walk(lazy._jdf.queryExecution().executedPlan())
        )
        assert nodes["InMemoryTableScan"] == 1, nodes
        assert sum(v for k, v in nodes.items() if k.startswith("Scan parquet")) == 1, nodes

        grown = S.ivf_append(index, batch, ("test", "grown"), n_centroids=8)
        assert calls == []  # frozen quantizer: no retraining
        assert grown[0] == cents  # same centroid matrix, by identity
        self._release()

    def test_probe_of_grown_index_reads_only_cache(self, spark, sf_dir):
        """After the append, the probe plan must contain NO parquet
        scan of the embeddings at all — the grown index serves
        everything from executor memory."""
        import sys
        from collections import Counter
        from pathlib import Path

        sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
        import plan_audit

        import ssb_coefficient_maker_spark.operators.similarity as S
        from ssb_coefficient_maker_spark.operators.similarity import (
            _query_vector,
        )

        self._release()
        emb = load_table(spark, sf_dir, "embeddings")
        corpus = emb.filter(F.col("vec_id") % 5 != 4)
        batch = emb.filter(F.col("vec_id") % 5 == 4)
        index = S.ivf_index_from(corpus, ("t2", "corpus"), n_centroids=8)
        grown = S.ivf_append(index, batch, ("t2", "grown"), n_centroids=8)
        q, qvals = _query_vector(spark, sf_dir, 0)
        probe = S.ivf_probe(grown, q, qvals, k=5, nprobe=2, exclude_id=0)
        nodes = Counter(
            n.nodeName()
            for n in plan_audit._walk(probe._jdf.queryExecution().executedPlan())
        )
        assert nodes["InMemoryTableScan"] == 1, nodes
        assert not any(k.startswith("Scan parquet") for k in nodes), nodes
        self._release()

    def test_grown_index_equals_from_scratch_assignment(self, spark, sf_dir):
        """Probing the grown index returns vectors from BOTH slices,
        and the grown assignment equals assigning the full corpus
        against the same frozen centroids (the append is exact, not
        approximate, given the frozen quantizer)."""
        import ssb_coefficient_maker_spark.operators.similarity as S

        self._release()
        emb = load_table(spark, sf_dir, "embeddings")
        corpus = emb.filter(F.col("vec_id") % 5 != 4)
        batch = emb.filter(F.col("vec_id") % 5 == 4)
        index = S.ivf_index_from(corpus, ("t3", "corpus"), n_centroids=8)
        cents = index[0]
        grown = S.ivf_append(index, batch, ("t3", "grown"), n_centroids=8)
        got = {
            (r["vec_id"], r["bucket"])
            for r in grown[1].select("vec_id", "bucket").collect()
        }
        exp = {
            (r["vec_id"], r["bucket"])
            for r in S.assign_buckets(emb, cents)
            .select("vec_id", "bucket")
            .collect()
        }
        assert got == exp
        self._release()


# --------------------------------- privacy family (q223/q224/q225)


class TestAnonymityAudit:
    def test_report_matches_pandas(self, spark, sf_dir):
        """Full pandas differential of the k-anonymity half: exposed
        rows per threshold recomputed from raw cell sizes."""
        from ssb_coefficient_maker_spark.queries import (
            Q223_K_THRESHOLDS,
            q223_anonymity_risk_audit,
        )

        out = q223_anonymity_risk_audit(spark, sf_dir).toPandas()
        pdf = load_table(spark, sf_dir, "customer").toPandas()
        pdf["bal_bin"] = (pdf.c_acctbal / 1000).apply(
            lambda x: int(__import__("math").floor(x))
        )
        sizes = pdf.groupby(
            ["c_nationkey", "c_mktsegment", "bal_bin"]
        ).size()
        for k in Q223_K_THRESHOLDS:
            row = out[
                (out.audit == "k_anonymity") & (out.threshold == k)
            ].iloc[0]
            assert row.violating_cells == int((sizes < k).sum())
            assert row.exposed_rows == int(sizes[sizes < k].sum())
            assert row.n_cells == len(sizes)

    def test_exposure_monotone_in_threshold(self, spark, sf_dir):
        """Raising k (or l) can only expose more rows — monotone by
        construction; a non-monotone report means a broken audit."""
        from ssb_coefficient_maker_spark.queries import (
            q223_anonymity_risk_audit,
        )

        out = q223_anonymity_risk_audit(spark, sf_dir).toPandas()
        for audit, grp in out.groupby("audit"):
            grp = grp.sort_values("threshold")
            assert grp.exposed_rows.is_monotonic_increasing, audit
            assert grp.violating_cells.is_monotonic_increasing, audit
        # bounded QI domain: the cell table can never outgrow it
        assert (out.n_cells <= 25 * 5 * 11).all()


class TestDpNoisedRelease:
    def test_noise_matches_pure_python_laplace(self, spark, sf_dir):
        """Recompute every released value from hashlib + math.log —
        the portable-randomness contract, independent of both
        engines."""
        import hashlib
        import math

        from ssb_coefficient_maker_spark.queries import (
            Q224_EPSILONS,
            Q224_SEED_TAG,
            q224_dp_noised_release,
        )

        out = q224_dp_noised_release(spark, sf_dir).toPandas()
        lbl = dict((e, l) for l, e in Q224_EPSILONS)
        for r in out.itertuples():
            h = int(
                hashlib.md5(
                    f"{r.segment}:{lbl[r.epsilon]}{Q224_SEED_TAG}".encode()
                ).hexdigest()[:13],
                16,
            )
            u = (h + 0.5) / 2.0**52
            noise = (
                -(1.0 / r.epsilon)
                * math.copysign(1.0, u - 0.5)
                * math.log(1.0 - 2.0 * abs(u - 0.5))
            )
            assert abs(r.noised_cnt - round(r.exact_cnt + noise, 6)) <= 1e-6
            assert r.in_bound == 1

    def test_release_is_deterministic(self, spark, sf_dir):
        """Two independent evaluations produce the identical release —
        the property that makes a seeded DP release auditable."""
        from ssb_coefficient_maker_spark.queries import (
            q224_dp_noised_release,
        )

        a = q224_dp_noised_release(spark, sf_dir).toPandas()
        b = q224_dp_noised_release(spark, sf_dir).toPandas()
        assert a.equals(b)
        # epsilon matters: the same segment gets different noise at
        # different budgets (u differs via the label, scale via eps)
        piv = a.pivot(index="segment", columns="epsilon", values="noised_cnt")
        assert (piv[0.5] != piv[2.0]).all()


class TestBottomkSample:
    def test_merge_of_partial_bottomks_is_global_bottomk(self, spark, sf_dir):
        """THE bottom-k property: union the two halves' bottom-ks and
        re-take the bottom-k — membership equals the global sample.
        This is what lets per-executor/per-day partials merge."""
        from ssb_coefficient_maker_spark.operators.dedup import md5_hash60
        from ssb_coefficient_maker_spark.queries import (
            Q225_SAMPLE_K,
            q225_bottomk_sample_audit,
        )

        docs = load_table(spark, sf_dir, "documents")
        hashed = docs.select(
            "doc_id",
            md5_hash60(
                F.concat(F.col("doc_id").cast("string"), F.lit(":bk"))
            ).alias("hk"),
        )
        halves = [
            hashed.filter(F.col("doc_id") % 2 == p)
            .orderBy("hk", "doc_id")
            .limit(Q225_SAMPLE_K)
            for p in (0, 1)
        ]
        merged = (
            halves[0]
            .unionByName(halves[1])
            .orderBy("hk", "doc_id")
            .limit(Q225_SAMPLE_K)
        )
        got = {r.doc_id for r in merged.collect()}
        want = {
            r.doc_id
            for r in q225_bottomk_sample_audit(spark, sf_dir).collect()
        }
        assert got == want

    def test_plan_is_partition_topk_not_global_sort(self, spark, sf_dir):
        """orderBy+limit must compile to TakeOrderedAndProject
        (per-partition heaps + driver merge), not a global sort
        exchange of the corpus."""
        from ssb_coefficient_maker_spark.queries import (
            q225_bottomk_sample_audit,
        )

        df = q225_bottomk_sample_audit(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan


# ------------------------------------ BPE tokenizer training (q226)


def _bpe_reference(word_counts, rounds):
    """Pure-python BPE (Sennrich et al.): pair counts over the
    weighted vocab, argmax (count desc, pair asc), greedy
    left-to-right non-overlapping merge."""
    vocab = {w: list(w) for w in word_counts}
    out = []
    for r in range(1, rounds + 1):
        pc = {}
        for w, toks in vocab.items():
            for i in range(len(toks) - 1):
                p = (toks[i], toks[i + 1])
                pc[p] = pc.get(p, 0) + word_counts[w]
        mx = max(pc.values())
        a, b = min(p for p, c in pc.items() if c == mx)
        for w, toks in vocab.items():
            merged, i = [], 0
            while i < len(toks):
                if i + 1 < len(toks) and toks[i] == a and toks[i + 1] == b:
                    merged.append(a + b)
                    i += 2
                else:
                    merged.append(toks[i])
                    i += 1
            vocab[w] = merged
        total = sum(word_counts[w] * len(t) for w, t in vocab.items())
        out.append((r, a + b, mx, total))
    return out


class TestBpeMergeRounds:
    def test_matches_reference_on_corpus(self, spark, sf_dir):
        from ssb_coefficient_maker_spark.operators.text import (
            BPE_ROUNDS,
            q226_bpe_merge_rounds,
        )

        got = [
            (r.round, r.new_token, r.pair_count, r.corpus_tokens_after)
            for r in q226_bpe_merge_rounds(spark, sf_dir).collect()
        ]
        counts: dict = {}
        for row in load_table(spark, sf_dir, "documents").select("text").collect():
            for w in row.text.strip().split():
                counts[w] = counts.get(w, 0) + 1
        assert got == _bpe_reference(counts, BPE_ROUNDS)

    def test_greedy_nonoverlapping_chains(self, spark):
        """The cases a naive string-replace merge gets wrong: same-
        token chains ('aaaa' with pair a,a must yield aa,aa) and
        adjacent repeats ('abab' with pair a,b must merge BOTH
        occurrences). Weighted so (a,a) then (ab-like) pairs win."""
        from ssb_coefficient_maker_spark.operators.text import bpe_merge_rounds

        texts = ["aaaa aaaa aaaa ab", "aaa ab ab abab", "abab baba aa"]
        docs = spark.createDataFrame([(t,) for t in texts], "text string")
        got = [
            (r.round, r.new_token, r.pair_count, r.corpus_tokens_after)
            for r in bpe_merge_rounds(docs, rounds=3).collect()
        ]
        counts: dict = {}
        for t in texts:
            for w in t.split():
                counts[w] = counts.get(w, 0) + 1
        want = _bpe_reference(counts, 3)
        assert got == want

    def test_token_budget_shrinks_every_round(self, spark, sf_dir):
        from ssb_coefficient_maker_spark.operators.text import (
            q226_bpe_merge_rounds,
        )

        rows = q226_bpe_merge_rounds(spark, sf_dir).collect()
        totals = [r.corpus_tokens_after for r in rows]
        assert all(a > b for a, b in zip(totals, totals[1:]))
        assert all(r.pair_count > 0 for r in rows)


# -------------------------- streaming merge-on-read upsert (q227)


class TestStreamingUpsertMor:
    def test_multi_batch_resolve_equals_batch_truth(self, spark, tmp_path):
        """Force THREE micro-batches (maxFilesPerTrigger=1 over three
        part files) and assert the merge-on-read resolve equals the
        batch-computed truth — the batching-independence property the
        docstring claims. Also asserts the log really has multiple
        epoch deltas (the test exercised MOR, not a single batch)."""
        import os

        from pyspark.sql import Window

        ev = load_table(spark, "/root/testdata/sf0.001", "events")
        src = str(tmp_path / "ev")
        # 3 files split by event_id range so every batch holds a mix
        # of users (forces genuine cross-batch last-wins resolution)
        ev.withColumn("bucket", F.col("event_id") % 3).write.partitionBy(
            "bucket"
        ).parquet(src)
        schema = spark.read.parquet(src).drop("bucket").schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/bucket=*")
        )
        out = str(tmp_path / "log")
        ckpt = str(tmp_path / "ckpt")

        def write_batch(batch_df, epoch_id):
            w = Window.partitionBy("user_id").orderBy(
                F.desc("ts"), F.desc("event_id")
            )
            delta = (
                batch_df.withColumn("rn", F.row_number().over(w))
                .withColumn(
                    "n_in_batch",
                    F.count(F.lit(1)).over(Window.partitionBy("user_id")),
                )
                .filter(F.col("rn") == 1)
                .select(
                    "user_id", "event_id", "ts", "event_type", "value",
                    "n_in_batch",
                )
            )
            delta.write.mode("overwrite").parquet(f"{out}/epoch={epoch_id}")

        q = (
            stream.writeStream.outputMode("append")
            .foreachBatch(write_batch)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        epochs = [d for d in os.listdir(out) if d.startswith("epoch=")]
        assert len(epochs) >= 3, epochs

        log = spark.read.parquet(out)
        w = Window.partitionBy("user_id").orderBy(
            F.desc("ts"), F.desc("event_id")
        )
        resolved = (
            log.withColumn("rn", F.row_number().over(w))
            .withColumn(
                "n_events",
                F.sum("n_in_batch").over(Window.partitionBy("user_id")),
            )
            .filter(F.col("rn") == 1)
            .select("user_id", "event_id", "n_events")
        )
        truth = (
            ev.withColumn("rn", F.row_number().over(w))
            .withColumn(
                "n_events",
                F.count(F.lit(1)).over(Window.partitionBy("user_id")),
            )
            .filter(F.col("rn") == 1)
            .select("user_id", "event_id", "n_events")
        )
        got = {(r.user_id, r.event_id, r.n_events) for r in resolved.collect()}
        want = {(r.user_id, r.event_id, r.n_events) for r in truth.collect()}
        assert got == want

    def test_registry_rerun_is_stable(self, spark, sf_dir):
        """Second invocation replays zero new data off the persisted
        checkpoint and returns the identical resolve."""
        from ssb_coefficient_maker_spark.queries import (
            q227_streaming_upsert_mor,
        )

        a = q227_streaming_upsert_mor(spark, sf_dir).toPandas()
        b = q227_streaming_upsert_mor(spark, sf_dir).toPandas()
        assert a.equals(b)
        assert len(a) > 0


# ----------------------------------- ANN recall@k audit (q228)


class TestAnnRecallAudit:
    def test_recall_is_live_and_bounded(self, spark, sf_dir):
        """Structural bounds plus liveness: hits can never exceed the
        exact top-k, and at default nprobe the panel must show a real
        speed/recall trade (not a tautological all-1.0 audit)."""
        from ssb_coefficient_maker_spark.queries import (
            Q228_TOP_K,
            q228_ann_recall_audit,
        )

        out = q228_ann_recall_audit(spark, sf_dir).toPandas()
        assert len(out) > 0
        assert (out.n_hits <= out.n_exact).all()
        assert (out.n_exact <= Q228_TOP_K).all()
        assert out.recall.between(0.0, 1.0).all()
        assert (out.recall < 1.0).any(), "audit should measure a real trade"
        assert (out.recall > 0.0).any()

    def test_full_probe_recovers_exact_topk(self, spark, sf_dir):
        """Probing ALL cells degenerates IVF to brute force: recall
        must be exactly 1.0 for every panel query — the correctness
        anchor that separates 'recall loss from nprobe' (expected)
        from 'recall loss from a broken index' (a bug)."""
        from ssb_coefficient_maker_spark.queries import (
            Q228_CENTROIDS,
            q228_ann_recall_audit,
        )

        out = q228_ann_recall_audit(
            spark, sf_dir, nprobe=Q228_CENTROIDS
        ).toPandas()
        assert (out.recall == 1.0).all()
        assert (out.n_hits == out.n_exact).all()


# ------------------------------ tokenizer fertility audit (q229)


class TestTokenizerFertility:
    def test_matches_python_reference_apply(self, spark, sf_dir):
        """Re-train 3 merges in pure python, re-apply to per-lang word
        counts, and match every reported number."""
        from ssb_coefficient_maker_spark.operators.text import (
            BPE_ROUNDS,
            q229_tokenizer_fertility,
        )

        got = q229_tokenizer_fertility(spark, sf_dir).toPandas()
        rows = (
            load_table(spark, sf_dir, "documents")
            .select("lang", "text")
            .collect()
        )
        counts: dict = {}
        lang_words: dict = {}
        for r in rows:
            for w in r.text.strip().split():
                counts[w] = counts.get(w, 0) + 1
                lang_words.setdefault(r.lang, {})
                lang_words[r.lang][w] = lang_words[r.lang].get(w, 0) + 1
        # replay training to get the final vocab
        vocab = {w: list(w) for w in counts}
        for _ in range(BPE_ROUNDS):
            pc: dict = {}
            for w, toks in vocab.items():
                for i in range(len(toks) - 1):
                    p = (toks[i], toks[i + 1])
                    pc[p] = pc.get(p, 0) + counts[w]
            mx = max(pc.values())
            a, b = min(p for p, c in pc.items() if c == mx)
            for w, toks in vocab.items():
                merged, i = [], 0
                while i < len(toks):
                    if i + 1 < len(toks) and toks[i] == a and toks[i + 1] == b:
                        merged.append(a + b)
                        i += 2
                    else:
                        merged.append(toks[i])
                        i += 1
                vocab[w] = merged
        for row in got.itertuples():
            lw = lang_words[row.lang]
            n_words = sum(lw.values())
            n_tokens = sum(n * len(vocab[w]) for w, n in lw.items())
            n_chars = sum(n * len(w) for w, n in lw.items())
            assert row.n_words == n_words
            assert row.n_tokens == n_tokens
            assert row.n_chars == n_chars
            assert abs(row.fertility - round(n_tokens / n_words, 4)) <= 1e-9
            assert (
                abs(row.compression - round(n_chars / n_tokens, 4)) <= 1e-9
            )

    def test_structural_bounds(self, spark, sf_dir):
        from ssb_coefficient_maker_spark.operators.text import (
            q229_tokenizer_fertility,
        )

        out = q229_tokenizer_fertility(spark, sf_dir).toPandas()
        assert (out.fertility >= 1.0).all()  # a word is >= 1 token
        assert (out.compression >= 1.0).all()  # a token is >= 1 char
        assert (out.n_tokens <= out.n_chars).all()
        assert (out.n_words <= out.n_tokens).all()


# ------------------------------------- LSH index lineage (round 8)


class TestLshLineage:
    """The idempotent/lineage-preserving append (append_to_lsh_index +
    PinnedCache.rekey): a warm daily cycle must be probe-only, the
    parent generation must survive the handoff, and the chain must be
    bounded at two generations."""

    CACHE = "t8_lsh_lineage"

    def _release(self):
        from ssb_coefficient_maker_spark.cachereg import get_cache

        get_cache(self.CACHE).release()

    def test_warm_cycle_hits_parent_and_union(self, spark, sf_dir):
        from ssb_coefficient_maker_spark.operators.dedup import (
            append_to_lsh_index,
            build_lsh_index,
        )

        self._release()
        docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
        corpus = docs.filter(F.col("doc_id") % 5 <= 2)
        batch = docs.filter(F.col("doc_id") % 5 == 3)

        idx0 = build_lsh_index(corpus, family="md5", cache_name=self.CACHE)
        grown = append_to_lsh_index(corpus, batch, family="md5", cache_name=self.CACHE)

        # re-append: idempotent cache hit, nothing rebuilt
        grown2 = append_to_lsh_index(corpus, batch, family="md5", cache_name=self.CACHE)
        assert grown2[0] is grown[0] and grown2[1] is grown[1]

        # re-build of the PRE-append corpus: lineage-parent hit — the
        # handoff did not evict day-0's index
        idx0_again = build_lsh_index(corpus, family="md5", cache_name=self.CACHE)
        assert idx0_again[0] is idx0[0] and idx0_again[1] is idx0[1]
        self._release()

    def test_lineage_bounded_at_two_generations(self, spark, sf_dir):
        from ssb_coefficient_maker_spark.cachereg import get_cache
        from ssb_coefficient_maker_spark.operators.dedup import (
            append_to_lsh_index,
            build_lsh_index,
        )

        self._release()
        docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
        corpus = docs.filter(F.col("doc_id") % 5 <= 2)
        batch1 = docs.filter(F.col("doc_id") % 5 == 3)
        batch2 = docs.filter(F.col("doc_id") % 5 == 4)

        gen0 = build_lsh_index(corpus, family="md5", cache_name=self.CACHE)
        gen1 = append_to_lsh_index(corpus, batch1, family="md5", cache_name=self.CACHE)
        gen2 = append_to_lsh_index(
            corpus.unionByName(batch1), batch2, family="md5", cache_name=self.CACHE
        )

        cache = get_cache(self.CACHE)
        frames = cache.pinned_frames()
        # exactly gen2 (primary) + gen1 (parent): 2 frames each
        assert len(frames) == 4, len(frames)
        ids = {id(df) for df in frames}
        assert {id(gen2[0]), id(gen2[1]), id(gen1[0]), id(gen1[1])} == ids
        # the grandparent was released (its frames no longer cached)
        assert not gen0[0].is_cached and not gen0[1].is_cached
        # parent still served, grandparent rebuilds fresh
        assert build_lsh_index(
            corpus.unionByName(batch1), family="md5", cache_name=self.CACHE
        )[0] is gen1[0]
        self._release()

    def test_rekey_same_corpus_is_noop(self, spark):
        from ssb_coefficient_maker_spark.cachereg import PinnedCache

        c = PinnedCache("t8_noop")
        df = spark.range(3).persist()
        c.store("k1", (), "v", pinned=[df])
        c.rekey("k1", keep={})
        assert c.lookup("k1", ()) == "v"
        assert df.is_cached
        c.release()

    def test_ivf_append_idempotent_and_parent_carried(self, spark, sf_dir):
        from ssb_coefficient_maker_spark.cachereg import get_cache
        from ssb_coefficient_maker_spark.operators.similarity import (
            ivf_append,
            ivf_index_from,
        )

        get_cache("ivf_ingest_index").release()
        emb = load_table(spark, sf_dir, "embeddings")
        corpus = emb.filter(F.col("vec_id") % 5 != 4)
        batch = emb.filter(F.col("vec_id") % 5 == 4)

        idx = ivf_index_from(corpus, ("t8", "corpus"), n_centroids=4, iters=1)
        grown = ivf_append(
            idx, batch, ("t8", "grown"), n_centroids=4, iters=1,
            parent_key=("t8", "corpus"),
        )
        # idempotent re-append: cache hit, same objects
        grown2 = ivf_append(
            idx, batch, ("t8", "grown"), n_centroids=4, iters=1,
            parent_key=("t8", "corpus"),
        )
        assert grown2[1] is grown[1]
        # pre-append corpus index survived the handoff (no retrain)
        idx2 = ivf_index_from(corpus, ("t8", "corpus"), n_centroids=4, iters=1)
        assert idx2[1] is idx[1] and idx2[0] == idx[0]
        get_cache("ivf_ingest_index").release()


# --------------------------------- q230 semantic dedup / q231 segment dedup


class TestSemanticDedup:
    def test_report_shape_and_drop_rule(self, spark, sf_dir):
        """Every drop must be a PLANTED copy (natural max pairwise cos
        on this corpus is ~0.51, measured — far under 0.9), totals must
        be consistent, and the planted copies that co-cluster with
        their source must actually be dropped."""
        from ssb_coefficient_maker_spark.cachereg import get_cache
        from ssb_coefficient_maker_spark.functions.vectors import cosine
        from ssb_coefficient_maker_spark.operators.similarity import (
            Q230_PLANT_OFFSET,
            q230_semantic_dedup,
        )

        get_cache("semantic_dedup_index").release()
        rep = q230_semantic_dedup(spark, sf_dir).toPandas()
        assert list(rep.columns) == ["bucket", "n_vectors", "n_dropped", "n_kept"]
        assert (rep.n_vectors == rep.n_dropped + rep.n_kept).all()
        n_base = (
            load_table(spark, sf_dir, "embeddings")
            .filter(F.col("vec_id") < 2000)
            .count()
        )
        assert rep.n_vectors.sum() == 2 * n_base
        assert rep.n_dropped.sum() > 0

        # reconstruct the dropped set from the pinned assignment and
        # check every dropped id is a planted copy
        assigned = get_cache("semantic_dedup_index").pinned_frames()[0]
        a = assigned.select(
            "bucket", F.col("vec_id").alias("va"), F.col("embedding").alias("ea")
        )
        b = assigned.select(
            "bucket", F.col("vec_id").alias("vb"), F.col("embedding").alias("eb")
        )
        dropped = (
            a.join(b, "bucket")
            .filter(F.col("va") < F.col("vb"))
            .filter(F.round(cosine(F.col("ea"), F.col("eb")), 4) >= 0.9)
            .select("vb")
            .distinct()
            .toPandas()
        )
        assert len(dropped) == rep.n_dropped.sum()
        assert (dropped.vb >= Q230_PLANT_OFFSET).all()

        # warm call reuses the pinned index (same frame object)
        q230_semantic_dedup(spark, sf_dir)
        assert get_cache("semantic_dedup_index").pinned_frames()[0] is assigned
        get_cache("semantic_dedup_index").release()


class TestSegmentDedup:
    def test_matches_pandas_reference(self, spark, sf_dir):
        """Differential: the whole pipeline (segment, first-occurrence
        corpus-wide, reconstruct, fingerprint) against a direct pandas
        reimplementation."""
        import hashlib

        from ssb_coefficient_maker_spark.operators.dedup import (
            Q231_SEG_WIDTH,
            q231_segment_dedup,
        )

        got = q231_segment_dedup(spark, sf_dir).toPandas()
        docs = (
            load_table(spark, sf_dir, "documents")
            .select("doc_id", "text")
            .toPandas()
            .sort_values("doc_id")
        )
        w = Q231_SEG_WIDTH
        seen: set[str] = set()
        want = []
        for _, r in docs.iterrows():
            ws = r.text.split(" ")
            segs = [
                " ".join(ws[i * w : (i + 1) * w])
                for i in range((len(ws) + w - 1) // w)
            ]
            kept = []
            for s in segs:
                if s not in seen:
                    seen.add(s)
                    kept.append(s)
            want.append(
                (
                    r.doc_id,
                    len(segs),
                    len(kept),
                    hashlib.md5(" ".join(kept).encode()).hexdigest(),
                )
            )
        import pandas as pd

        want_df = pd.DataFrame(
            want, columns=["doc_id", "n_segs", "n_kept", "dedup_fp"]
        )
        got = got.sort_values("doc_id").reset_index(drop=True)
        pd.testing.assert_frame_equal(
            got.astype({"n_segs": "int64", "n_kept": "int64"}),
            want_df.astype({"n_segs": "int64", "n_kept": "int64"}),
        )

    def test_untouched_doc_fingerprint_is_md5_of_text(self, spark, sf_dir):
        """A document that keeps every segment reconstructs to its
        exact original text (single-space corpus), so dedup_fp ==
        md5(text) — the reconstruction correctness proof."""
        from ssb_coefficient_maker_spark.operators.dedup import q231_segment_dedup

        got = q231_segment_dedup(spark, sf_dir)
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", F.md5("text").alias("orig_fp")
        )
        joined = got.join(docs, "doc_id").toPandas()
        untouched = joined[joined.n_kept == joined.n_segs]
        assert len(untouched) > 0
        assert (untouched.dedup_fp == untouched.orig_fp).all()


class TestSegmentDedupIngest:
    def _release(self):
        from ssb_coefficient_maker_spark.cachereg import get_cache

        get_cache("segment_dedup_index").release()

    def test_rewrite_invariance(self, spark, sf_dir):
        """The property the append relies on: the segment SET of
        corpus ∪ REWRITTEN batch equals that of corpus ∪ raw batch —
        dropped segments were dropped precisely because the set
        already holds them."""
        from ssb_coefficient_maker_spark.operators.dedup import (
            _segment_table,
            build_segment_index,
            probe_segment_index,
        )

        self._release()
        docs = load_table(spark, sf_dir, "documents")
        corpus = docs.filter(F.col("doc_id") % 5 <= 2)
        batch = docs.filter(F.col("doc_id") % 5 == 3)
        idx = build_segment_index(corpus)
        report = probe_segment_index(batch, idx).toPandas()

        corpus_segs = set(
            r.seg for r in _segment_table(corpus).select("seg").distinct().collect()
        )
        batch_segs = _segment_table(batch).toPandas()
        raw_union = corpus_segs | set(batch_segs.seg)
        # reconstruct the kept segments from the rule and form the
        # rewritten union set
        kept_segs = set()
        seen = set(corpus_segs)
        for _, r in batch_segs.sort_values(["doc_id", "seg_idx"]).iterrows():
            if r.seg not in seen:
                seen.add(r.seg)
                kept_segs.add(r.seg)
        assert corpus_segs | kept_segs == raw_union
        # and the report agrees with the python rule
        assert report.n_kept.sum() == len(kept_segs)
        self._release()

    def test_append_never_resegments_corpus(self, spark, sf_dir):
        """The grown index plan reads the corpus from the pinned index
        (InMemoryTableScan) and scans parquet ONLY for the batch; the
        cycle is idempotent and carries the parent generation."""
        import sys
        from collections import Counter
        from pathlib import Path

        sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
        import plan_audit

        from ssb_coefficient_maker_spark.cachereg import get_cache
        from ssb_coefficient_maker_spark.operators.dedup import (
            _segment_table,
            append_to_segment_index,
            build_segment_index,
        )

        self._release()
        docs = load_table(spark, sf_dir, "documents")
        corpus = docs.filter(F.col("doc_id") % 5 <= 2)
        batch = docs.filter(F.col("doc_id") % 5 == 3)
        idx0 = build_segment_index(corpus)

        lazy_union = idx0.unionByName(
            _segment_table(batch).select("seg").distinct().join(idx0, "seg", "left_anti")
        )
        nodes = Counter(
            n.nodeName()
            for n in plan_audit._walk(lazy_union._jdf.queryExecution().executedPlan())
        )
        assert nodes["InMemoryTableScan"] == 2, nodes  # union side + anti-join side
        assert sum(v for k, v in nodes.items() if k.startswith("Scan parquet")) == 1, nodes

        grown = append_to_segment_index(corpus, batch)
        grown2 = append_to_segment_index(corpus, batch)
        assert grown2 is grown
        idx0_again = build_segment_index(corpus)
        assert idx0_again is idx0
        # grown set == distinct segments of the raw union
        want = (
            _segment_table(corpus.unionByName(batch)).select("seg").distinct().count()
        )
        assert grown.count() == want
        self._release()


class TestPinnedCacheRekey:
    """Spark-free contract tests for PinnedCache.rekey: carried frames
    survive untouched, everything else is freed, and arbitrary
    build/append chains never hold more than the carried generations."""

    class FakeDF:
        def __init__(self):
            self.cached = True

        def unpersist(self, blocking=False):
            self.cached = False

    def test_carried_entry_survives_others_freed(self):
        from ssb_coefficient_maker_spark.cachereg import PinnedCache

        c = PinnedCache("t8_rekey")
        keep_df, drop_df = self.FakeDF(), self.FakeDF()
        c.store("gen0", "keep", "v_keep", pinned=[keep_df])
        c.store("gen0", "drop", "v_drop", pinned=[drop_df])
        c.rekey("gen1", keep={("parent", "gen0"): "keep"})
        assert c.lookup_lineage(("parent", "gen0")) == "v_keep"
        assert keep_df.cached and not drop_df.cached
        assert c.lookup("gen0", "keep") is None  # corpus moved on
        assert c.lookup("gen1", ("parent", "gen0")) == "v_keep"

    def test_missing_old_param_is_not_an_error(self):
        from ssb_coefficient_maker_spark.cachereg import PinnedCache

        c = PinnedCache("t8_rekey2")
        df = self.FakeDF()
        c.store("gen0", (), "v", pinned=[df])
        c.rekey("gen1", keep={("parent", "gen0"): "no_such_param"})
        assert not df.cached  # nothing carried -> released
        assert c.lookup_lineage(("parent", "gen0")) is None

    def test_random_append_chains_bounded(self):
        import random

        from ssb_coefficient_maker_spark.cachereg import PinnedCache

        rng = random.Random(42)
        for _trial in range(50):
            c = PinnedCache("t8_chain")
            live: list[tuple[str, "TestPinnedCacheRekey.FakeDF"]] = []
            gen = 0
            df = self.FakeDF()
            c.store(f"g{gen}", (), f"v{gen}", pinned=[df])
            live.append((f"g{gen}", df))
            for _step in range(rng.randint(1, 8)):
                new_gen = gen + 1
                ndf = self.FakeDF()
                old_param = (
                    () if c.lookup(f"g{gen}", ()) is not None
                    else ("parent", f"g{gen}")
                )
                c.rekey(f"g{new_gen}", keep={("parent", f"g{gen}"): old_param})
                c.store(f"g{new_gen}", (), f"v{new_gen}", pinned=[ndf])
                live.append((f"g{new_gen}", ndf))
                gen = new_gen
                # invariant: at most the primary + one parent cached
                cached = [d for _n, d in live if d.cached]
                assert len(cached) == min(2, len(live))
                assert c.lookup(f"g{gen}", ()) == f"v{gen}"
                assert c.lookup_lineage(("parent", f"g{gen - 1}")) == f"v{gen - 1}"
                if gen >= 2:
                    assert c.lookup_lineage(("parent", f"g{gen - 2}")) is None
            c.release()
            assert not any(d.cached for _n, d in live)


# --------------------------- q231/q232 property fuzz (hypothesis)


def _py_segment_dedup(texts: list[str], width: int, preseen: set[str] | None = None):
    """Pure-python reference for the segment-dedup rule."""
    import hashlib

    seen = set(preseen or ())
    out = []
    for doc_id, text in enumerate(texts):
        ws = text.split(" ")
        segs = [
            " ".join(ws[i * width : (i + 1) * width])
            for i in range((len(ws) + width - 1) // width)
        ]
        kept = []
        for s in segs:
            if s not in seen:
                seen.add(s)
                kept.append(s)
        out.append(
            (
                doc_id,
                len(segs),
                len(kept),
                hashlib.md5(" ".join(kept).encode()).hexdigest(),
            )
        )
    return out


class TestSegmentDedupFuzz:
    def test_hypothesis_matches_python_reference(self, spark):
        import pandas as pd
        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st

        from ssb_coefficient_maker_spark.operators.dedup import segment_dedup_report

        word = st.sampled_from(["a", "bb", "ccc", "dd", "e"])  # tiny vocab -> collisions
        text = st.lists(word, min_size=1, max_size=23).map(" ".join)

        @settings(
            max_examples=12,
            deadline=None,
            suppress_health_check=[HealthCheck.too_slow],
        )
        @given(st.lists(text, min_size=1, max_size=8), st.integers(2, 4))
        def check(texts, width):
            docs = spark.createDataFrame(
                [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
            )
            got = (
                segment_dedup_report(docs, width)
                .toPandas()
                .sort_values("doc_id")
                .reset_index(drop=True)
            )
            want = pd.DataFrame(
                _py_segment_dedup(texts, width),
                columns=["doc_id", "n_segs", "n_kept", "dedup_fp"],
            )
            pd.testing.assert_frame_equal(
                got.astype({"n_segs": "int64", "n_kept": "int64"}), want
            )

        check()

    def test_single_word_and_repeated_docs(self, spark):
        from ssb_coefficient_maker_spark.operators.dedup import segment_dedup_report

        docs = spark.createDataFrame(
            [(0, "x"), (1, "x"), (2, "x y z"), (3, "x y z")],
            "doc_id long, text string",
        )
        got = segment_dedup_report(docs, 5).toPandas().set_index("doc_id")
        assert got.loc[0].n_kept == 1
        assert got.loc[1].n_kept == 0  # exact dup of doc 0's only segment
        assert got.loc[2].n_kept == 1
        assert got.loc[3].n_kept == 0
        import hashlib

        assert got.loc[1].dedup_fp == hashlib.md5(b"").hexdigest()


class TestLshRecallAudit:
    def test_anchors_and_monotonicity(self, spark, sf_dir):
        """The structural anchor: the J>=0.95 bin (exact copies) must
        read recall 1.0 — identical shingle sets give identical
        signatures and bands; and the banding collapse must be real
        (strictly sub-1 recall in the lowest bin), with recall
        non-decreasing in J."""
        from ssb_coefficient_maker_spark.cachereg import get_cache
        from ssb_coefficient_maker_spark.operators.dedup import q233_lsh_recall_audit

        get_cache("lsh_recall_audit").release()
        rep = q233_lsh_recall_audit(spark, sf_dir).toPandas()
        assert list(rep.columns) == ["bin_lo", "n_true", "n_recovered", "recall"]
        assert (rep.n_true > 0).all()  # every bin populated by the ladder
        top = rep[rep.bin_lo == 0.95]
        assert len(top) == 1 and top.recall.iloc[0] == 1.0
        low = rep[rep.bin_lo == 0.2]
        assert len(low) == 1 and low.recall.iloc[0] < 0.5
        r = rep.sort_values("bin_lo").recall.tolist()
        assert r == sorted(r)
        get_cache("lsh_recall_audit").release()


class TestDominanceKernelFuzz:
    def test_matches_numpy_reference(self, spark):
        """_dominance_dropped (Arrow grouped map) vs a direct numpy
        reference on random clustered vectors — drop b iff some
        lower-id a in the same bucket has round(cos,4) >= t."""
        import numpy as np

        rng = np.random.default_rng(7)
        for trial in range(3):
            n, dim, k = 60, 8, 4
            mat = rng.normal(size=(n, dim))
            # plant a few near-dups so drops exist
            for i in range(0, 12, 2):
                mat[i + 1] = mat[i] + rng.normal(scale=0.01, size=dim)
            buckets = rng.integers(0, k, size=n)
            buckets[1:12:2] = buckets[0:12:2]  # co-cluster planted pairs
            t = 0.95
            rows = [
                (int(i), [float(x) for x in mat[i]], int(buckets[i]))
                for i in range(n)
            ]
            df = spark.createDataFrame(
                rows, "vec_id long, embedding array<double>, bucket int"
            )
            from ssb_coefficient_maker_spark.operators.dedup import normalized_text  # noqa: F401
            from ssb_coefficient_maker_spark.operators.similarity import (
                _dominance_dropped,
                _seq_norms,
            )

            got = sorted(
                r.vec_id for r in _dominance_dropped(df, t).collect()
            )
            # numpy reference with the same sequential accumulation
            want = set()
            for b in range(k):
                ids = np.nonzero(buckets == b)[0]
                ids = ids[np.argsort(ids)]
                m = mat[ids]
                acc = np.zeros((len(ids), len(ids)))
                for d in range(dim):
                    acc += np.outer(m[:, d], m[:, d])
                cos = np.round(acc / np.outer(_seq_norms(m), _seq_norms(m)), 4)
                ii, jj = np.nonzero(np.triu(cos >= t, k=1))
                want.update(int(ids[j]) for j in jj)
            assert got == sorted(want), (trial, got, sorted(want))
            assert len(got) > 0  # planted pairs must produce drops
