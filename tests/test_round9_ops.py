"""Round-9 tests: the round-8 ADVICE fixes (same-corpus rekey carry,
half-away-from-zero dominance rounding, the q233 column-API rewrite),
the storage-backed LSH index round-trip (q234), and the
``leontief(a, tol)`` grammar form (q235)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ssb_coefficient_maker_spark.sources.loaders import load_table


# ------------------------------------ PinnedCache.rekey same-corpus carry


class TestRekeySameCorpus:
    """rekey() on an already-current corpus must still apply the
    ``keep`` param-key renames (round-8 ADVICE: the old early return
    silently dropped them, quietly breaking the parent-carry contract
    for a caller appending under an already-rekeyed corpus)."""

    def test_same_corpus_rename_applies(self, spark):
        from ssb_coefficient_maker_spark.cachereg import PinnedCache

        c = PinnedCache("t9_samekey_rename")
        df = spark.range(3).persist()
        c.store("k1", ("main",), "v_main", pinned=[df])
        c.rekey("k1", keep={("parent", "k0"): ("main",)})
        # the entry moved to the new param key, frames still pinned
        assert c.lookup("k1", ("main",)) is None
        assert c.lookup("k1", ("parent", "k0")) == "v_main"
        assert df.is_cached
        c.release()

    def test_same_corpus_rename_is_idempotent(self, spark):
        from ssb_coefficient_maker_spark.cachereg import PinnedCache

        c = PinnedCache("t9_samekey_idem")
        df = spark.range(3).persist()
        c.store("k1", ("main",), "v_main", pinned=[df])
        c.rekey("k1", keep={("parent", "k0"): ("main",)})
        # second identical call: source key absent -> no-op, value kept
        c.rekey("k1", keep={("parent", "k0"): ("main",)})
        assert c.lookup("k1", ("parent", "k0")) == "v_main"
        assert df.is_cached
        c.release()

    def test_same_corpus_rename_frees_displaced_entry(self, spark):
        from ssb_coefficient_maker_spark.cachereg import PinnedCache

        c = PinnedCache("t9_samekey_displace")
        moved = spark.range(3).persist()
        displaced = spark.range(5).persist()
        c.store("k1", ("main",), "v_new", pinned=[moved])
        c.store("k1", ("parent", "k0"), "v_old", pinned=[displaced])
        c.rekey("k1", keep={("parent", "k0"): ("main",)})
        assert c.lookup("k1", ("parent", "k0")) == "v_new"
        assert moved.is_cached
        assert not displaced.is_cached  # freed, exactly like store()
        c.release()

    def test_identity_rename_is_noop(self, spark):
        from ssb_coefficient_maker_spark.cachereg import PinnedCache

        c = PinnedCache("t9_samekey_identity")
        df = spark.range(3).persist()
        c.store("k1", ("main",), "v", pinned=[df])
        c.rekey("k1", keep={("main",): ("main",)})
        assert c.lookup("k1", ("main",)) == "v"
        assert df.is_cached
        c.release()


# --------------------------- q230 dominance rounding (half away from zero)


class TestDominanceRounding:
    def test_half_away_from_zero_matches_duckdb(self):
        """The dominance kernel's 4-decimal round must be half AWAY
        FROM ZERO (DuckDB round()), not numpy banker's — a cosine
        landing exactly on a 5 in the 5th decimal must round UP
        (round-8 ADVICE)."""
        import numpy as np

        q = np.array([0.89995, 0.90005, -0.89995, 0.25135, 0.25145])
        got = np.sign(q) * np.floor(np.abs(q) * 1e4 + 0.5) / 1e4
        # duckdb: round(0.89995, 4) = 0.9, round(0.90005, 4) = 0.9001
        assert got[0] == pytest.approx(0.9)
        assert got[1] == pytest.approx(0.9001)
        assert got[2] == pytest.approx(-0.9)
        # banker's would give 0.2514 / 0.2514; half-away gives .2514/.2515
        assert got[3] == pytest.approx(0.2514)
        assert got[4] == pytest.approx(0.2515)

    def test_dominance_kernel_unchanged_off_ties(self, spark):
        """Off rounding ties (every real corpus value) the new rounding
        is identical to np.round — the planted-copy drop rule still
        fires and nothing else does."""
        import numpy as np

        from ssb_coefficient_maker_spark.operators.similarity import (
            _dominance_dropped,
        )

        rng = np.random.default_rng(9)
        base = rng.normal(size=(6, 8)).tolist()
        rows = [(i, 0, base[i]) for i in range(6)]
        rows.append((100, 0, base[2]))  # exact copy of vec 2 -> cos 1.0
        df = spark.createDataFrame(
            rows, "vec_id long, bucket int, embedding array<double>"
        )
        out = _dominance_dropped(df, threshold=0.9).toPandas()
        assert sorted(out.vec_id.tolist()) == [100]


# ------------------------------------------- q233 variant construction


class TestQ233VariantTail:
    def test_tail_markers_use_base_doc_id(self, spark, sf_dir):
        """The level-unique tail markers must carry the BASE doc id —
        the round-8 ADVICE rewrite moved the id shift to a second
        projection precisely because an HOF lambda's outer reference
        resolves against the projection output (the shifted id), not
        the input."""
        from ssb_coefficient_maker_spark.cachereg import get_cache
        from ssb_coefficient_maker_spark.operators.dedup import (
            Q233_VARIANT_STRIDE,
            q233_lsh_recall_audit,
        )

        get_cache("lsh_recall_audit").release()
        q233_lsh_recall_audit(spark, sf_dir)  # builds + pins the corpus
        sh_tbl, _bands = get_cache("lsh_recall_audit").pinned_frames()[0], None
        # level-1 variant of base doc 0 keeps half the words; its
        # dropped tail words end in '_1_0' (base id 0), which after
        # 5-shingling means its shingle set shares ~1/3 with doc 0 —
        # nonzero, which the recall audit's truth table relies on
        out = q233_lsh_recall_audit(spark, sf_dir).toPandas()
        assert len(out) == 4
        assert out.bin_lo.tolist() == [0.2, 0.45, 0.7, 0.95]
        # the J=1 structural anchor: exact copies always collide
        assert out.recall.iloc[3] == 1.0
        get_cache("lsh_recall_audit").release()


# --------------------------------- q234 stored LSH index round-trip


class TestLshStoreRoundtrip:
    """The storage-backed index lifecycle: persist day-0, RESTART
    (release every session cache), reload from parquet only, probe,
    delta-append, and land on the exact in-memory q217 result."""

    def _tmp_root(self, tmp_path):
        # the root NAME is the geometry manifest (round-10: writers/
        # loaders derive family/k from it) — mint it like
        # lsh_store_root does, md5 family to match the probes below
        from ssb_coefficient_maker_spark.operators.dedup import N_BANDS, N_HASHES

        return str(tmp_path / f"lsh_store_md5_k5_h{N_HASHES}_b{N_BANDS}_v1")

    def test_restart_reload_probe_append_equals_memory_cycle(
        self, spark, sf_dir, tmp_path
    ):
        from ssb_coefficient_maker_spark.cachereg import get_cache, release_all
        from ssb_coefficient_maker_spark.operators.dedup import (
            append_lsh_store_delta,
            load_lsh_store,
            probe_lsh_index,
            q217_lsh_probe_append_cycle,
            write_lsh_store_base,
        )

        root = self._tmp_root(tmp_path)
        docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 600)
        corpus0 = docs.filter(F.col("doc_id") % 5 <= 2)
        batch1 = docs.filter(F.col("doc_id") % 5 == 3)
        batch2 = docs.filter(F.col("doc_id") % 5 == 4)

        assert write_lsh_store_base(corpus0, root, family="md5")
        # ---- RESTART: drop every pinned session cache ----
        release_all()
        # the reload will read NOTHING but the store parquet — check
        # the segment paths' files BEFORE load pins the plan (once
        # cached, any identical read is substituted by the cache
        # manager with InMemoryRelation, which reports no files)
        from ssb_coefficient_maker_spark.operators.dedup import (
            lsh_store_segments,
        )
        import os

        for sub in ("bands", "shingles"):
            paths = [
                os.path.join(root, s, sub) for s in lsh_store_segments(root)
            ]
            files = spark.read.parquet(*paths).inputFiles()
            assert files and all(root in f for f in files), files[:3]
        index0 = load_lsh_store(spark, root)
        # the probe's corpus side is served from the pinned reload
        # (InMemoryTableScan), parquet-scanning only the batch docs
        import sys
        from collections import Counter
        from pathlib import Path

        sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
        import plan_audit

        probe_plan = (
            probe_lsh_index(batch1, index0, threshold=0.4, family="md5")
            ._jdf.queryExecution()
            .executedPlan()
        )
        nodes = Counter(n.nodeName() for n in plan_audit._walk(probe_plan))
        assert nodes["InMemoryTableScan"] == 2, nodes
        parquet_scans = sum(
            v for k, v in nodes.items() if k.startswith("Scan parquet")
        )
        assert parquet_scans == 2, nodes
        dups1 = (
            probe_lsh_index(batch1, index0, threshold=0.4, family="md5")
            .select("new_doc_id")
            .distinct()
        )
        kept1 = batch1.join(dups1, batch1.doc_id == dups1.new_doc_id, "left_anti")
        assert append_lsh_store_delta(kept1, root, "day1", family="md5")
        # ---- second restart: day-2 probe against the merged store ----
        release_all()
        index1 = load_lsh_store(spark, root)
        got = (
            probe_lsh_index(batch2, index1, threshold=0.4, family="md5")
            .toPandas()
            .sort_values(["new_doc_id", "corpus_doc_id"])
            .reset_index(drop=True)
        )

        # in-memory twin on the same slice (dedicated cache slot)
        get_cache("lsh_cycle_index").release()
        from ssb_coefficient_maker_spark.operators.dedup import (
            append_to_lsh_index,
            build_lsh_index,
        )

        idx0 = build_lsh_index(corpus0, family="md5", cache_name="t9_mem_cycle")
        d1 = (
            probe_lsh_index(batch1, idx0, threshold=0.4, family="md5")
            .select("new_doc_id")
            .distinct()
        )
        k1 = batch1.join(d1, batch1.doc_id == d1.new_doc_id, "left_anti")
        idx1 = append_to_lsh_index(
            corpus0, k1, family="md5", cache_name="t9_mem_cycle"
        )
        want = (
            probe_lsh_index(batch2, idx1, threshold=0.4, family="md5")
            .toPandas()
            .sort_values(["new_doc_id", "corpus_doc_id"])
            .reset_index(drop=True)
        )
        get_cache("t9_mem_cycle").release()
        release_all()
        import pandas as pd

        pd.testing.assert_frame_equal(got, want)

    def test_append_is_idempotent_and_never_touches_base(
        self, spark, sf_dir, tmp_path
    ):
        import os

        from ssb_coefficient_maker_spark.cachereg import release_all
        from ssb_coefficient_maker_spark.operators.dedup import (
            append_lsh_store_delta,
            load_lsh_store,
            write_lsh_store_base,
        )

        root = self._tmp_root(tmp_path)
        docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
        corpus = docs.filter(F.col("doc_id") % 2 == 0)
        batch = docs.filter(F.col("doc_id") % 2 == 1)
        write_lsh_store_base(corpus, root, family="md5")

        def snapshot(seg):
            out = {}
            for sub in ("bands", "shingles"):
                d = os.path.join(root, seg, sub)
                for e in os.scandir(d):
                    out[e.path] = e.stat().st_mtime_ns
            return out

        base_before = snapshot("base")
        assert append_lsh_store_delta(batch, root, "day1", family="md5")
        assert snapshot("base") == base_before  # base files untouched
        delta_before = snapshot("delta/day1")
        # complete delta is never rewritten
        assert not append_lsh_store_delta(batch, root, "day1", family="md5")
        assert snapshot("delta/day1") == delta_before
        # base is idempotent too
        assert not write_lsh_store_base(corpus, root, family="md5")
        # loaded row count = corpus + batch shingle rows
        bands, sh = load_lsh_store(spark, root)
        assert sh.count() == docs.count()
        release_all()

    def test_append_without_base_refuses(self, spark, sf_dir, tmp_path):
        from ssb_coefficient_maker_spark.operators.dedup import (
            append_lsh_store_delta,
        )

        docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
        with pytest.raises(ValueError, match="no complete base|write_lsh_store_base"):
            append_lsh_store_delta(
                docs, self._tmp_root(tmp_path), "day1", family="md5"
            )

    def test_warm_load_is_cache_hit_and_new_delta_evicts(
        self, spark, sf_dir, tmp_path
    ):
        from ssb_coefficient_maker_spark.cachereg import get_cache, release_all
        from ssb_coefficient_maker_spark.operators.dedup import (
            append_lsh_store_delta,
            load_lsh_store,
            write_lsh_store_base,
        )

        root = self._tmp_root(tmp_path)
        docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
        corpus = docs.filter(F.col("doc_id") % 2 == 0)
        batch = docs.filter(F.col("doc_id") % 2 == 1)
        write_lsh_store_base(corpus, root, family="md5")
        release_all()
        a = load_lsh_store(spark, root)
        b = load_lsh_store(spark, root)
        assert a[0] is b[0] and a[1] is b[1]  # warm load: cache hit
        append_lsh_store_delta(batch, root, "day1", family="md5")
        c = load_lsh_store(spark, root)  # new segment set -> new corpus key
        assert c[0] is not a[0]
        # cap-at-one: the pre-append pin was evicted with the key change
        assert not a[0].is_cached and not a[1].is_cached
        assert c[0].is_cached and c[1].is_cached
        frames = get_cache("lsh_store_index").pinned_frames()
        assert len(frames) == 2
        release_all()


# ----------------------------------- leontief(a, tol) in the grammar


class TestLeontiefFormula:
    """``leontief(a[, tol])`` — the convergence-checked Leontief
    total-requirements construction reachable from formula strings
    (VERDICT r8 item 6: ``neumann(a, k)`` made the caller pick the
    depth; here the data does)."""

    def _fe(self, spark, **frames):
        from ssb_coefficient_maker_spark.api import FormulaEvaluator

        return FormulaEvaluator(frames, spark=spark)

    def _a(self, scale=0.5):
        import numpy as np
        import pandas as pd

        rng = np.random.default_rng(35)
        raw = rng.uniform(0.1, 1.0, size=(4, 4))
        lbl = list("wxyz")
        return pd.DataFrame(
            raw / raw.sum(axis=0) * scale, index=lbl, columns=lbl
        )

    def test_matches_numpy_inverse(self, spark):
        import numpy as np

        a = self._a()
        got = self._fe(spark, a=a).evaluate_to_pandas("leontief(a, 1e-12)")
        got = got.sort_index()[sorted(got.columns)]
        exp = np.linalg.inv(np.eye(4) - a.values)
        assert np.allclose(got.values, exp, atol=1e-9)

    def test_default_tol(self, spark):
        import numpy as np

        a = self._a()
        got = self._fe(spark, a=a).evaluate_to_pandas("leontief(a)")
        got = got.sort_index()[sorted(got.columns)]
        exp = np.linalg.inv(np.eye(4) - a.values)
        assert np.allclose(got.values, exp, atol=1e-7)

    def test_gross_output_workflow(self, spark):
        """x = (I - A)^-1 d in ONE formula string: leontief composing
        inside a matmul — the full input-output ask, with the data
        (not the caller) choosing the series depth."""
        import numpy as np
        import pandas as pd

        a = self._a()
        d = pd.DataFrame(
            {"demand": [10.0, 20.0, 30.0, 40.0]}, index=list("wxyz")
        )
        got = self._fe(spark, a=a, d=d).evaluate_to_pandas(
            "leontief(a, 1e-10) @ d"
        )
        exp = np.linalg.inv(np.eye(4) - a.values) @ d.values
        assert np.allclose(
            got.sort_index()["demand"].values, exp.ravel(), atol=1e-7
        )

    def test_tol_must_be_literal_positive(self, spark):
        import pytest

        from ssb_coefficient_maker_spark.formula.parser import (
            FormulaError,
            parse_formula,
        )

        for bad in (
            "leontief(a, 0)",
            "leontief(a, -1e-5)",
            "leontief(a, t)",
            "leontief(a, 1e-5, 3)",
            "leontief()",
        ):
            with pytest.raises(FormulaError, match="leontief"):
                parse_formula(bad)

    def test_divergent_matrix_raises_through_formula(self, spark):
        import pytest

        a = self._a(scale=1.6)  # spectral radius > 1
        with pytest.raises(ValueError, match="converge"):
            self._fe(spark, a=a).evaluate_formula("leontief(a, 1e-10)")

    def test_adp_refuses_driver_side(self, spark):
        import pytest

        from ssb_coefficient_maker_spark.api import FormulaEvaluator

        fe = FormulaEvaluator({"a": self._a()}, spark=spark, adp_enabled=True)
        with pytest.raises(NotImplementedError, match="leontief"):
            fe.evaluate_formula("leontief(a)")

    def test_wide_path_refuses(self, spark):
        import pytest

        from ssb_coefficient_maker_spark.formula.parser import (
            FormulaError,
            evaluate,
            parse_formula,
        )
        from ssb_coefficient_maker_spark.functions.math import SQL_OPS

        with pytest.raises(FormulaError, match="triplet"):
            evaluate(parse_formula("leontief(a)"), lambda n: None, SQL_OPS)

    def test_variables_and_routing_predicates(self, spark):
        from ssb_coefficient_maker_spark.formula.parser import (
            extract_variables,
            matrix_ops,
            parse_formula,
        )

        e = parse_formula("leontief(a, 1e-8) @ d + b")
        assert extract_variables(e) == ["a", "d", "b"]
        assert matrix_ops(e) == ["matmul ('@')", "leontief()"]  # no transpose
        assert "transpose ('.T')" in matrix_ops(parse_formula("leontief(a.T)"))


# ----------------------------------- driver-priority derivation gate


class TestDriverPriorityGate:
    def test_head_covers_never_sampled_and_stale(self):
        """The CI half of VERDICT r8 item 1: queries.py's
        _DRIVER_PRIORITY must keep every never-sampled query and every
        stale query (code changed since its latest driver verdict,
        symbol-closure rule) inside the driver's 50-slot sample
        prefix. Regenerate with `python tools/driver_priority.py`
        whenever this fails."""
        import os
        import sys

        sys.path.insert(
            0,
            os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools"),
        )
        import driver_priority as dp

        from ssb_coefficient_maker_spark.queries import queries

        ordered, info = dp.derive()
        must = set(info["never"]) | (
            info["stale"] & set(ordered[: dp.SAMPLE_SLOTS])
        )
        current_head = set(list(queries())[: dp.SAMPLE_SLOTS])
        missing = must - current_head
        assert not missing, (
            f"stale head — regenerate with tools/driver_priority.py: "
            f"{sorted(missing)}"
        )


# --------------------------------- q236 stored IVF index round-trip


class TestIvfStoreRoundtrip:
    """q234's storage lifecycle applied to the ANN family: persist
    quantizer + assignment, restart, reload, frozen-centroid delta
    append, probe — landing on the exact in-memory q221 result."""

    def _root(self, tmp_path):
        return str(tmp_path / "ivf_store")

    def test_restart_reload_append_probe_equals_memory_cycle(
        self, spark, sf_dir, tmp_path
    ):
        import pandas as pd

        from ssb_coefficient_maker_spark.cachereg import get_cache, release_all
        from ssb_coefficient_maker_spark.operators.similarity import (
            _query_vector,
            append_ivf_store_delta,
            ivf_append,
            ivf_index_from,
            ivf_probe,
            load_ivf_store,
            write_ivf_store_base,
        )

        root = self._root(tmp_path)
        emb = load_table(spark, sf_dir, "embeddings")
        corpus = emb.filter(F.col("vec_id") % 5 != 4)
        batch = emb.filter(F.col("vec_id") % 5 == 4)

        assert write_ivf_store_base(corpus, root, n_centroids=6)
        # ---- RESTART: drop every pinned session cache ----
        release_all()
        assert append_ivf_store_delta(batch, root, "day1")
        release_all()
        cents, assigned = load_ivf_store(spark, root)
        q, qvals = _query_vector(spark, sf_dir, 0)
        got = (
            ivf_probe((cents, assigned), q, qvals, k=8, nprobe=2, exclude_id=0)
            .toPandas()
            .reset_index(drop=True)
        )

        # in-memory twin (q221's cycle on the same slice)
        get_cache("ivf_ingest_index").release()
        idx = ivf_index_from(corpus, ("t9", "c"), n_centroids=6, iters=3)
        grown = ivf_append(
            idx, batch, ("t9", "g"), n_centroids=6, iters=3,
            parent_key=("t9", "c"),
        )
        want = (
            ivf_probe(grown, q, qvals, k=8, nprobe=2, exclude_id=0)
            .toPandas()
            .reset_index(drop=True)
        )
        get_cache("ivf_ingest_index").release()
        release_all()
        pd.testing.assert_frame_equal(got, want)
        # and the stored quantizer IS the trained one, bit-exact
        assert cents == idx[0]

    def test_append_idempotent_base_untouched_and_refusal(
        self, spark, sf_dir, tmp_path
    ):
        import os

        from ssb_coefficient_maker_spark.cachereg import release_all
        from ssb_coefficient_maker_spark.operators.similarity import (
            append_ivf_store_delta,
            load_ivf_store,
            write_ivf_store_base,
        )

        root = self._root(tmp_path)
        emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300)
        corpus = emb.filter(F.col("vec_id") % 2 == 0)
        batch = emb.filter(F.col("vec_id") % 2 == 1)

        with pytest.raises(ValueError, match="no complete base"):
            append_ivf_store_delta(batch, root, "day1")
        write_ivf_store_base(corpus, root, n_centroids=4)

        def snap(rel):
            d = os.path.join(root, rel)
            return {e.path: e.stat().st_mtime_ns for e in os.scandir(d)}

        base_before = snap("base/assignment")
        cent_before = snap("centroids")
        assert append_ivf_store_delta(batch, root, "day1")
        assert snap("base/assignment") == base_before
        assert snap("centroids") == cent_before  # frozen quantizer
        assert not append_ivf_store_delta(batch, root, "day1")  # idempotent
        assert not write_ivf_store_base(corpus, root, n_centroids=4)
        _cents, assigned = load_ivf_store(spark, root)
        assert assigned.count() == emb.count()
        release_all()

    def test_new_delta_evicts_pre_append_pin(self, spark, sf_dir, tmp_path):
        from ssb_coefficient_maker_spark.cachereg import get_cache, release_all
        from ssb_coefficient_maker_spark.operators.similarity import (
            append_ivf_store_delta,
            load_ivf_store,
            write_ivf_store_base,
        )

        root = self._root(tmp_path)
        emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300)
        corpus = emb.filter(F.col("vec_id") % 2 == 0)
        batch = emb.filter(F.col("vec_id") % 2 == 1)
        write_ivf_store_base(corpus, root, n_centroids=4)
        release_all()
        a = load_ivf_store(spark, root)
        b = load_ivf_store(spark, root)
        assert a[1] is b[1]  # warm load: cache hit
        append_ivf_store_delta(batch, root, "day1")
        c = load_ivf_store(spark, root)
        assert c[1] is not a[1]
        assert not a[1].is_cached and c[1].is_cached
        assert len(get_cache("ivf_store_index").pinned_frames()) == 1
        release_all()
