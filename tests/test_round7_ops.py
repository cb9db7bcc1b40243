"""Round-7 operator tests: incremental near-dup probe (q215) and the
round-7 VERDICT/ADVICE items."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ssb_coefficient_maker_spark.operators import dedup
from ssb_coefficient_maker_spark.operators.dedup import (
    build_lsh_index,
    minhash_lsh_pairs,
    probe_lsh_index,
)
from ssb_coefficient_maker_spark.sources.loaders import load_table


def _plan_str(df):
    return df._jdf.queryExecution().executedPlan().toString()


def _release_index():
    from ssb_coefficient_maker_spark.cachereg import get_cache

    get_cache("lsh_corpus_index").release()
    get_cache("lsh_cycle_index").release()


# --------------------------------------------------------------------- q215


def test_q215_matches_duckdb_oracle(spark, sf_dir):
    import duckdb

    from ssb_coefficient_maker_spark.queries import (
        _incremental_probe_oracle_sql,
    )

    got = (
        dedup.q215_incremental_neardup_probe(spark, sf_dir)
        .toPandas()
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    want = con.execute(_incremental_probe_oracle_sql()).fetchdf()
    assert len(got) > 0, "probe must find straddling near-dups in testdata"
    pd.testing.assert_frame_equal(
        got.astype({"new_doc_id": "int64", "corpus_doc_id": "int64"}),
        want.astype({"new_doc_id": "int64", "corpus_doc_id": "int64"}),
        check_exact=False,
        rtol=0,
        atol=1e-9,
    )
    _release_index()


def test_probe_corpus_served_from_pinned_index(spark, sf_dir):
    """The contract that makes q215 the daily-ingest operator: the
    corpus is shingled ONCE at index-build time; every probe's plan
    reads the pinned band/shingle tables (InMemoryTableScan) and scans
    parquet only for the NEW batch."""
    _release_index()
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 4)
    new_batch = docs.filter(F.col("doc_id") % 5 == 4)

    idx = build_lsh_index(corpus, family="md5")
    # build-once: a second build on the same corpus returns the SAME
    # pinned frames (cache identity), not a recompute
    idx2 = build_lsh_index(corpus, family="md5")
    assert idx2[0] is idx[0] and idx2[1] is idx[1]
    assert idx[0].storageLevel.useMemory and idx[1].storageLevel.useMemory

    import sys
    from collections import Counter
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
    import plan_audit

    plan = (
        probe_lsh_index(new_batch, idx, family="md5")
        ._jdf.queryExecution()
        .executedPlan()
    )
    nodes = Counter(n.nodeName() for n in plan_audit._walk(plan))
    # corpus side: band table + shingle table, both from executor
    # memory — never a re-shingle of the corpus text
    assert nodes["InMemoryTableScan"] == 2, nodes
    # new-batch side: the only parquet scans are the new docs (band
    # stream + verification side = 2 scans)
    parquet_scans = sum(v for k, v in nodes.items() if k.startswith("Scan parquet"))
    assert parquet_scans == 2, nodes
    _release_index()


def test_probe_agrees_with_batch_pairs(spark, sf_dir):
    """Probing the new batch against the corpus index finds EXACTLY
    the straddling subset of the batch pair finder's output (same
    signatures, same banding, same verification — incremental vs batch
    must not diverge)."""
    docs = load_table(spark, sf_dir, "documents")
    batch = minhash_lsh_pairs(docs, threshold=0.4, family="md5").toPandas()
    dedup.release_shingle_cache()
    straddle = set()
    for a, b, j in batch[["doc_a", "doc_b", "jaccard"]].itertuples(index=False):
        if (a % 5 == 4) != (b % 5 == 4):
            new, old = (a, b) if a % 5 == 4 else (b, a)
            straddle.add((new, old, j))
    probe = dedup.q215_incremental_neardup_probe(spark, sf_dir).toPandas()
    got = set(
        probe[["new_doc_id", "corpus_doc_id", "jaccard"]].itertuples(index=False)
    )
    assert got == straddle
    _release_index()


def test_probe_families_agree_on_planted_dup(spark):
    """md5 (portable) and xxhash64 (production) families find the same
    planted exact duplicate with the same verified Jaccard."""
    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi"
    )
    corpus = pd.DataFrame(
        {"doc_id": [1, 2], "text": [base, "unrelated words about columnar engines here"]}
    )
    new = pd.DataFrame({"doc_id": [10], "text": [base + "  "]})
    for fam in ("xxhash64", "md5"):
        _release_index()
        idx = build_lsh_index(spark.createDataFrame(corpus), family=fam)
        out = probe_lsh_index(
            spark.createDataFrame(new), idx, threshold=0.9, family=fam
        ).toPandas()
        assert list(out.itertuples(index=False)) == [(10, 1, 1.0)]
    _release_index()


def test_lsh_index_cache_capped_at_one_corpus(spark, sf_dir):
    """Pointing the index at a DIFFERENT corpus evicts the previous
    pinned frames (cap-at-one contract shared with IVF/PQ/shingles)."""
    from ssb_coefficient_maker_spark.cachereg import get_cache

    _release_index()
    docs = load_table(spark, sf_dir, "documents")
    idx_a = build_lsh_index(docs.filter(F.col("doc_id") % 5 != 4), family="md5")
    build_lsh_index(docs.filter(F.col("doc_id") % 7 != 0), family="md5")
    cache = get_cache("lsh_corpus_index")
    assert len(cache.pinned_frames()) == 2  # only the NEW corpus's two frames
    assert not idx_a[0].storageLevel.useMemory  # old corpus unpersisted
    _release_index()


# --------------------------------------------------- gear CDC (q185 seam)


def _py_gear_bounds(text: str, w: int = 16) -> list[int]:
    """Scalar pure-Python reference of the gear boundary rule —
    validates the numpy vectorization (window orientation, kernel,
    knuth split-multiply) independently."""
    M, MOD = 2654435761, 1 << 32

    def knuth(a: int) -> int:
        a %= MOD
        ah, al = a >> 16, a & 0xFFFF
        return (al * M + ((ah * M) % 65536) * 65536) % MOD

    n = len(text)
    if n < w:
        return [0, n]
    gear = [knuth(ord(c)) % (1 << 28) for c in text]
    out = [0]
    for p in range(w, n + 1):  # 1-based cut position
        h = sum(gear[p - w + j] << (w - 1 - j) for j in range(w))
        if knuth(h) < 134217728 and p != n:
            out.append(p)
    out.append(n)
    return out


def test_gear_bounds_match_python_reference(spark, sf_dir):
    from ssb_coefficient_maker_spark.operators.dedup import cdc_bounds_gear_udf

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 40)
        .select("text", cdc_bounds_gear_udf()(F.col("text")).alias("b"))
        .collect()
    )
    assert len(docs) == 40
    for r in docs:
        assert list(r["b"]) == _py_gear_bounds(r["text"])


def test_gear_cdc_survives_shifted_insertion(spark):
    """The rsync property must hold for the gear rule exactly as it
    does for the md5 rule (test_round6_ops): boundaries depend only on
    the 16 trailing chars, so an inserted prefix re-aligns locally."""
    import random

    from ssb_coefficient_maker_spark.operators.dedup import cdc_bounds_gear_udf

    rng = random.Random(42)
    base = " ".join(
        "".join(rng.choice("abcdefghijklmnop ") for _ in range(8))
        for _ in range(400)
    )
    shifted = "INSERTED-PREFIX-OF-ODD-LENGTH-37b " + base
    df = spark.createDataFrame([("orig", base), ("shifted", shifted)], ["doc", "text"])
    out = (
        df.withColumn("b", cdc_bounds_gear_udf()(F.col("text")))
        .selectExpr(
            "doc",
            "zip_with(slice(b, 1, size(b) - 1), slice(b, 2, size(b) - 1),"
            " (a, c) -> md5(substring(text, a + 1, c - a))) AS ds",
        )
        .collect()
    )
    cdc = {r["doc"]: set(r["ds"]) for r in out}
    assert len(cdc["orig"]) > 10
    overlap = len(cdc["orig"] & cdc["shifted"]) / len(cdc["orig"])
    assert overlap > 0.8, f"gear CDC overlap only {overlap:.2f}"


def test_gear_cut_rate_near_1_in_32(spark, sf_dir):
    """The knuth cut threshold targets p=1/32 — average chunk length
    should sit near 32 chars on real corpus text (wide tolerance; the
    md5 mask '07' rule had the same target)."""
    from ssb_coefficient_maker_spark.operators.dedup import cdc_bounds_gear_udf

    row = (
        load_table(spark, sf_dir, "documents")
        .select(cdc_bounds_gear_udf()(F.col("text")).alias("b"))
        .select(
            F.sum(F.element_at("b", -1)).alias("chars"),
            F.sum(F.size("b") - 1).alias("chunks"),
        )
        .head()
    )
    avg = row["chars"] / row["chunks"]
    assert 20 < avg < 48, f"avg chunk len {avg:.1f}"


# ----------------------------------------------- salted join under skew


def test_salted_join_beats_plain_under_planted_skew(spark, sf_dir):
    """q131 proves salted == plain on near-uniform TPC-H keys; this
    plants REAL skew (20% of lineitem rows on one supplier,
    tools/bench_skew.py fixture) and asserts the remedy works where it
    matters: the max shuffle-partition row count — the quantity that
    pins one reducer task — drops by ~N_SALT under the salted key,
    while the results stay identical. (Wall-clock is measured at sf1
    in tools/bench_skew.py; see SCALE_NOTES for the numbers.)"""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
    import bench_skew

    li = bench_skew.skewed_lineitem(spark, sf_dir)
    n = li.count()
    hot = li.filter(F.col("l_suppkey") == bench_skew.HOT_SUPP).count()
    assert hot / n > 0.15, "fixture must be genuinely skewed"

    li_salt = li.withColumn(
        "salt",
        F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(bench_skew.N_SALT)),
    )
    mx_plain, _ = bench_skew.partition_profile(li, ["l_suppkey"], 64)
    mx_salt, _ = bench_skew.partition_profile(li_salt, ["l_suppkey", "salt"], 64)
    # the hot key pins one partition at >= hot rows; salting spreads
    # it over N_SALT reducers
    assert mx_plain >= hot
    assert mx_salt <= mx_plain / 4, (mx_plain, mx_salt)

    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    plain = {
        (r["s_nationkey"], r["n_li"])
        for r in bench_skew.plain_join(li, sup).collect()
    }
    salted = {
        (r["s_nationkey"], r["n_li"])
        for r in bench_skew.salted_join(li, sup).collect()
    }
    assert plain == salted


# ------------------------------------------------------- m.T (Part B close)


class TestTranspose:
    """Part B `m.T` — the last de-facto pd.eval capability: supported
    on the triplet path as a key-swap projection; formulas containing
    .T route there automatically from FormulaEvaluator."""

    def test_parser_accepts_T_and_refuses_other_attrs(self):
        from ssb_coefficient_maker_spark.formula.parser import (
            FormulaError,
            Transpose,
            Var,
            extract_variables,
            parse_formula,
        )

        expr = parse_formula("a + b.T")
        assert extract_variables(expr) == ["a", "b"]
        assert isinstance(expr.right, Transpose)
        assert expr.right.operand == Var("b")
        with pytest.raises(FormulaError, match="attribute access"):
            parse_formula("a.values + b")

    def test_transpose_matches_pandas(self, spark):
        """Differential vs pd.eval semantics: a + b.T with square
        label-aligned frames."""
        import numpy as np

        from ssb_coefficient_maker_spark.api import FormulaEvaluator

        rng = np.random.default_rng(7)
        a = pd.DataFrame(rng.integers(1, 9, (4, 4))).astype(float)
        b = pd.DataFrame(rng.integers(1, 9, (4, 4))).astype(float)
        expected = a + b.T  # pd.eval("a + b.T") equivalent
        fe = FormulaEvaluator({"a": a, "b": b}, spark=spark)
        got = fe.evaluate_to_pandas("a + b.T")
        got = got[list(expected.columns)].astype(float).sort_index()
        np.testing.assert_allclose(got.to_numpy(), expected.to_numpy(), rtol=1e-12)

    def test_double_transpose_is_identity(self, spark):
        import numpy as np

        from ssb_coefficient_maker_spark.api import FormulaEvaluator

        a = pd.DataFrame(np.arange(12, dtype=float).reshape(3, 4))
        fe = FormulaEvaluator({"a": a}, spark=spark)
        with pytest.raises(Exception):
            # .T of a compound expression refuses loudly
            fe.evaluate_to_pandas("(a + a).T.T")

    def test_transpose_nonsquare_vs_pandas(self, spark):
        """Non-square: a(3x4) + b(4x3).T aligns exactly like pandas."""
        import numpy as np

        from ssb_coefficient_maker_spark.api import FormulaEvaluator

        rng = np.random.default_rng(11)
        a = pd.DataFrame(rng.integers(1, 9, (3, 4))).astype(float)
        b = pd.DataFrame(rng.integers(1, 9, (4, 3))).astype(float)
        expected = a + b.T
        fe = FormulaEvaluator({"a": a, "b": b}, spark=spark)
        got = fe.evaluate_to_pandas("a + b.T")
        got = got[list(expected.columns)].astype(float).sort_index()
        np.testing.assert_allclose(got.to_numpy(), expected.to_numpy(), rtol=1e-12)

    def test_transpose_of_scalar_refuses(self, spark):
        from ssb_coefficient_maker_spark.api import FormulaEvaluator
        from ssb_coefficient_maker_spark.formula.parser import FormulaError

        fe = FormulaEvaluator({"s": 2.0}, spark=spark)
        with pytest.raises(FormulaError, match="matrix"):
            fe.evaluate_formula("s.T + 1")


# -------------------------------------------------- q50 quadratic guard


def test_quadratic_tier_guard_refuses_past_bound(spark, sf_dir):
    """The deliberately-quadratic exact tier must fail LOUDLY (with
    the tiered alternatives named) rather than silently launch an
    O(n^2) job past its block-pair bound."""
    from ssb_coefficient_maker_spark.operators.similarity import (
        cosine_neardup_blocked,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    with pytest.raises(ValueError, match="celled|q115"):
        cosine_neardup_blocked(emb, block_size=8, max_block_pairs=3)
    # under the bound it still builds the plan
    df = cosine_neardup_blocked(emb.filter(F.col("vec_id") < 64), block_size=64)
    assert df.columns == ["vec_a", "vec_b", "cos_sim"]


def test_append_to_lsh_index_never_reshingles_corpus(spark, sf_dir):
    """The ingest step: append a batch to the pinned index. The
    merged frames' plans must read the corpus from the pinned index
    (InMemoryTableScan) and scan parquet only for the appended batch;
    the merged index must be pinned under the GROWN corpus's identity
    (build_lsh_index on the union is a cache hit); and probing it must
    equal probing an index built from scratch on the union."""
    import sys
    from collections import Counter
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
    import plan_audit

    from ssb_coefficient_maker_spark.operators.dedup import append_to_lsh_index

    _release_index()
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 <= 2)
    batch1 = docs.filter(F.col("doc_id") % 5 == 3)
    batch2 = docs.filter(F.col("doc_id") % 5 == 4)

    # the union the operator materializes (reconstructed identically
    # here, pre-materialization): corpus side = ONE InMemoryTableScan
    # of the pinned band table, parquet scan = ONLY batch1
    from ssb_coefficient_maker_spark.operators.dedup import (
        _band_table,
        shingles_col,
    )

    old_bands, _old_sh = build_lsh_index(corpus, family="md5")
    lazy_union = old_bands.unionByName(
        _band_table(
            batch1.select(
                "doc_id", shingles_col(F.col("text"), family="md5").alias("sh")
            )
        )
    )
    nodes = Counter(
        n.nodeName()
        for n in plan_audit._walk(lazy_union._jdf.queryExecution().executedPlan())
    )
    assert nodes["InMemoryTableScan"] == 1, nodes
    assert sum(v for k, v in nodes.items() if k.startswith("Scan parquet")) == 1, nodes

    merged = append_to_lsh_index(corpus, batch1, family="md5")

    # pinned under the union identity: build on the grown corpus hits
    union = corpus.unionByName(batch1)
    again = build_lsh_index(union, family="md5")
    assert again[0] is merged[0] and again[1] is merged[1]

    got = probe_lsh_index(batch2, merged, family="md5").toPandas()

    _release_index()
    scratch = build_lsh_index(union, family="md5")
    want = probe_lsh_index(batch2, scratch, family="md5").toPandas()
    pd.testing.assert_frame_equal(got, want)
    _release_index()


# --------------------------------------------- session memo (round-6 advice)


def test_state_session_memo_keyed_on_object(spark):
    """The state-sized-session memo must key on the parent session
    OBJECT (weakref), not id(): same parent + same partitions reuses
    one clone; different partition counts get distinct clones; the
    registry is a WeakKeyDictionary so dead parents can be collected."""
    import weakref

    from ssb_coefficient_maker_spark.streaming import windows as W

    assert isinstance(W._STATE_SESSIONS, weakref.WeakKeyDictionary)
    parent_partitions = spark.conf.get("spark.sql.shuffle.partitions")
    s8a = W.state_sized_session(spark, 8)
    s8b = W.state_sized_session(spark, 8)
    s4 = W.state_sized_session(spark, 4)
    assert s8a is s8b
    assert s4 is not s8a
    assert s4.conf.get("spark.sql.shuffle.partitions") == "4"
    # parent's own conf untouched
    assert spark.conf.get("spark.sql.shuffle.partitions") == parent_partitions


@pytest.mark.parametrize("rows,cols,seed", [(2, 5, 0), (6, 3, 1), (4, 4, 2)])
def test_transpose_formula_composes_vs_pandas(spark, rows, cols, seed):
    """`a * b.T + b.T` on the engine equals the same pandas expression
    across shapes (incl. negatives) — transpose, alignment, and
    arithmetic compose exactly."""
    import numpy as np

    from ssb_coefficient_maker_spark.api import FormulaEvaluator

    rng = np.random.default_rng(seed)
    a = pd.DataFrame(rng.integers(-4, 9, (rows, cols))).astype(float)
    b = pd.DataFrame(rng.integers(-4, 9, (cols, rows))).astype(float)
    expected = a * b.T + b.T
    fe = FormulaEvaluator({"a": a, "b": b}, spark=spark)
    got = fe.evaluate_to_pandas("a * b.T + b.T")
    got = got[list(expected.columns)].astype(float).sort_index()
    np.testing.assert_allclose(got.to_numpy(), expected.to_numpy(), rtol=1e-12)
