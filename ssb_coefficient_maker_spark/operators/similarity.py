"""Similarity search + embedding near-dup (SURVEY.md §2 Part C EXT).

Tiers, and when each is the right one:

- **brute-force cosine top-k** (q34) — the exact baseline: one scan,
  per-row dot product via ``F.aggregate``/``F.zip_with`` (JVM lambda,
  no Python), then TakeOrderedAndProject. Linear in rows.
- **IVF bucketed search** (q35) — k-means-trained coarse quantizer
  (``kmeans_centroids``), each vector assigned to its nearest centroid
  (broadcast of the tiny centroid table), queries probe only their
  bucket: the scan shrinks ~n_centroids×.
- **exact near-dup — FRONT DOOR: ``cosine_neardup_auto`` (q238)** —
  callers wanting all pairs at cosine ≥ t call the dispatcher; the
  two tiers below are its physical plans (both exact, so the choice
  is pure plan selection — the near-dup analogue of broadcast-vs-
  shuffle join). One small block-count agg (a metastore lookup at
  scale) picks:
  - **blocked tier** (q50, ``cosine_neardup_blocked``) — below the
    block-pair bound: vectors pack into blocks, block PAIRS join
    (n_blocks² small rows), each pair's dense product runs
    vectorized numpy inside Arrow-batched ``mapInPandas``. Shuffle
    volume O(n·n_blocks); driver memory O(1). Right for LOW
    thresholds at bounded scale: at cos 0.4 (θ≈66°) sign-LSH's
    per-bit collision gap (0.64 vs 0.50 background) is so thin that
    any recall-preserving banding admits ~90% of all pairs — more
    work than exact. Measured on this corpus: every true pair sits
    at cos 0.40–0.43, i.e. exactly the regime where LSH cannot
    prune. Past the bound it refuses loudly (the guard the
    dispatcher plans past).
  - **celled tier** (q115, ``cosine_neardup_celled``) — past the
    bound: same exact result set, but an IVF coarse quantizer plus
    a triangle-inequality cell-pair bound skips every block pair
    that provably cannot contain a qualifying pair. Subquadratic
    whenever the corpus clusters tighter than the threshold demands
    (any threshold); when nothing prunes (isotropic data) the
    SURVIVING pair count stays ~quadratic and the tier REFUSES past
    the same block-pair bound as q50 (round 8) — pointing at q57 —
    instead of silently running the full product. Automatic
    planning never silently launches the quadratic job it exists to
    avoid.
- **banded sign-LSH near-dup** (q57) — the scale path for HIGH
  thresholds (cos ≥ ~0.8), where the math works: B bands of r
  hyperplane sign bits; a pair collides in one band with p_bit^r,
  overall recall 1-(1-p_bit^r)^B, background admit B/2^r. With
  r=10, B=40 at cos 0.95: recall 1-(1-0.38)^40 ≈ 1-5e-9, background
  3.9%. Candidates shuffle on (band, bucket); the exact verify runs
  only on candidates, vectorized.
- **product quantization + ADC** (q81) — the compressed-scan tier:
  unit-sphere vectors encode to n_sub codebook indices (~50× smaller
  than raw doubles), a query's approximate distance is n_sub literal-
  table lookups per row (pure JVM over the codes column), and the ADC
  shortlist re-ranks EXACTLY on its real vectors. Recall@10 0.9–1.0
  measured vs brute force on this corpus.
"""

from __future__ import annotations

from typing import Iterable, Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ssb_coefficient_maker_spark.functions.vectors import cosine, cosine_const, l2_norm, seq_l2_norm
from ssb_coefficient_maker_spark.sources.loaders import literal_df, load_table


def _query_vector(spark: SparkSession, sf_dir: str, vec_id: int = 0):
    """Collect one query vector driver-side and return (Column literal,
    numpy values) — broadcast-by-literal, no join at all."""
    emb = load_table(spark, sf_dir, "embeddings")
    row = emb.filter(F.col("vec_id") == vec_id).select("embedding").head()
    if row is None:
        raise ValueError(f"no embedding with vec_id={vec_id}")
    vals = np.array([float(x) for x in row[0]], dtype=np.float64)
    return F.array(*[F.lit(float(x)) for x in row[0]]), vals


def q34_cosine_topk(spark: SparkSession, sf_dir: str, k: int = 10, query_id: int = 0) -> DataFrame:
    """Exact top-k by cosine against the vec_id=0 query vector."""
    emb = load_table(spark, sf_dir, "embeddings")
    q, qvals = _query_vector(spark, sf_dir, query_id)
    return (
        emb.filter(F.col("vec_id") != query_id)
        .select(
            "vec_id",
            "label",
            F.round(cosine_const(F.col("embedding"), q, seq_l2_norm(qvals)), 4).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(k)
    )


# ------------------------------------------------------------ IVF / k-means


def assign_buckets(emb: DataFrame, cents: Sequence[Sequence[float]]) -> DataFrame:
    """Assign each vector to its nearest centroid (IVF coarse step) —
    SHUFFLE-FREE.

    The k×dim centroid matrix always fits in a task closure (it is the
    whole point of a coarse quantizer), so the argmax is ONE dense
    GEMM per Arrow batch: ``argmax(X @ Ĉᵀ)`` with row-normalized
    centroids (the row's own norm is constant under argmax). No
    crossJoin, no explode, no shuffle. Python is deliberate here:
    dense linear algebra is where a vectorized pandas UDF beats scalar
    expressions — the expression form (k cosine lambdas of dim
    literals each) costs seconds of Catalyst/codegen compile PER PLAN
    and re-compiles every Lloyd iteration because the literals change;
    the UDF keeps the plan shape constant and moves the k×dim matrix
    through the closure. (The original shape — broadcast crossJoin ×k
    then a max_by groupBy — shuffled every embedding once per call; at
    100 TB that is an n×dim shuffle bought for nothing.)
    """
    cmat = np.array([[float(x) for x in c] for c in cents], dtype=np.float64)
    nrm = _seq_norms(cmat)  # sequential — bit-matches sqrt(list_sum(x*x))

    @F.pandas_udf("int")
    def _bucket(e: pd.Series) -> pd.Series:
        x = np.array(e.tolist(), dtype=np.float64)
        # STRICTLY SEQUENTIAL per-dimension accumulation (still
        # vectorized over rows×centroids): each scalar dot folds
        # d=0..dim-1 left-to-right, bit-identical to DuckDB's ordered
        # list_sum over list_zip products — which is what makes the
        # trained-k-means oracles (q35/q56) value-checkable. A GEMM
        # (x @ c.T) would use pairwise/SIMD summation and drift in the
        # last ulp, flipping argmax for boundary vectors.
        acc = np.zeros((len(x), len(cmat)))
        for d in range(x.shape[1]):
            acc += x[:, d : d + 1] * cmat[:, d][None, :]
        score = acc / nrm[None, :]
        # argmax → FIRST max index = lowest bucket on exact ties,
        # matching the oracle's ORDER BY score DESC, bucket
        return pd.Series(np.argmax(score, axis=1).astype(np.int32))

    return emb.withColumn("bucket", _bucket("embedding"))


def kmeans_centroids(emb: DataFrame, k: int = 10, iters: int = 3) -> list[list[float]]:
    """Distributed Lloyd iterations for an IVF coarse quantizer;
    returns the trained centroids driver-side (k×dim doubles).

    Iterative-algorithm hygiene on Spark: the BIG side (vectors) is
    persisted once and re-read from cache each iteration; ONLY the
    k×dim centroid matrix crosses the driver boundary per iteration
    (collected, then re-inlined as literals), so the plan depth is
    CONSTANT in ``iters`` — no lineage growth. Per iteration the ONLY
    shuffle is the k-row mean aggregation: assignment is a per-row
    expression (``assign_buckets``) and the per-bucket mean rides one
    partial+final hash agg with dim ``avg(element_at(...))`` columns —
    no posexplode (the previous shape shuffled n×dim exploded rows per
    iteration). Deterministic init (lowest vec_ids) — reproducible
    runs, no RNG state.
    """
    work = emb.select("vec_id", "embedding").persist()
    try:
        init_rows = work.orderBy("vec_id").limit(k).select("embedding").collect()
        cents: list[list[float]] = [[float(x) for x in r[0]] for r in init_rows]
        dim = len(cents[0])
        mean_cols = [
            F.avg(F.element_at("embedding", i + 1).cast("double")).alias(f"m{i}")
            for i in range(dim)
        ]
        for _ in range(iters):
            mean_rows = (
                assign_buckets(work, cents).groupBy("bucket").agg(*mean_cols).collect()
            )  # k rows × dim cols — tiny
            new_cents = [list(c) for c in cents]  # empty bucket keeps old centroid
            for r in mean_rows:
                # quantize each updated centroid coordinate to 6
                # decimals: Spark's partial-agg avg and DuckDB's avg
                # sum in different orders (~1e-14 relative drift);
                # snapping both engines to the same 1e-6 grid keeps
                # every later iteration bit-identical, so the Lloyd
                # loop itself becomes oracle-checkable (q35/q56)
                new_cents[r["bucket"]] = [
                    round(float(r[f"m{i}"]), 6) for i in range(dim)
                ]
            cents = new_cents
    finally:
        work.unpersist()
    return cents


def kmeans_fit(emb: DataFrame, k: int = 10, iters: int = 3) -> DataFrame:
    """Final k-means assignment: input columns + ``bucket``.

    One expression-only pass over the data against the trained literal
    centroids — plan depth constant regardless of ``iters``.
    """
    cents = kmeans_centroids(emb, k=k, iters=iters)
    return assign_buckets(emb, cents)


def q56_kmeans_ivf(spark: SparkSession, sf_dir: str, k: int = 10) -> DataFrame:
    """Trained-IVF summary: cluster sizes after 3 Lloyd iterations
    (rows-only: iterative + data-dependent). Deliberately re-trains on
    every call — this row benchmarks the FIT, not a cached index."""
    emb = load_table(spark, sf_dir, "embeddings")
    assigned = kmeans_fit(emb, k=k, iters=3)
    return (
        assigned.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
        .orderBy("bucket")
    )


# IVF index built once per (corpus, k): trained centroids + persisted
# bucket assignment. An ANN index is built ONCE and probed many times —
# at 100 TB the assignment below is a bucket-partitioned table on
# storage; the persisted DataFrame is the local-session stand-in.
# Lifecycle lives in cachereg.PinnedCache: at most ONE corpus pinned,
# evicted on corpus switch or testdata regeneration (fingerprint key).


def ivf_index(
    spark: SparkSession, sf_dir: str, n_centroids: int = 20, iters: int = 3
) -> tuple[list[list[float]], DataFrame]:
    from ssb_coefficient_maker_spark.cachereg import corpus_key_for, get_cache

    cache = get_cache("ivf_index")
    corpus = corpus_key_for(sf_dir)
    params = (n_centroids, iters)
    hit = cache.lookup(corpus, params)
    if hit is not None:
        return hit
    emb = load_table(spark, sf_dir, "embeddings")
    cents = kmeans_centroids(emb, k=n_centroids, iters=iters)
    assigned = assign_buckets(emb, cents).persist()
    return cache.store(corpus, params, (cents, assigned), pinned=[assigned])


def release_ivf_index() -> None:
    """Unpersist all cached IVF indexes (safe to call any time)."""
    from ssb_coefficient_maker_spark.cachereg import get_cache

    get_cache("ivf_index").release()
    get_cache("ivf_ingest_index").release()
    get_cache("celled_quantizer").release()


def ivf_probe(
    index: tuple[list[list[float]], DataFrame],
    q: Column,
    qvals: Sequence[float],
    k: int = 10,
    nprobe: int = 3,
    exclude_id: int | None = None,
) -> DataFrame:
    """Multi-probe scan of an IVF index: pick the ``nprobe`` coarse
    cells nearest the query DRIVER-SIDE against the tiny centroid
    matrix (no cluster action — sequential accumulation + stable
    sort, bit-reproducible in the SQL oracles), then exact cosine
    top-``k`` over ONLY those buckets of the pinned assignment."""
    cents, bucketed = index
    cmat = np.array(cents, dtype=np.float64)
    acc = np.zeros(len(cmat))
    for d in range(cmat.shape[1]):
        acc += cmat[:, d] * qvals[d]
    sims = acc / (_seq_norms(cmat) * seq_l2_norm(qvals))
    probes = [int(b) for b in np.argsort(-sims, kind="stable")[:nprobe]]
    out = bucketed.filter(F.col("bucket").isin(probes))
    if exclude_id is not None:
        out = out.filter(F.col("vec_id") != exclude_id)
    return (
        out.select(
            "vec_id",
            "label",
            F.round(
                cosine_const(F.col("embedding"), q, seq_l2_norm(qvals)), 4
            ).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(k)
    )


def q35_ivf_topk(
    spark: SparkSession,
    sf_dir: str,
    k: int = 10,
    query_id: int = 0,
    n_centroids: int = 20,
    nprobe: int = 3,
) -> DataFrame:
    """Multi-probe ANN against a trained IVF index (built once per
    corpus by ``ivf_index``, k-means coarse quantizer — not a
    placeholder). The ``nprobe`` nearest coarse cells are chosen
    driver-side against the tiny centroid matrix (no cluster action),
    then the probe scans ONLY those buckets of the persisted
    assignment — ~n_centroids/nprobe× less data than exact q34.
    ``nprobe`` is the standard IVF recall knob: recall rises with the
    probed fraction (single-probe misses neighbors that fall just
    across a cell boundary; see the recall test vs exact top-k).
    Rows-only check — float-iteration-order-dependent by
    construction."""
    index = ivf_index(spark, sf_dir, n_centroids=n_centroids)
    q, qvals = _query_vector(spark, sf_dir, query_id)
    return ivf_probe(index, q, qvals, k=k, nprobe=nprobe, exclude_id=query_id)


# Shared with the DuckDB oracle (queries._Q221_ORACLE): the "new
# batch" is every 5th vector (vec_id % 5 == 4) — a deterministic ~20%
# slice standing in for today's embedding ingest, mirroring q215/q217's
# document-side split.
Q221_INGEST_MOD = 5


def ivf_index_from(
    emb: DataFrame,
    corpus_key,
    n_centroids: int = 20,
    iters: int = 3,
) -> tuple[list[list[float]], DataFrame]:
    """IVF index over an EXPLICIT vector frame (the slice-corpus twin
    of ``ivf_index``): train the coarse quantizer on ``emb``, pin the
    assignment, materialize EAGERLY (probes that follow must read only
    InMemoryTableScans — plan-asserted in tests).

    Lives in its own PinnedCache ('ivf_ingest_index'), NOT q35's
    'ivf_index': the ingest cycle re-pins under the grown corpus's
    identity, and sharing a cache would let either query evict the
    other's pinned index under the cap-at-one contract — the same
    deliberate double-pin reasoning as ``build_lsh_index``
    (operators/dedup.py)."""
    from ssb_coefficient_maker_spark.cachereg import get_cache

    cache = get_cache("ivf_ingest_index")
    params = (n_centroids, iters)
    hit = cache.lookup(corpus_key, params)
    if hit is None:
        # lineage fallback: after an append rekeys the cache to the
        # grown identity, the pre-append index survives under
        # ('parent', corpus_key, params) — no Lloyd retrain
        hit = cache.lookup_lineage(("parent", corpus_key, params))
    if hit is not None:
        return hit
    cents = kmeans_centroids(emb, k=n_centroids, iters=iters)
    assigned = assign_buckets(emb, cents).persist()
    assigned.count()
    return cache.store(corpus_key, params, (cents, assigned), pinned=[assigned])


def ivf_append(
    index: tuple[list[list[float]], DataFrame],
    new_emb: DataFrame,
    grown_key,
    n_centroids: int = 20,
    iters: int = 3,
    parent_key=None,
) -> tuple[list[list[float]], DataFrame]:
    """Ingest a new vector batch into a pinned IVF index WITHOUT
    retraining — the standard ANN ingest contract: the coarse
    quantizer is FROZEN (centroid drift is handled by periodic
    re-trains, not per-batch), so the append is one map-only
    assignment of the new batch against the centroid literals
    (``assign_buckets`` — no shuffle, no Lloyd iterations, the corpus
    is never rescanned) unioned onto the pinned assignment. At 100 TB
    this is an append of one batch-sized partition set to the
    bucket-partitioned assignment table.

    IDEMPOTENT and LINEAGE-PRESERVING (round 8, same contract as
    ``append_to_lsh_index``): re-appending under the same grown key is
    a cache hit (nothing executes), and when ``parent_key`` names the
    pre-append corpus its index is CARRIED across the rekey under
    ``('parent', parent_key, params)`` instead of being unpersisted —
    probes still holding the old index keep reading executor memory
    through the cutover, and the chain is bounded at two generations.

    The grown assignment is materialized BEFORE the rekey/store —
    eviction of anything not carried is only safe once the union no
    longer needs to recompute from it."""
    from ssb_coefficient_maker_spark.cachereg import get_cache

    cache = get_cache("ivf_ingest_index")
    params = (n_centroids, iters)
    hit = cache.lookup(grown_key, params)
    if hit is not None:
        return hit
    cents, assigned = index
    grown = assigned.unionByName(assign_buckets(new_emb, cents)).persist()
    grown.count()
    if parent_key is not None:
        old_param = (
            params
            if cache.lookup(parent_key, params) is not None
            else ("parent", parent_key, params)
        )
        cache.rekey(grown_key, keep={("parent", parent_key, params): old_param})
    return cache.store(grown_key, params, (cents, grown), pinned=[grown])


def q221_ivf_ingest_probe(
    spark: SparkSession,
    sf_dir: str,
    k: int = 10,
    n_centroids: int = 20,
    nprobe: int = 3,
) -> DataFrame:
    """The ANN side of the daily-ingest cycle (the q215/q217 pattern
    applied to embeddings): train+pin the IVF index on the corpus
    slice (vec_id % 5 != 4), APPEND the new batch (vec_id % 5 == 4)
    with the quantizer frozen — map-only assignment, no retraining,
    corpus never rescanned — then probe the GROWN index with the
    vec_id=0 query. The probe's top-k can only be right if the
    append actually landed the batch in the right cells, so this
    value-oracles the append half.

    VALUE-oracled end to end: the trained Lloyd loop is
    bit-replicated by the generated CTE chain (queries._lloyd_cte,
    restricted to the corpus slice), the frozen-quantizer batch
    assignment by one more assign CTE, and the multi-probe top-k by
    the same ordered-fold cosine — the q35/q56 bit-replicability
    contract extended to the ingest cycle.

    NOTE (bench interpretation): like q217, the corpus train and the
    batch ingest are EAGER build-once jobs paid on the first call;
    repeat calls hit the idempotent append (lineage cache — the
    corpus index survives the handoff as the carried parent) and
    execute ONLY the probe, exactly what re-running a query against
    an already-ingested index does in production."""
    from ssb_coefficient_maker_spark.cachereg import corpus_key_for

    emb = load_table(spark, sf_dir, "embeddings")
    m = Q221_INGEST_MOD
    corpus = emb.filter(F.col("vec_id") % m != m - 1)
    new_batch = emb.filter(F.col("vec_id") % m == m - 1)
    base = corpus_key_for(sf_dir)
    index = ivf_index_from(corpus, (base, "corpus"), n_centroids=n_centroids)
    grown = ivf_append(
        index,
        new_batch,
        (base, "grown"),
        n_centroids=n_centroids,
        parent_key=(base, "corpus"),
    )
    q, qvals = _query_vector(spark, sf_dir, 0)
    return ivf_probe(grown, q, qvals, k=k, nprobe=nprobe, exclude_id=0)


# ------------------------------------------- stored IVF index (q236)
#
# The ANN twin of the stored LSH index (operators/dedup.py, q234):
# the same base + merge-on-read-delta parquet layout, applied to the
# IVF index's two artifacts — the FROZEN coarse quantizer (k×dim
# centroids, written once at base build; appends assign against the
# STORED centroids, never retrain) and the bucket assignment table
# (base + one batch-sized delta segment per ingest day, base files
# never rewritten). Root keyed by source fingerprint + (n_centroids,
# iters) geometry: a stored index trained under different parameters
# is wrong, not stale, and must never be reloaded.
#
#   <root>/centroids/            (bucket, centroid array<double>)
#   <root>/base/assignment/      (vec_id, label, embedding, bucket)
#   <root>/delta/<name>/assignment/
#
# Exactness contract: trained centroids are snapped to the 1e-6 grid
# (kmeans_centroids), and parquet doubles round-trip bit-exactly, so
# assignments computed against reloaded centroids are bit-identical
# to the in-memory cycle — which is what lets q236 share q221's
# value oracle verbatim.


def ivf_store_root(sf_dir: str, n_centroids: int = 20, iters: int = 3) -> str:
    from ssb_coefficient_maker_spark.sources.derived import _derived_root

    return _derived_root(sf_dir, f"ivf_store_k{n_centroids}_i{iters}_v1")


def _ivf_part_done(path: str) -> bool:
    import os

    return os.path.exists(os.path.join(path, "_SUCCESS"))


def ivf_store_segments(root: str) -> tuple[str, ...]:
    """Complete assignment segments, base first then deltas in name
    order — the load set and the pinned-cache corpus key (a new delta
    is a corpus-key change: cap-at-one evicts the pre-append pin)."""
    import os

    segs: list[str] = []
    if _ivf_part_done(os.path.join(root, "base", "assignment")):
        segs.append("base")
    try:
        names = sorted(
            e.name for e in os.scandir(os.path.join(root, "delta")) if e.is_dir()
        )
    except FileNotFoundError:
        names = []
    segs.extend(
        f"delta/{n}"
        for n in names
        if _ivf_part_done(os.path.join(root, "delta", n, "assignment"))
    )
    return segs and tuple(segs) or ()


def _load_stored_centroids(spark: SparkSession, root: str) -> list[list[float]]:
    import os

    path = os.path.join(root, "centroids")
    if not _ivf_part_done(path):
        raise ValueError(
            f"ivf store at {root!r} has no centroids — write_ivf_store_base first"
        )
    rows = spark.read.parquet(path).orderBy("bucket").collect()
    return [[float(x) for x in r["centroid"]] for r in rows]


def write_ivf_store_base(
    emb: DataFrame, root: str, n_centroids: int = 20, iters: int = 3
) -> bool:
    """Train the coarse quantizer on ``emb`` and materialize BOTH
    artifacts to storage (idempotent: a complete base is never
    rewritten). The training is the one Lloyd run the index ever
    pays; every later append assigns against these stored centroids.
    Returns True iff this call wrote."""
    import os

    seg = os.path.join(root, "base", "assignment")
    cent_dir = os.path.join(root, "centroids")
    if _ivf_part_done(seg) and _ivf_part_done(cent_dir):
        return False
    spark = emb.sparkSession
    cents = kmeans_centroids(emb, k=n_centroids, iters=iters)
    literal_df(
        spark,
        [(i, c) for i, c in enumerate(cents)],
        "bucket int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(cent_dir)
    # assign against the STORED copy, not the in-memory list — the
    # base rows must be the exact function of what later appends and
    # reloads will read
    stored = _load_stored_centroids(spark, root)
    assign_buckets(emb, stored).write.mode("overwrite").parquet(seg)
    return True


def append_ivf_store_delta(new_emb: DataFrame, root: str, name: str) -> bool:
    """Ingest a vector batch into the STORED index: one map-only
    assignment of the new rows against the stored (frozen) centroids,
    written as delta segment ``name``. Base files untouched; a
    complete delta is never rewritten (idempotent ingest days).
    Returns True iff this call wrote."""
    import os

    if not _ivf_part_done(os.path.join(root, "base", "assignment")):
        raise ValueError(
            f"ivf store at {root!r} has no complete base — "
            "write_ivf_store_base first"
        )
    seg = os.path.join(root, "delta", name, "assignment")
    if _ivf_part_done(seg):
        return False
    cents = _load_stored_centroids(new_emb.sparkSession, root)
    assign_buckets(new_emb, cents).write.mode("overwrite").parquet(seg)
    return True


def load_ivf_store(
    spark: SparkSession, root: str
) -> tuple[list[list[float]], DataFrame]:
    """Reload the stored IVF index — the restart path: centroids come
    back driver-side (k×dim doubles, exact), all complete assignment
    segments read in ONE multi-path parquet scan, persisted and
    pinned ('ivf_store_index') under corpus key (root, segment set) —
    one generation in executor memory, the store on disk the durable
    truth (same lifecycle as load_lsh_store)."""
    import os

    from ssb_coefficient_maker_spark.cachereg import get_cache

    segs = ivf_store_segments(root)
    if not segs:
        raise ValueError(f"no complete ivf store segments under {root!r}")
    cache = get_cache("ivf_store_index")
    corpus = (root, segs)
    hit = cache.lookup(corpus, ())
    if hit is not None:
        return hit
    cents = _load_stored_centroids(spark, root)
    assigned = spark.read.parquet(
        *[os.path.join(root, s, "assignment") for s in segs]
    ).persist()
    assigned.count()
    return cache.store(corpus, (), (cents, assigned), pinned=[assigned])


def q236_ivf_store_roundtrip(
    spark: SparkSession,
    sf_dir: str,
    k: int = 10,
    n_centroids: int = 20,
    nprobe: int = 3,
) -> DataFrame:
    """The q221 ANN ingest cycle run THROUGH STORAGE — q234's
    restart/recovery proof extended to the second index family: the
    trained quantizer and base assignment persist as parquet, the
    ingest day assigns ONLY the new batch against the STORED frozen
    centroids and appends a delta segment (base untouched), and the
    probe reads the reloaded merged store. Same vec_id split, same
    probe, same value truth as q221 — the DuckDB oracle is shared
    verbatim, so equal output IS the storage-roundtrip claim (the
    1e-6 centroid snap + exact parquet double round-trip make stored
    and in-memory assignments bit-identical).

    Warm runs (store complete): both writes skip, the reload is a
    cache hit, and ONLY the probe executes — q221's steady state,
    surviving a restart (tested via cachereg.release_all between
    write and load, with the q234 plan assertions).

    100 TB: the base build is the one Lloyd train; each ingest day is
    a map-only batch assignment + a batch-sized parquet append; the
    reload is a metadata-bounded multi-path scan of the assignment
    table. This is the stored-table contract every pinned index
    docstring promises (cachereg.py), executed end to end.
    """
    import os

    emb = load_table(spark, sf_dir, "embeddings")
    m = Q221_INGEST_MOD
    corpus = emb.filter(F.col("vec_id") % m != m - 1)
    batch = emb.filter(F.col("vec_id") % m == m - 1)
    root = ivf_store_root(sf_dir, n_centroids=n_centroids)
    if not _ivf_part_done(os.path.join(root, "delta", "day1", "assignment")):
        write_ivf_store_base(corpus, root, n_centroids=n_centroids)
        append_ivf_store_delta(batch, root, "day1")
    index = load_ivf_store(spark, root)
    q, qvals = _query_vector(spark, sf_dir, 0)
    return ivf_probe(index, q, qvals, k=k, nprobe=nprobe, exclude_id=0)


def q36_embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding stats: count + mean L2 norm (sanity surface
    for the vector column)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select("label", l2_norm(F.col("embedding")).alias("nrm"))
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.avg("nrm"), 4).alias("avg_norm"))
        .orderBy("label")
    )


# ----------------------------------------- exact near-dup, block-distributed


def _seq_norms(mat: np.ndarray) -> np.ndarray:
    """L2 norms with strictly sequential per-dimension accumulation —
    matches DuckDB's ordered ``list_sum`` bit-for-bit."""
    acc = np.zeros(mat.shape[0])
    for k in range(mat.shape[1]):
        acc += mat[:, k] * mat[:, k]
    return np.sqrt(acc)


def _round4_away(q: np.ndarray) -> np.ndarray:
    """Round to 4 decimals half AWAY FROM ZERO — matching DuckDB's
    ``round()`` in every cosine oracle exactly. ``np.round`` is
    banker's (half-to-even), which would diverge on a cosine landing
    exactly on a 5 in the 5th decimal (round-8/9 ADVICE; measure zero
    on double quotients, but the round-before-compare contract should
    not depend on that). The ONE definition shared by all three numpy
    cosine kernels (blocked q50, celled q115, dominance q230).

    In-place formulation (round 10): the expression form
    ``sign(q) * floor(abs(q)*1e4 + 0.5) / 1e4`` allocates five
    temporaries and measured 510 ms per 2000² block vs 19 ms for the
    chain below (np.round itself: 204 ms) — in q115's block products
    the rounding was rivaling the dot products. Bit-identical to the
    expression form everywhere except the SIGN of an exact ±0.0
    (copysign keeps the input's zero sign, sign() collapses to +0.0)
    — unobservable in every consumer, since all three kernels filter
    ``cos >= threshold`` with threshold > 0 before any value leaves
    the worker. ``q`` itself is never mutated (np.abs allocates)."""
    out = np.abs(q)
    out *= 1e4
    out += 0.5
    np.floor(out, out)
    out /= 1e4
    return np.copysign(out, q, out)


def _unpack_block(blk) -> tuple[np.ndarray, np.ndarray]:
    ids = np.array([e["vec_id"] for e in blk], dtype=np.int64)
    mat = np.array([list(e["embedding"]) for e in blk], dtype=np.float64)
    return ids, mat


# The brute-force tier refuses to run past this many block pairs
# (n_blocks·(n_blocks+1)/2). 8192 pairs ≈ 127 blocks ≈ 130k vectors at
# the default block_size — comfortably covers the benchmark corpora
# while making a silent 100× run impossible: at that scale the caller
# must either raise block_size consciously or switch tiers.
QUADRATIC_TIER_MAX_BLOCK_PAIRS = 8192


def cosine_neardup_blocked(
    emb: DataFrame,
    threshold: float = 0.4,
    block_size: int = 1024,
    max_block_pairs: int = QUADRATIC_TIER_MAX_BLOCK_PAIRS,
    _n_blocks: int | None = None,
) -> DataFrame:
    """Exact all-pairs cosine ≥ threshold, fully distributed.

    DELIBERATELY QUADRATIC — the documented brute-force tier of a
    crossover pair, guarded: if the block-pair table would exceed
    ``max_block_pairs`` this raises instead of silently launching an
    O(n²) job. The guard counts the *populated* blocks
    (``countDistinct(vec_id // block_size)`` — exact for sparse or
    offset id spaces, not a dense-id guess) with one eager agg at
    construction time; that single small job is the price of refusing
    before the quadratic plan exists, and it runs outside any bench
    timing of the returned frame. Past the bound use
    ``cosine_neardup_celled`` (q115, exact with IVF-cell pruning —
    measured crossover in SCALE_NOTES) or ``lsh_neardup_pairs`` (q57,
    approximate), or consciously raise
    ``max_block_pairs``/``block_size``.

    Plan shape (the 100 TB story): pack vectors into contiguous blocks
    (ONE shuffle on block id; each packed row = block_size × dim
    doubles, sized to stay well under an Arrow batch), join block
    PAIRS (n_blocks² tiny rows, each carrying two packed blocks — at
    cluster scale each block is replicated n_blocks times, total
    shuffle O(n·n_blocks), tunable via block_size), then each pair's
    dense product runs vectorized numpy inside Arrow-batched
    ``mapInPandas``. The driver never holds ANY vector data — this
    replaces the previous driver-side ``collect`` of the full matrix,
    which capped the corpus at driver memory.

    Accumulation loops over dimensions in order, matching DuckDB's
    sequential ``list_sum`` bit-for-bit (oracle-exact).

    ``_n_blocks`` (private) lets ``cosine_neardup_auto`` pass the
    populated-block count it already computed for tier selection, so
    the dispatch path runs the guard agg exactly once per call
    (round-10 ADVICE: the auto path was re-running the identical
    eager agg here).
    """
    n_blocks = _n_blocks if _n_blocks is not None else int(
        emb.agg(
            F.count_distinct((F.col("vec_id") / block_size).cast("long"))
        ).head()[0]
    )
    n_pairs = n_blocks * (n_blocks + 1) // 2
    if n_pairs > max_block_pairs:
        raise ValueError(
            f"cosine_neardup_blocked: {n_blocks} blocks -> {n_pairs} block "
            f"pairs exceeds max_block_pairs={max_block_pairs}. This is the "
            "deliberately quadratic exact tier; at this scale use "
            "cosine_neardup_celled (q115, exact with IVF-cell pruning) or "
            "lsh_neardup_pairs (q57, approximate), or raise "
            "max_block_pairs/block_size consciously."
        )
    packed = (
        emb.select(
            "vec_id",
            "embedding",
            (F.col("vec_id") / block_size).cast("long").alias("bid"),
        )
        .groupBy("bid")
        .agg(F.sort_array(F.collect_list(F.struct("vec_id", "embedding"))).alias("blk"))
    )
    pairs = (
        packed.alias("a")
        .join(packed.alias("b"), F.col("a.bid") <= F.col("b.bid"))
        .select(F.col("a.blk").alias("blk_a"), F.col("b.blk").alias("blk_b"))
    )
    # Compute-aware spread of the block-pair table (round 12, guide
    # §2.5): each row is ~block_size·dim doubles of PAYLOAD but ~0.1 s
    # of dense-product COMPUTE, so AQE's byte-based coalescing packs
    # ~64 pairs per task and the kernel runs a few tasks wide no
    # matter the core count (measured sf1: q50 ~23 s warm on 32 cores
    # AND on 8 — the 210-pair table coalesced to ~4 partitions).
    # Round-robin repartition to 2× the available slots (capped by the
    # pair count) keeps every core busy locally and is the same
    # fan-out a cluster wants: n_pairs >> slots at any real scale, and
    # the input rows are deterministic, so retry-safe under the
    # default sort-before-repartition.
    n_slots = max(2, emb.sparkSession.sparkContext.defaultParallelism)
    pairs = pairs.repartition(int(min(max(1, n_pairs), 2 * n_slots)))

    def block_product(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_a: list[int] = []
            out_b: list[int] = []
            out_c: list[float] = []
            for blk_a, blk_b in zip(pdf["blk_a"], pdf["blk_b"]):
                ids_a, mat_a = _unpack_block(blk_a)
                ids_b, mat_b = _unpack_block(blk_b)
                d = mat_a.shape[1]
                dots = np.zeros((len(ids_a), len(ids_b)))
                for k in range(d):
                    dots += np.outer(mat_a[:, k], mat_b[:, k])
                cos = _round4_away(dots / np.outer(_seq_norms(mat_a), _seq_norms(mat_b)))
                mask = (ids_a[:, None] < ids_b[None, :]) & (cos >= threshold)
                ii, jj = np.nonzero(mask)
                out_a.extend(ids_a[ii])
                out_b.extend(ids_b[jj])
                out_c.extend(cos[ii, jj])
            yield pd.DataFrame(
                {
                    "vec_a": pd.Series(out_a, dtype="int64"),
                    "vec_b": pd.Series(out_b, dtype="int64"),
                    "cos_sim": pd.Series(out_c, dtype="float64"),
                }
            )

    return pairs.mapInPandas(block_product, schema="vec_a long, vec_b long, cos_sim double")


def q50_embedding_neardup(spark: SparkSession, sf_dir: str, threshold: float = 0.4) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (dedup tier for modalities
    where text hashing can't see the duplication). Exact, block-
    distributed — see ``cosine_neardup_blocked`` for the scale story.
    Deliberately quadratic (the exact tier on an isotropic corpus at a
    low threshold admits no pruning — module docstring derivation);
    when the corpus has cluster structure, ``cosine_neardup_celled``
    (q115) returns the identical pair set with the cross-cluster block
    products pruned away."""
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_neardup_blocked(emb.select("vec_id", "embedding"), threshold).orderBy(
        "vec_a", "vec_b"
    )


# ------------------------------------------------ celled exact middle tier


def assign_buckets_with_cos(
    emb: DataFrame, cents: Sequence[Sequence[float]]
) -> DataFrame:
    """``assign_buckets`` plus the cosine to the ASSIGNED centroid in
    the same vectorized pass (one GEMM per Arrow batch) — the per-cell
    angular radius the celled pruning bound needs falls out of the
    assignment for free."""
    cnorm = np.array(cents, dtype=np.float64)
    cnorm = cnorm / np.linalg.norm(cnorm, axis=1, keepdims=True)

    @F.pandas_udf("struct<bucket:int, cosc:double>")
    def _bc(e: pd.Series) -> pd.DataFrame:
        x = np.array(e.tolist(), dtype=np.float64)
        s = x @ cnorm.T
        b = np.argmax(s, axis=1)
        nrm = np.linalg.norm(x, axis=1)
        nrm[nrm == 0] = 1.0
        cosc = s[np.arange(len(x)), b] / nrm
        return pd.DataFrame({"bucket": b.astype(np.int32), "cosc": cosc})

    return (
        emb.withColumn("__bc", _bc("embedding"))
        .withColumn("bucket", F.col("__bc.bucket"))
        .withColumn("cosc", F.col("__bc.cosc"))
        .drop("__bc")
    )


def cosine_neardup_celled(
    emb: DataFrame,
    threshold: float = 0.95,
    n_cells: int = 16,
    iters: int = 3,
    block_size: int = 1024,
    fringe_quantile: float | None = None,
    stats: dict | None = None,
    max_block_pairs: int = QUADRATIC_TIER_MAX_BLOCK_PAIRS,
) -> DataFrame:
    """Exact all-pairs cosine ≥ threshold with IVF-cell pruning — the
    middle tier between ``cosine_neardup_blocked`` (always quadratic)
    and ``lsh_neardup_pairs`` (approximate, high thresholds only).

    EXACT at any threshold: the cell structure only decides which
    block pairs can be SKIPPED, never which pairs qualify. Train an
    IVF coarse quantizer (``kmeans_centroids``), assign each vector to
    its max-cosine centroid, record each cell's angular radius
    r_i = max observed angle(member, centroid). By the triangle
    inequality on angles, a pair (x in cell i, y in cell j) satisfies
    angle(x,y) >= theta_ij - r_i - r_j, so any cell pair with
    cos(max(0, theta_ij - r_i - r_j)) < threshold - 1e-4 provably
    contains no qualifying pair (the 1e-4 margin covers the 4-decimal
    rounding the pair kernel applies) and its blocks never join. On a
    corpus whose clusters are tighter than the threshold demands, work
    drops from all block pairs to ~within-cell block pairs (1/n_cells
    of the products); on an isotropic corpus nothing prunes — the q50
    docstring derives why NO method can prune the isotropic
    low-threshold case — and since round 8 this tier REFUSES rather
    than degrade silently: the SURVIVING block-pair count after
    pruning is checked against ``max_block_pairs`` (same bound as
    q50) and a ValueError names the q57 alternative. Raise the bound
    consciously to accept the quadratic cost.

    Shape at scale: training touches only k x dim floats driver-side
    (``kmeans_centroids``); assignment + radius is one expression/
    Arrow pass and a k-row aggregate; packing shuffles once on
    (cell, block); the kept cell-pair list (<= k(k+1)/2 rows) joins
    broadcast; each surviving block pair runs the same dense numpy
    kernel as q50. At 100 TB the per-cell ordered packing would ride
    repartitionByRange on (cell, vec_id) instead of a per-cell window
    sort — same shuffle count.

    ``fringe_quantile`` hardens the bound against OUTLIERS: the max
    radius is fragile — one far-from-centroid member inflates its
    cell's radius and un-prunes every pair involving that cell. With
    a quantile q (e.g. 0.9), each cell's radius caps at its q-th
    angle percentile; members beyond the cap become a FRINGE residual
    checked exhaustively against everything (fringe x core block
    pairs + fringe x fringe upper-triangle). Core-core pairs keep the
    capped-radius bound (sound: every remaining member is inside the
    cap), so completeness holds with a residual cost of
    O(|fringe| * n) instead of a collapse back to O(n^2). None
    (default) = cap at the max, no fringe — the original behavior.

    ``stats`` (optional dict) receives kept/total cell-pair counts
    (and the fringe size) so tests and SCALE_NOTES can quantify the
    pruning.
    """
    import math

    from pyspark.sql import Window

    from ssb_coefficient_maker_spark.cachereg import get_cache

    # The trained quantizer + celled assignment is a build-once index
    # (the q35/q221 ivf_index pattern): Lloyd + the assignment pass
    # depend only on (corpus, n_cells, iters) — deterministic init, so
    # the cached structure is bit-identical to a retrain — while
    # threshold/block_size/fringe_quantile only steer the per-call
    # pruning math and packing, which read the pinned frame. Before
    # this cache every call re-trained (r11: ~0.9 s per Lloyd
    # iteration of pure job overhead at sf0.1 — the bulk of q115/q238
    # warm time). Cap-at-one lifecycle shared with the other indexes.
    cache = get_cache("celled_quantizer")
    corpus_key = (emb.semanticHash(),)
    params = (n_cells, iters)
    hit = cache.lookup(corpus_key, params)
    if hit is None:
        cents = kmeans_centroids(emb, k=n_cells, iters=iters)
        asg = assign_buckets_with_cos(
            emb.select("vec_id", "embedding"), cents
        ).withColumn(
            "ang",
            F.acos(F.least(F.lit(1.0), F.greatest(F.lit(-1.0), F.col("cosc")))),
        ).persist()
        asg.count()
        hit = cache.store(corpus_key, params, (cents, asg), pinned=[asg])
    cents, assigned = hit
    cn = np.array(cents, dtype=np.float64)
    cn = cn / np.linalg.norm(cn, axis=1, keepdims=True)
    theta = np.arccos(np.clip(cn @ cn.T, -1.0, 1.0))
    rq = 1.0 if fringe_quantile is None else fringe_quantile
    radius_rows = (
        assigned.groupBy("bucket")
        .agg(
            F.percentile("ang", F.lit(rq)).alias("radius"),
            F.count(F.lit(1)).alias("n_members"),
        )
        .collect()
    )
    radius = {r["bucket"]: r["radius"] for r in radius_rows}
    cell_n = {r["bucket"]: r["n_members"] for r in radius_rows}

    kept: list[tuple[int, int]] = []
    total = 0
    surviving_block_pairs = 0
    cell_blocks = {b: -(-n // block_size) for b, n in cell_n.items()}
    for i in sorted(radius):
        for j in sorted(radius):
            if j < i:
                continue
            total += 1
            ub = math.cos(max(0.0, theta[i, j] - radius[i] - radius[j]))
            if ub >= threshold - 1e-4:
                kept.append((i, j))
                bi, bj = cell_blocks[i], cell_blocks[j]
                surviving_block_pairs += bi * (bi + 1) // 2 if i == j else bi * bj
    if fringe_quantile is not None:
        # residual upper bound: each cell's fringe is at most the
        # (1-q) fraction above its capped radius
        n_total = sum(cell_n.values())
        fringe_ub = int(math.ceil((1.0 - rq) * n_total))
        fringe_blk = -(-fringe_ub // block_size) if fringe_ub else 0
        surviving_block_pairs += fringe_blk * sum(cell_blocks.values())
        surviving_block_pairs += fringe_blk * (fringe_blk + 1) // 2
    if stats is not None:
        stats["kept_cell_pairs"] = len(kept)
        stats["total_cell_pairs"] = total
        stats["surviving_block_pairs"] = surviving_block_pairs
    if surviving_block_pairs > max_block_pairs:
        # the same cage as cosine_neardup_blocked, applied AFTER
        # pruning: on an isotropic corpus (or a threshold far below
        # the cluster tightness) the angular bound prunes ~nothing and
        # the celled tier would silently run the full quadratic — the
        # exact failure mode the q50 guard exists to refuse. Counting
        # the SURVIVING pairs keeps the guard inert whenever pruning
        # actually bites.
        raise ValueError(
            f"cosine_neardup_celled: pruning kept {len(kept)}/{total} cell "
            f"pairs -> {surviving_block_pairs} surviving block pairs, over "
            f"max_block_pairs={max_block_pairs}. The corpus/threshold gives "
            "the angular bound nothing to prune (see the q50 docstring on "
            "the isotropic case); at this scale use lsh_neardup_pairs "
            "(q57, approximate) or raise max_block_pairs/block_size "
            "consciously."
        )

    # fringe split: a member beyond its cell's (capped) radius moves
    # to the residual set; with fringe_quantile=None the cap IS the
    # max, so nothing is a fringe member and `core` == `assigned`
    cap_items: list["F.Column"] = []
    for b, r in radius.items():
        cap_items.append(F.lit(b))
        cap_items.append(F.lit(float(r)))
    cap_col = F.create_map(*cap_items)[F.col("bucket")]
    tagged = assigned.select(
        "bucket", "vec_id", "embedding", (F.col("ang") > cap_col + 1e-12).alias("fr")
    )
    core = tagged.filter(~F.col("fr"))
    fringe = tagged.filter(F.col("fr"))

    w = Window.partitionBy("bucket").orderBy("vec_id")
    packed = (
        core.select("bucket", "vec_id", "embedding")
        .withColumn("bid", ((F.row_number().over(w) - 1) / block_size).cast("long"))
        .groupBy("bucket", "bid")
        .agg(F.sort_array(F.collect_list(F.struct("vec_id", "embedding"))).alias("blk"))
    )

    spark = emb.sparkSession
    kept_df = literal_df(spark, kept or [(-1, -1)], "ci int, cj int")
    pa = packed.select(
        F.col("bucket").alias("ci"), F.col("bid").alias("bid_a"), F.col("blk").alias("blk_a")
    )
    pb = packed.select(
        F.col("bucket").alias("cj"), F.col("bid").alias("bid_b"), F.col("blk").alias("blk_b")
    )
    pairs = (
        pa.join(F.broadcast(kept_df), "ci")
        .join(pb, "cj")
        # within a cell, ordered packing guarantees every id in block
        # bid_a < every id in block bid_b when bid_a < bid_b, so the
        # upper-triangular block walk plus the kernel's id mask covers
        # each unordered pair exactly once
        .filter((F.col("ci") < F.col("cj")) | (F.col("bid_a") <= F.col("bid_b")))
        .select(
            "blk_a", "blk_b", (F.col("ci") != F.col("cj")).alias("cross")
        )
    )

    if fringe_quantile is not None:
        # residual: fringe x core (disjoint sets -> cross semantics)
        # plus fringe x fringe upper-triangle (ordered packing, same
        # one-cell semantics). |fringe| <= (1-q) * n by construction,
        # so the residual costs O(|fringe| * n) block products — the
        # graceful fallback instead of un-pruning whole cells. (The
        # single-partition fringe sort is fine precisely because the
        # fringe is small; a 100 TB deployment would range-partition.)
        wf = Window.partitionBy(F.lit(0)).orderBy("vec_id")
        fpacked = (
            fringe.select("vec_id", "embedding")
            .withColumn(
                "bid", ((F.row_number().over(wf) - 1) / block_size).cast("long")
            )
            .groupBy("bid")
            .agg(
                F.sort_array(F.collect_list(F.struct("vec_id", "embedding"))).alias(
                    "blk"
                )
            )
        )
        fa = fpacked.select(F.col("bid").alias("fbid_a"), F.col("blk").alias("blk_a"))
        fb = fpacked.select(F.col("bid").alias("fbid_b"), F.col("blk").alias("blk_b"))
        fringe_core = fa.crossJoin(
            packed.select(F.col("blk").alias("blk_b"))
        ).select("blk_a", "blk_b", F.lit(True).alias("cross"))
        fringe_fringe = (
            fa.join(fb, F.col("fbid_a") <= F.col("fbid_b"))
            .select("blk_a", "blk_b", F.lit(False).alias("cross"))
        )
        pairs = pairs.unionByName(fringe_core).unionByName(fringe_fringe)
        if stats is not None:
            stats["n_fringe"] = fringe.count()

    def block_product(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_a: list[int] = []
            out_b: list[int] = []
            out_c: list[float] = []
            for blk_a, blk_b, cross in zip(pdf["blk_a"], pdf["blk_b"], pdf["cross"]):
                ids_a, mat_a = _unpack_block(blk_a)
                ids_b, mat_b = _unpack_block(blk_b)
                d = mat_a.shape[1]
                dots = np.zeros((len(ids_a), len(ids_b)))
                for k in range(d):
                    dots += np.outer(mat_a[:, k], mat_b[:, k])
                cos = _round4_away(dots / np.outer(_seq_norms(mat_a), _seq_norms(mat_b)))
                if cross:
                    # disjoint cells: every (row, col) is a distinct
                    # unordered pair — emit in canonical id order
                    ii, jj = np.nonzero(cos >= threshold)
                    va = np.minimum(ids_a[ii], ids_b[jj])
                    vb = np.maximum(ids_a[ii], ids_b[jj])
                else:
                    mask = (ids_a[:, None] < ids_b[None, :]) & (cos >= threshold)
                    ii, jj = np.nonzero(mask)
                    va, vb = ids_a[ii], ids_b[jj]
                out_a.extend(va)
                out_b.extend(vb)
                out_c.extend(cos[ii, jj])
            yield pd.DataFrame(
                {
                    "vec_a": pd.Series(out_a, dtype="int64"),
                    "vec_b": pd.Series(out_b, dtype="int64"),
                    "cos_sim": pd.Series(out_c, dtype="float64"),
                }
            )

    # same compute-aware spread as cosine_neardup_blocked (round 12):
    # block-pair rows are byte-light but compute-heavy, so AQE's
    # byte-based coalescing under-parallelizes the dense products;
    # surviving_block_pairs is already known exactly from the pruning
    # walk above (incl. the fringe residual upper bound)
    n_slots = max(2, emb.sparkSession.sparkContext.defaultParallelism)
    pairs = pairs.repartition(int(min(max(1, surviving_block_pairs), 2 * n_slots)))

    return pairs.mapInPandas(
        block_product, schema="vec_a long, vec_b long, cos_sim double"
    )


Q115_ALPHA = 4.0  # shared with the q115 oracle SQL (queries.py)
Q115_CLUSTERS = 16
Q115_THRESHOLD = 0.95


def clustered_embeddings(
    emb: DataFrame, n_clusters: int = Q115_CLUSTERS, alpha: float = Q115_ALPHA
) -> DataFrame:
    """Deterministic clustered corpus (q57's planted-construction
    pattern): v' = alpha * center + v, center = the embedding of row
    ``vec_id % n_clusters``. With unit-norm vectors and alpha=4 each
    planted cluster has ~14 deg angular radius while cluster centers
    sit ~90 deg apart — the regime where the celled tier's pruning
    bound actually fires (the raw testdata embeddings are isotropic,
    median 78 deg to their own centroid, so NOTHING can prune there;
    see module docstring on q50)."""
    cent = emb.filter(F.col("vec_id") < n_clusters).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("c")
    )
    return (
        emb.join(
            F.broadcast(cent),
            F.pmod(F.col("vec_id"), F.lit(n_clusters)) == F.col("cid"),
        )
        .select(
            "vec_id",
            F.zip_with(
                "embedding",
                "c",
                lambda x, y: F.lit(alpha) * y.cast("double") + x.cast("double"),
            ).alias("embedding"),
        )
    )


def q115_celled_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact near-dup via the celled middle tier on a clustered
    corpus: all pairs at cos >= 0.95, aggregated per planted cluster
    (pair counts + cos stats — the value check covers the exact pair
    SET while keeping output n_clusters-sized at every SF). The
    oracle computes the same pairs by brute force with zero knowledge
    of cells — exactness of the pruning is exactly what it verifies.
    Closes the one measured superlinear scale gap from round 3 (q50
    at 11.5x warm on 10x data): on this corpus the celled tier runs
    ~1/n_clusters of the block products."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    corpus = clustered_embeddings(emb)
    # iters=1: the deterministic lowest-vec_id init already lands one
    # seed per planted cluster, so a single Lloyd refinement suffices
    # — and the pruning bound is sound at ANY training quality (worse
    # cells just prune less), so fewer iterations trade only
    # efficiency (measured ~0.8 s/iteration at sf0.1, identical
    # 16/136 kept cell pairs at 1 vs 2 iterations)
    pairs = cosine_neardup_celled(
        corpus, threshold=Q115_THRESHOLD, n_cells=Q115_CLUSTERS, iters=1
    )
    return _cluster_pair_report(pairs)


def _cluster_pair_report(pairs: DataFrame) -> DataFrame:
    """Per-planted-cluster pair summary (cluster = vec_a %
    Q115_CLUSTERS) — the bounded-output value check q115 and q238
    share: it covers the exact pair SET while keeping output
    n_clusters-sized at every SF."""
    return (
        pairs.groupBy(
            F.pmod(F.col("vec_a"), F.lit(Q115_CLUSTERS)).cast("long").alias("cluster")
        )
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.avg("cos_sim"), 4).alias("avg_cos"),
            F.round(F.min("cos_sim"), 4).alias("min_cos"),
            F.round(F.max("cos_sim"), 4).alias("max_cos"),
        )
        .orderBy("cluster")
    )


def cosine_neardup_auto(
    emb: DataFrame,
    threshold: float = 0.4,
    block_size: int = 1024,
    max_block_pairs: int = QUADRATIC_TIER_MAX_BLOCK_PAIRS,
    n_cells: int = 16,
    iters: int = 1,
    stats: dict | None = None,
) -> DataFrame:
    """Exact near-dup with AUTOMATIC tier selection — the round-10
    step after the round-8 guard: instead of refusing past the bound,
    PLAN past it. Runs the same populated-block count the blocked
    guard runs (one small eager agg), then dispatches:

    - block pairs ≤ ``max_block_pairs`` → ``cosine_neardup_blocked``
      (brute tier: below the bound the dense products are cheaper
      than training a quantizer);
    - past the bound → ``cosine_neardup_celled`` (exact IVF-cell
      pruning — the handoff the blocked guard's refusal message names,
      now taken automatically).

    EXACT either way: both tiers return the identical pair set at any
    threshold (cells only prune provably-empty block pairs), so the
    dispatch is a pure physical-plan choice — the same contract as
    Catalyst picking broadcast vs shuffle join. If the celled tier's
    SURVIVING block pairs still exceed the bound (isotropic corpus at
    a low threshold — the case the q50 docstring proves unprunable),
    its own guard raises: automatic planning never silently launches
    the quadratic job it exists to avoid.

    ``stats`` (optional) records {"tier", "n_blocks", "n_block_pairs"}
    so callers/tests can assert which tier ran without re-counting.
    At 100 TB the count is a metastore lookup, not a job; the
    crossover bound is the knob a capacity planner sets once.
    """
    n_blocks = int(
        emb.agg(
            F.count_distinct((F.col("vec_id") / block_size).cast("long"))
        ).head()[0]
    )
    n_pairs = n_blocks * (n_blocks + 1) // 2
    tier = "blocked" if n_pairs <= max_block_pairs else "celled"
    if stats is not None:
        stats.update(tier=tier, n_blocks=n_blocks, n_block_pairs=n_pairs)
    if tier == "blocked":
        # _n_blocks threads the count computed above into the tier, so
        # the dispatch path runs ONE guard agg total (round-10 ADVICE)
        return cosine_neardup_blocked(
            emb,
            threshold=threshold,
            block_size=block_size,
            max_block_pairs=max_block_pairs,
            _n_blocks=n_blocks,
        )
    return cosine_neardup_celled(
        emb,
        threshold=threshold,
        n_cells=n_cells,
        iters=iters,
        block_size=block_size,
        max_block_pairs=max_block_pairs,
    )


def q238_neardup_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q115's clustered exact near-dup through the AUTO dispatcher —
    the refusal-to-planning claim made checkable: whichever tier the
    block count selects (blocked at the shipped SFs, celled past the
    bound — the flip is forced in tests via a small max_block_pairs),
    the output must equal q115's brute-force-oracled report exactly.
    Shares q115's DuckDB oracle verbatim: equal output IS the
    tier-equivalence claim, the same evidence pattern as the q234/q236
    storage round-trips (equal output through a different execution
    path)."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    corpus = clustered_embeddings(emb)
    pairs = cosine_neardup_auto(
        corpus, threshold=Q115_THRESHOLD, n_cells=Q115_CLUSTERS, iters=1
    )
    return _cluster_pair_report(pairs)


# ----------------------------------------------------- banded sign-LSH tier


def lsh_band_keys(
    emb: DataFrame, n_bands: int = 40, band_bits: int = 10, seed: int = 7
) -> DataFrame:
    """(vec_id, band, bkey) rows: band = index of a group of
    ``band_bits`` random hyperplanes, bkey = that band's sign-bit
    integer. Vectors at angle θ share one band's key with
    (1-θ/π)^band_bits; OR-ing over bands amplifies recall.

    The projection (n × d·B·r flops) runs as ONE vectorized matmul per
    Arrow batch — the plane matrix (d × B·r doubles, ~200 KB) ships in
    the closure; no join, no shuffle for key generation.
    """
    dim_row = emb.select(F.size("embedding").alias("d")).head()
    d = dim_row["d"]
    rng = np.random.default_rng(seed)
    planes = rng.normal(size=(d, n_bands * band_bits))
    weights = 1 << np.arange(band_bits, dtype=np.int64)

    def proj(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mat = np.array([list(e) for e in pdf["embedding"]], dtype=np.float64)
            bits = (mat @ planes) > 0  # n × (B·r)
            keys = bits.reshape(len(mat), n_bands, band_bits).astype(np.int64) @ weights
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "keys": [list(row) for row in keys]}
            )

    keyed = emb.select("vec_id", "embedding").mapInPandas(
        proj, schema="vec_id long, keys array<long>"
    )
    return keyed.select("vec_id", F.posexplode("keys").alias("band", "bkey"))


def _verify_pairs_exact(emb: DataFrame, cand: DataFrame, threshold: float) -> DataFrame:
    """Exact cosine over candidate pairs only: join both sides'
    vectors, score with the JVM ``cosine`` expression (sequential
    in-order fold — DuckDB ``list_sum`` order, oracle-exact).

    Expression, not Arrow: per-pair work is one 64-dim dot product,
    so shipping both vectors to a Python worker costs more than the
    arithmetic saves (measured: the JVM form is ~25% faster warm and
    2.5× faster cold than the ``mapInPandas`` equivalent; contrast
    ``cosine_neardup_blocked``, where dense BLOCK products amortize
    the Arrow hop and numpy wins)."""
    a = emb.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"))
    return (
        cand.join(a, "vec_a")
        .join(b, "vec_b")
        .select(
            "vec_a",
            "vec_b",
            F.round(cosine(F.col("ea"), F.col("eb")), 4).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def lsh_neardup_pairs(
    emb: DataFrame,
    threshold: float = 0.9,
    n_bands: int = 40,
    band_bits: int = 10,
    seed: int = 7,
    keys: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs via banded sign-LSH + exact verify.

    Candidate generation shuffles on (band, bkey) — bucket sizes
    ~n/2^band_bits per band; candidates ≈ B/2^r of all pairs for
    unrelated vectors, while a pair at cos c survives with
    1-(1-p^r)^B, p = 1-arccos(c)/π. Defaults (r=10, B=40) give
    ~1-5e-9 recall at cos 0.95 and 3.9% background admit. Use for
    thresholds ≥ ~0.8; below that, ``cosine_neardup_blocked`` (exact)
    does strictly less work — see module docstring.
    """
    if keys is None:
        keys = lsh_band_keys(emb, n_bands=n_bands, band_bits=band_bits, seed=seed)
    cand = (
        keys.alias("l")
        .join(
            keys.alias("r"),
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bkey") == F.col("r.bkey"))
            & (F.col("l.vec_id") < F.col("r.vec_id")),
        )
        .select(F.col("l.vec_id").alias("vec_a"), F.col("r.vec_id").alias("vec_b"))
    )
    # dedup AFTER the exact verify, not before: multi-band collisions
    # only duplicate ~20% of candidates (measured), so verifying them
    # twice is cheaper than a wide dropDuplicates shuffle of the full
    # candidate stream — the post-verify dedup shuffles only the
    # surviving near-dup pairs (orders of magnitude fewer).
    return _verify_pairs_exact(emb, cand, threshold).dropDuplicates(["vec_a", "vec_b"])


def q57_lsh_neardup(spark: SparkSession, sf_dir: str, threshold: float = 0.9) -> DataFrame:
    """Banded-LSH near-dup on a corpus with planted duplicates: each
    base vector (vec_id < 2000 slice, like q32's bounded slice) gets a
    perturbed copy (dim0 + 0.3 → cos ≈ 0.95..0.97 vs its source), and
    the LSH tier must recover every (base, planted) pair at cos ≥ 0.9
    — the regime banded LSH is FOR. Oracle = exact all-pairs SQL over
    the same derived corpus; with r=10, B=40 the per-pair miss
    probability is ~5e-9, so the oracle match is deterministic in
    practice (fixed seed, fixed data)."""
    from ssb_coefficient_maker_spark.cachereg import corpus_key_for, get_cache

    # The planted corpus + band-key table is the INDEX here — built
    # once per corpus (in production: a materialized keys table on
    # storage), probed per call. Same lifecycle as the IVF/PQ/shingle
    # caches: PinnedCache, one corpus pinned, fingerprint-evicted.
    cache = get_cache("lsh_bench_index")
    params = (2000, 40, 12, 7)
    hit = cache.lookup(corpus_key_for(sf_dir), params)
    if hit is None:
        emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 2000)
        base = emb.select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
        )
        planted = base.select(
            (F.col("vec_id") + 1000000).alias("vec_id"),
            F.concat(
                F.array(F.element_at("embedding", 1) + F.lit(0.3)),
                F.expr("slice(embedding, 2, size(embedding) - 1)"),
            ).alias("embedding"),
        )
        # r=12 (vs the tier default 10) because the planted regime has
        # margin: measured on this corpus every true pair sits at cos
        # 0.95-0.97 and NO pair falls in [0.88, 0.95) — per-pair miss
        # at 0.95 is (1-0.899^12)^40 ≈ 2e-6 while the background admit
        # drops 4x (40/4096 ≈ 1%), most of the candidate-join work.
        corpus = base.unionAll(planted).persist()
        keys = lsh_band_keys(corpus, n_bands=40, band_bits=12, seed=7).persist()
        keys.count()
        hit = cache.store(
            corpus_key_for(sf_dir), params, (corpus, keys), pinned=[corpus, keys]
        )
    corpus, keys = hit
    return lsh_neardup_pairs(
        corpus, threshold=threshold, band_bits=12, keys=keys
    ).orderBy("vec_a", "vec_b")


# ------------------------------------------------------ semantic dedup (q230)

# Planted-copy offset shared with the DuckDB oracle (queries.py): each
# base vector (vec_id < 2000 slice, q57's derived corpus) gets a
# perturbed copy at vec_id + 1e6 (dim0 + 0.3 → cos ≈ 0.95..0.97).
Q230_PLANT_OFFSET = 1000000


def q230_semantic_dedup(
    spark: SparkSession,
    sf_dir: str,
    k: int = 10,
    threshold: float = 0.9,
) -> DataFrame:
    """SemDeDup-style semantic dedup (partition-then-prune; Abbas et
    al. 2023, "SemDeDup", arXiv:2303.09540 — public): train a coarse
    k-means quantizer, assign every vector to its cluster, and prune
    WITHIN clusters only — drop vector b when a lower-id vector a in
    the SAME cluster has cos(a, b) ≥ threshold. Returns the
    per-cluster reduction report (bucket, n_vectors, n_dropped,
    n_kept).

    Where this sits among the near-dup tiers (module docstring): the
    clustering BOUNDS the candidate set without any hashing — within
    a cluster the rule is exhaustive and exact; the deliberate recall
    trade is cross-cluster pairs (a near-dup split across two cells is
    missed — the SemDeDup operating point, chosen because at high
    thresholds near-dups co-assign with overwhelming probability).
    Contrast q57 (banded LSH: global, probabilistic per-pair recall)
    and q115 (exact celled: no recall loss, pays cell-pair products).

    100 TB: candidate volume is Σ size(cluster)² — k is the knob and
    grows with n (n²/k per-cluster work stays linear at k ∝ n); the
    intra-cluster join shuffles on the bucket key only. The derived
    corpus + trained assignment is a pinned build-once index
    (PinnedCache 'semantic_dedup_index', same lifecycle as q57's key
    table); warm calls run ONLY the in-cluster dominance join.

    VALUE-oracled end to end: the Lloyd chain is bit-replicated by
    the generated CTE (queries._lloyd_cte over the derived corpus),
    the dominance join by the same ordered-fold cosine rounded to 4
    before the threshold compare on both engines."""
    from ssb_coefficient_maker_spark.cachereg import corpus_key_for, get_cache

    cache = get_cache("semantic_dedup_index")
    params = (2000, k, 3)
    corpus_id = corpus_key_for(sf_dir)
    hit = cache.lookup(corpus_id, params)
    if hit is None:
        emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 2000)
        base = emb.select(
            "vec_id",
            "label",
            F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
        )
        planted = base.select(
            (F.col("vec_id") + Q230_PLANT_OFFSET).alias("vec_id"),
            "label",
            F.concat(
                F.array(F.element_at("embedding", 1) + F.lit(0.3)),
                F.expr("slice(embedding, 2, size(embedding) - 1)"),
            ).alias("embedding"),
        )
        corpus = base.unionAll(planted)
        cents = kmeans_centroids(corpus, k=k, iters=3)
        assigned = assign_buckets(corpus, cents).persist()
        assigned.count()
        hit = cache.store(corpus_id, params, assigned, pinned=[assigned])
    assigned = hit
    dropped = _dominance_dropped(assigned, threshold)
    return (
        assigned.join(dropped.withColumn("hit", F.lit(1)), "vec_id", "left")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.count("hit").alias("n_dropped"),
            (F.count(F.lit(1)) - F.count("hit")).alias("n_kept"),
        )
        .orderBy("bucket")
    )


def _dominance_dropped(assigned: DataFrame, threshold: float) -> DataFrame:
    """The in-cluster dominance rule as ONE Arrow grouped map: per
    cluster, a dense pairwise cosine product in numpy drops every
    vector with a lower-id neighbor at round(cos, 4) ≥ threshold.

    Dense kernel, not a per-pair JVM fold: the candidate set is
    Σ size(cluster)² pairs — at sf0.1 ~1.6M × 64 dims, which the
    zip_with cosine expression ground through Catalyst HOFs in ~12 s
    warm, while this per-cluster outer-product loop (the q50 blocked
    kernel's shape: sequential per-dimension accumulation, so the
    scores stay bit-identical to DuckDB's ordered list_sum) runs it
    in well under a second — the module's measured rule that dense
    BLOCK products amortize the Arrow hop (contrast
    ``_verify_pairs_exact``, where candidate-sized inputs keep the
    JVM form ahead). One shuffle on the bucket key; each cluster's
    size² score matrix is the per-group memory bound — k is the
    SemDeDup knob that keeps clusters Arrow-sized (guarded upstream
    by the corpus being the bounded planted slice)."""
    import pandas as pd

    def per_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        mat = np.array(pdf["embedding"].tolist(), dtype=np.float64)[order]
        acc = np.zeros((len(ids), len(ids)))
        for d in range(mat.shape[1]):
            acc += np.outer(mat[:, d], mat[:, d])
        nrm = _seq_norms(mat)
        cos = _round4_away(acc / np.outer(nrm, nrm))
        mask = np.triu(cos >= threshold, k=1)
        return pd.DataFrame({"vec_id": ids[np.unique(np.nonzero(mask)[1])]})

    return (
        assigned.select("bucket", "vec_id", "embedding")
        .groupBy("bucket")
        .applyInPandas(per_cluster, "vec_id long")
    )


# ------------------------------------------------------- product quantization


def pq_train(
    emb: DataFrame, n_sub: int = 16, k: int = 32, iters: int = 3
) -> list[list[list[float]]]:
    """Train per-subspace PQ codebooks: the embedding splits into
    ``n_sub`` contiguous subvectors, each k-means'd under L2.

    ALL subspaces train together: per Lloyd iteration ONE Arrow pass
    computes every subspace's assignment (a loop of tiny GEMMs inside
    a single pandas UDF) and ONE (subspace, bucket) aggregation
    produces all n_sub×k centroid means — 2 jobs per iteration total,
    vs n_sub separate Lloyd loops (measured 16× fewer jobs at
    n_sub=16). Only n_sub×k×subdim floats cross the driver per
    iteration. Returns codebooks[n_sub][k][subdim].
    """
    dim_row = emb.select(F.size("embedding").alias("d")).head()
    d = dim_row["d"]
    if d % n_sub:
        raise ValueError(f"dim {d} not divisible by n_sub {n_sub}")
    sub = d // n_sub
    work = emb.select("vec_id", "embedding").persist()
    try:
        init = work.orderBy("vec_id").limit(k).select("embedding").collect()
        books = [
            [[float(x) for x in r[0][s * sub : (s + 1) * sub]] for r in init]
            for s in range(n_sub)
        ]
        mean_cols = [
            F.avg(F.element_at("subvec", i + 1).cast("double")).alias(f"m{i}")
            for i in range(sub)
        ]
        for _ in range(iters):
            coded = pq_encode(work, books)
            rows = (
                coded.select(
                    "embedding", F.posexplode("codes").alias("s", "bucket")
                )
                .select(
                    "s",
                    "bucket",
                    F.slice("embedding", F.col("s") * sub + 1, sub).alias("subvec"),
                )
                .groupBy("s", "bucket")
                .agg(*mean_cols)
                .collect()  # n_sub × k rows — tiny
            )
            new_books = [[list(c) for c in b] for b in books]
            for r in rows:
                # 1e-6 quantization: same bit-replicability contract
                # as kmeans_centroids — Spark's and DuckDB's avg sum
                # in different orders; snapping to a shared grid keeps
                # every later Lloyd iteration identical, making the PQ
                # pipeline oracle-checkable (q81)
                new_books[r["s"]][r["bucket"]] = [
                    round(float(r[f"m{i}"]), 6) for i in range(sub)
                ]
            books = new_books
    finally:
        work.unpersist()
    return books


def pq_encode(emb: DataFrame, books: list[list[list[float]]]) -> DataFrame:
    """Encode each vector as ``n_sub`` codebook indices (the 100 TB
    story: 64 float dims compress to n_sub bytes — a 64× smaller scan
    for the ADC pass). One Arrow batch pass, all subspaces per call."""
    mats = [np.array(b, dtype=np.float64) for b in books]
    # sequential fold for ||c||²/2 — bit-matches list_sum(c*c)/2
    halves = []
    for m in mats:
        h = np.zeros(m.shape[0])
        for d in range(m.shape[1]):
            h += m[:, d] * m[:, d]
        halves.append(h / 2.0)
    n_sub = len(mats)
    sub = mats[0].shape[1]

    @F.pandas_udf("array<int>")
    def _codes(e: pd.Series) -> pd.Series:
        x = np.array(e.tolist(), dtype=np.float64)
        out = np.empty((len(x), n_sub), dtype=np.int32)
        for s in range(n_sub):
            xs = x[:, s * sub : (s + 1) * sub]
            # sequential per-dimension accumulation (not a GEMM):
            # bit-identical to DuckDB's ordered list_sum, so the PQ
            # codes are reproducible by the q81 oracle; argmax takes
            # the FIRST max = lowest code on exact ties
            acc = np.zeros((len(x), mats[s].shape[0]))
            for d in range(sub):
                acc += xs[:, d : d + 1] * mats[s][:, d][None, :]
            out[:, s] = np.argmax(acc - halves[s], axis=1)
        return pd.Series(list(out))

    return emb.withColumn("codes", _codes("embedding"))


def _with_l2_normalized(df: DataFrame, src: str, dst: str) -> DataFrame:
    """Adds ``dst`` = L2-normalized ``src``. The norm lands in its own
    column first: inlining the aggregate into the transform lambda
    would re-evaluate the full-array norm once PER ELEMENT (O(d²) per
    row — Catalyst evaluates the lambda body per element with no
    cross-reference CSE)."""
    return (
        df.withColumn("__nrm", l2_norm(F.col(src)))
        .withColumn(dst, F.transform(F.col(src), lambda x: x.cast("double") / F.col("__nrm")))
        .drop("__nrm")
    )


def pq_index(spark: SparkSession, sf_dir: str, n_sub: int = 16, k: int = 32):
    """Build-once PQ index per corpus: codebooks + persisted codes.

    Vectors are L2-NORMALIZED before training/encoding: on the unit
    sphere L2 ordering equals cosine ordering, so the ADC scan (an L2
    estimator) ranks by the same metric the exact re-rank uses —
    unnormalized, a long vector at a wide angle beats a short one at a
    narrow angle and recall collapses (measured 0.4 → 0.9-1.0 @10 with
    the n_sub=16, k=32 defaults: 16×5 = 80 bits ≈ 10 bytes per vector,
    ~50× smaller than the raw doubles the ADC scan replaces). The
    original embedding rides along for the exact re-rank.

    Lifecycle: cachereg.PinnedCache — one corpus pinned at a time,
    evicted on corpus switch / testdata regeneration."""
    from ssb_coefficient_maker_spark.cachereg import corpus_key_for, get_cache

    cache = get_cache("pq_index")
    corpus = corpus_key_for(sf_dir)
    params = (n_sub, k)
    hit = cache.lookup(corpus, params)
    if hit is not None:
        return hit
    emb = load_table(spark, sf_dir, "embeddings")
    norm = _with_l2_normalized(emb, "embedding", "emb_n")
    train_in = norm.select("vec_id", F.col("emb_n").alias("embedding"))
    books = pq_train(train_in, n_sub=n_sub, k=k)
    # encode on the normalized copy, keep the ORIGINAL embedding
    # for the exact re-rank — a column rename, not a re-join of
    # the source table
    enc_in = norm.select(
        "vec_id", "label", F.col("embedding").alias("emb_orig"),
        F.col("emb_n").alias("embedding"),
    )
    codes = (
        pq_encode(enc_in, books)
        .select("vec_id", "label", F.col("emb_orig").alias("embedding"), "codes")
        .persist()
    )
    return cache.store(corpus, params, (books, codes), pinned=[codes])


def release_pq_index() -> None:
    """Unpersist the cached PQ index (safe to call any time)."""
    from ssb_coefficient_maker_spark.cachereg import get_cache

    get_cache("pq_index").release()


def q81_pq_topk(
    spark: SparkSession,
    sf_dir: str,
    topk: int = 10,
    shortlist: int = 100,
    query_id: int = 0,
) -> DataFrame:
    """PQ asymmetric-distance search: the query builds per-subspace
    distance TABLES driver-side (k×n_sub floats); each stored vector's
    approximate distance is n_sub literal-array lookups summed — pure
    JVM expressions over the tiny codes column, never touching the
    full vectors. The ADC shortlist is then re-ranked EXACTLY (cosine
    over the shortlist's real vectors only). Rows-only check (recall
    is data-dependent; asserted ≥0.8 vs exact top-k in tests)."""
    books, codes = pq_index(spark, sf_dir)
    q, qvals = _query_vector(spark, sf_dir, query_id)
    from ssb_coefficient_maker_spark.functions.vectors import seq_l2_norm

    # codes are over unit vectors; sequential norm + per-element
    # division so qn is bit-identical to the oracle's normalization
    qn = qvals / seq_l2_norm(qvals)
    n_sub = len(books)
    sub = len(books[0][0])
    # distance tables: ||q_s - c||² per subspace per centroid —
    # sequential per-dimension fold, matching the oracle's ordered
    # list_sum over (c - q)² terms
    adc = None
    for s in range(n_sub):
        qs = qn[s * sub : (s + 1) * sub]
        tbl = []
        for c in books[s]:
            acc = 0.0
            for d in range(sub):
                diff = float(c[d]) - float(qs[d])
                acc += diff * diff
            tbl.append(acc)
        term = F.element_at(
            F.array(*[F.lit(v) for v in tbl]), F.element_at("codes", s + 1) + 1
        )
        adc = term if adc is None else adc + term
    shortlisted = (
        codes.filter(F.col("vec_id") != query_id)
        .select("vec_id", "label", "embedding", adc.alias("adc_dist"))
        .orderBy(F.asc("adc_dist"), F.asc("vec_id"))
        .limit(shortlist)
    )
    return (
        shortlisted.select(
            "vec_id", "label", F.round(cosine(F.col("embedding"), q), 4).alias("cos_sim")
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(topk)
    )
