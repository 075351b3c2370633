"""Similarity-search operators over embedding columns (X3).

Cosine math is built from JVM higher-order array functions
(``zip_with``/``aggregate``) with element-wise double casts — index-ordered
summation, so DuckDB's ``list_cosine_similarity`` over ``DOUBLE[]`` agrees
to ~1e-15 and round-6 comparisons are engine-stable.

Brute force is the correctness baseline: broadcast the (small) query set,
stream the candidate corpus through map tasks — no shuffle of the corpus at
all; cost is O(|corpus|·|queries|·dim) FLOPs in one pass. That is the right
plan up to a few thousand queries; beyond that, switch to the LSH-bucketed
path in ``lsh.py`` which replaces the broadcast-product with a shuffle on
band keys.

ANN DEFAULT PATH (measured, r11 — `LSH_RECALL.json#pq_refine_recall`):
compose IVF × PQ with BOTH r11 knobs — `refine_k ≈ 10·k` (the exact
re-rank provably removes ALL quantization loss: refined recall equals
the exact-IVF probe bound at every operating point, and plain PQ+refine
reaches 1.0 at k′=400) and `corpus_assign=2` (SPANN-style
multi-assignment lifts the probe bound itself: 0.87 recall@10 at 25 %
scan fraction, 0.92–0.94 at 50 %, vs 0.53/0.8 single-assigned). Pick
nprobe from the measured scan_frac table; quantization error is no
longer a recall axis, only probe coverage is.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from realtime_data_pipeline_spark import ops
from realtime_data_pipeline_spark.ops import topk_per_group


def as_double_array(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def _write_local(
    spark: SparkSession, pdf: pd.DataFrame, schema: str, path: str
) -> None:
    """Write a tiny driver-side table (centroids/codebooks/meta) as one
    parquet file THROUGH THE ARROW PATH. Round-12 attribution of the
    ivf_index_rebuild bench regression: a ``createDataFrame(list_of_
    tuples)`` local relation is a PICKLED Python RDD, and writing it
    spawns a Python worker stage costing ~5 s per write on a warm
    local[32] session — the r11 1-row ``{path}/meta`` write alone
    doubled the rebuild leg, and the 64-row centroids write had carried
    the same hidden cost since the index existed. A pandas-backed
    createDataFrame converts via Arrow into a JVM local relation, and
    the identical write costs ~0.4 s. Schema note: array columns must
    arrive as object-dtype lists (they do — the callers build them with
    ``list``/``tolist``); the explicit DDL schema keeps the stored
    column types identical to the former tuple-list spelling (pandas
    int64 would otherwise widen ``int`` columns to bigint)."""
    spark.createDataFrame(pdf, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(path)


def dot(a: Column, b: Column) -> Column:
    """Index-ordered double dot product — JVM-side, no UDF."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def orthant_bucket(vec_col: Column, n_bits: int = 8) -> Column:
    """Deterministic coarse quantizer: bit ``i`` = ``[x_i >= 0]`` over the
    first ``n_bits`` dimensions — axis-aligned hyperplane LSH. Every SQL
    engine reproduces it exactly (it is a sum of sign CASEs), which is what
    makes :func:`semantic_dedup` oracle-checkable; the trained-centroid
    path is the data-adaptive variant for real corpora.

    Vectors SHORTER than ``n_bits`` dimensions degrade gracefully instead
    of failing the job: ``try_element_at`` yields NULL past the end (where
    ANSI ``element_at`` raises INVALID_ARRAY_INDEX), and a NULL element —
    missing or genuinely null — leaves bit ``i`` CLEARED (the ``>= 0``
    CASE is not-true for NULL), the same bucket as a NEGATIVE
    coordinate. Short/ragged vectors therefore coarsen into
    fewer effective buckets rather than erroring; corpora with meaningful
    dimension variance should bucket on ``min(dim)`` bits or a trained
    quantizer."""
    v = as_double_array(vec_col)
    bucket: Column = F.lit(0)
    for i in range(n_bits):
        bucket = bucket + F.when(
            F.try_element_at(v, F.lit(i + 1)) >= 0, F.lit(1 << i)
        ).otherwise(F.lit(0))
    return bucket.cast("int")


def semantic_dedup(
    corpus: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int = 8,
    centroids=None,
) -> DataFrame:
    """Embedding-space (semantic) dedup, the SemDeDup shape (Abbas et al.
    2023, arXiv:2303.09540): bucket the corpus with a coarse quantizer,
    compare pairs ONLY within a bucket, and drop every vector that has a
    smaller-id bucket-mate with round-6 cosine >= ``threshold``.

    The drop rule is a declarative DOMINANCE rule, not union-find: a
    vector is dropped iff ANY smaller-id bucket-mate is similar — even if
    that mate is itself dropped (pinned in tests). That keeps the kept
    set a single anti-join — deterministic across runs, engines and
    partitionings — instead of an iterative connected-components pass;
    for transitive-component semantics use ``neardup``'s component path.

    Scale shape: the all-pairs product is confined to buckets — ONE
    shuffle on the bucket key for the self-join (2^n_bits cells for the
    orthant quantizer, ``len(centroids)`` for a trained one), then one
    left join back on the id to mark drops; never an unbucketed cross
    join (plan-gated). Hot buckets are AQE's skew-join case; raise
    ``n_bits`` / ``n_centroids`` as the corpus grows so cells stay
    bounded — recall is bounded by the quantizer (cross-bucket near-dups
    are invisible, the SemDeDup trade by design).

    With ``centroids`` (a ``(C, dim)`` ndarray from
    :func:`train_centroids_kmeans`) the bucket is the nearest centroid —
    rows-only (the assignment is a Pandas-UDF matmul, no SQL twin).
    ``centroids=`` is the DEFAULT production path for loose thresholds
    (τ < ~0.5): data-adaptive cells hold recall with real pruning where
    sign-bit bucketing (orthant here, hyperplane banding in ``lsh.py``)
    measurably degrades — see LSH_RECALL.json#semdedup_quantizer_recall
    for the matched-cell-budget comparison. The orthant quantizer remains
    the oracle-checkable twin and is fine at dedup-tight thresholds.

    Returns ``(id_col, bucket int, is_kept boolean)`` over the full corpus.
    """
    if centroids is not None:
        bucket = F.explode(ivf_cells_udf(centroids, 1)(F.col(vec_col)))
    else:
        bucket = orthant_bucket(F.col(vec_col), n_bits)
    base = corpus.select(
        F.col(id_col),
        as_double_array(F.col(vec_col)).alias("__v"),
        bucket.alias("bucket"),
    ).select(
        id_col,
        "__v",
        "bucket",
        # norms hoisted below the self-join: once per ROW, not per pair.
        # Floored at 1e-12 so an all-zero embedding (a real-corpus
        # hazard) yields cosine 0 — similar to nothing, never dropped —
        # instead of an ANSI divide-by-zero job failure (tested).
        F.greatest(l2_norm(F.col("__v")), F.lit(1e-12)).alias("__n"),
    )
    a = base.select(
        F.col(id_col).alias("__id_a"),
        "bucket",
        F.col("__v").alias("__va"),
        F.col("__n").alias("__na"),
    )
    b = base.select(
        F.col(id_col).alias("__id_b"),
        "bucket",
        F.col("__v").alias("__vb"),
        F.col("__n").alias("__nb"),
    )
    dropped = (
        a.join(b, "bucket")
        .filter(F.col("__id_a") < F.col("__id_b"))
        .select(
            "__id_b",
            F.round(
                dot(F.col("__va"), F.col("__vb"))
                / (F.col("__na") * F.col("__nb")),
                6,
            ).alias("__sim6"),
        )
        .filter(F.col("__sim6") >= F.lit(threshold))
        .select(F.col("__id_b").alias(id_col))
        .distinct()
        .withColumn("__dropped", F.lit(True))
    )
    return base.join(dropped, id_col, "left").select(
        id_col,
        "bucket",
        F.col("__dropped").isNull().alias("is_kept"),
    )


def _staged_vectors(df, vec_col: str, n_bits: int, centroids) -> DataFrame:
    """Append the semantic-dedup working columns — ``__vec`` (double
    array), ``__bucket`` (coarse-quantizer cell), ``__norm`` (floored L2)
    — to ``df``. Shared by the batch incremental and the streaming
    ingest."""
    if centroids is not None:
        bucket = F.explode(ivf_cells_udf(centroids, 1)(F.col(vec_col)))
    else:
        bucket = orthant_bucket(F.col(vec_col), n_bits)
    return df.select(
        "*",
        as_double_array(F.col(vec_col)).alias("__vec"),
        bucket.alias("__bucket"),
    ).select(
        "*",
        F.greatest(l2_norm(F.col("__vec")), F.lit(1e-12)).alias("__norm"),
    )


def _similar_pairs(
    left: DataFrame, right: DataFrame, threshold: float
) -> DataFrame:
    """``(__id_a, __id_b, __sim6)`` for RIGHT rows with a bucket-mate in
    LEFT at round-6 cosine >= ``threshold`` (caller adds any id predicate
    via the frames it passes). Inputs are slim
    ``(__id, __bucket, __vec, __norm)`` frames."""
    lt = left.select(
        F.col("__id").alias("__id_a"),
        F.col("__bucket"),
        F.col("__vec").alias("__va"),
        F.col("__norm").alias("__na"),
    )
    rt = right.select(
        F.col("__id").alias("__id_b"),
        F.col("__bucket"),
        F.col("__vec").alias("__vb"),
        F.col("__norm").alias("__nb"),
    )
    return (
        lt.join(rt, "__bucket")
        .select(
            "__id_a",
            "__id_b",
            F.round(
                dot(F.col("__va"), F.col("__vb"))
                / (F.col("__na") * F.col("__nb")),
                6,
            ).alias("__sim6"),
        )
        .filter(F.col("__sim6") >= F.lit(threshold))
    )


def incremental_semantic_dedup(
    new_vectors: DataFrame,
    index_path: str,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int = 8,
    centroids=None,
) -> tuple[DataFrame, dict]:
    """Cross-batch :func:`semantic_dedup` — the daily-ingest shape: dedup
    the NEW batch against a persisted kept-vector index instead of
    re-running the corpus-wide pass (mirrors
    ``dedup.incremental_fingerprint_dedup`` /
    ``neardup.incremental_neardup_minhash``).

    Steps: (1) in-batch dominance dedup (smaller id wins, exactly the
    one-shot rule); (2) probe the index — a batch vector with ANY
    similar index mate in its bucket is a corpus duplicate (the index
    side always wins regardless of id: those vectors are already kept);
    (3) append the fresh survivors' (id, vec, norm) to the index,
    hive-partitioned by bucket.

    Scale shape: the index read prunes to the batch's buckets by
    constructing the affected ``bucket=N`` leaf DIRECTORIES directly
    (bucket ids are ints — always hive-name-safe), so the probe never
    lists the table's full partition tree: the round-8 ramp measured the
    whole-listing spelling at 2.8× wall at a 10× index (the same
    O(n_partitions) driver term the scd2 merge shed in round 7), while
    the direct-dir read stays flat. Buckets whose dir does not exist
    have no indexed neighbors and cost nothing; non-int bucket values
    (impossible for both quantizers, kept as a guard) fall back to the
    listed ``isin`` filter. The slim batch side is BROADCAST into the
    probe join, so the corpus-scale index streams map-side — no index
    shuffle, ever. Replaying a batch finds every survivor in the index
    at cosine 1.0, yields zero fresh rows and appends nothing —
    idempotent with no bookkeeping column.

    Cross-batch chain semantics differ from the one-shot rule by design:
    the index holds KEPT vectors only, so a vector dropped in an earlier
    batch never dominates a later one (greedy-kept — SemDeDup's actual
    streaming semantics), while one-shot dominance lets dropped vectors
    dominate (chain a~b, b~c, a≁c: one-shot drops c, incremental keeps
    it). Pinned in tests.

    Writer serialization: the probe-then-append span holds the same
    O_EXCL lock ``medallion._merge_lock`` uses for SCD merges (file
    beside ``index_path``) — two concurrent ingests would otherwise both
    pass the probe before either appends, writing mutual near-dups as
    'fresh' (the read-then-write race class). A second writer fails
    loudly with :class:`~realtime_data_pipeline_spark.medallion.ConcurrentMergeError`
    and retries; crashed holders are reclaimed by pid liveness probe.

    Returns ``(fresh_batch_rows, metrics)`` with metrics
    ``{batch_rows, in_batch_dropped, corpus_dups, fresh_rows}``.
    """
    import os

    from realtime_data_pipeline_spark.medallion import _merge_lock

    spark = new_vectors.sparkSession
    staged = _staged_vectors(new_vectors, vec_col, n_bits, centroids)
    slim = staged.select(
        F.col(id_col).alias("__id"),
        F.col("__bucket"),
        F.col("__vec"),
        F.col("__norm"),
    )

    # persist + materializing count (ONE job), not localCheckpoint +
    # count (two): the id set is read twice below (both anti-joins) but
    # nothing requires lineage truncation here — the write-isolation
    # checkpoint on `fresh` is the one that matters
    in_batch_dropped = (
        _similar_pairs(slim, slim, threshold)
        .filter(F.col("__id_a") < F.col("__id_b"))
        .select(F.col("__id_b").alias(id_col))
        .distinct()
        .persist()
    )
    n_in_batch = in_batch_dropped.count()
    batch_kept = staged.join(in_batch_dropped, id_col, "left_anti")

    n_corpus_dups = 0
    corpus_dups = None
    with _merge_lock(index_path, op="semantic-dedup-ingest"):
        if os.path.exists(index_path):
            batch_slim = slim.join(
                in_batch_dropped.select(F.col(id_col).alias("__id")),
                "__id",
                "left_anti",
            )
            buckets = [
                r["__bucket"]
                for r in batch_slim.select("__bucket").distinct().collect()
            ]
            from realtime_data_pipeline_spark import (
                manifest_layout as _ml,
            )
            from realtime_data_pipeline_spark.medallion import (
                _hive_partition_dirs,
            )

            index = None
            if _ml.is_manifest_table(index_path):
                # manifest index (round-17 default for NEW indexes):
                # bucket -> gen pointers replace the per-bucket
                # directory tree; the probe reads only the gens holding
                # the batch's buckets, row-group-pruned by the
                # write-side bucket clustering
                index = _ml.pruned_read(
                    spark, index_path, "bucket", buckets
                )
                dirs = None
            elif (dirs := _hive_partition_dirs(
                index_path, "bucket", buckets
            )) is not None:
                # ONE multi-path read (not a per-dir union — its N-slice
                # plan overhead measured 3× at small bucket counts):
                # basePath keeps hive partition discovery so `bucket`
                # comes back as the int the dir names carry, but only
                # the affected leaf dirs are ever listed
                existing = [d for _, d in dirs if os.path.isdir(d)]
                if existing:
                    index = (
                        spark.read.option("basePath", index_path)
                        .parquet(*existing)
                    )
            else:  # unprovable hive names — the listed-read fallback
                index = spark.read.parquet(index_path).filter(
                    F.col("bucket").isin(buckets)
                )
            if index is not None:
                index = index.select(
                    F.col(id_col).alias("__id"),
                    F.col("bucket").alias("__bucket"),
                    F.col("vec").alias("__vec"),
                    F.col("norm").alias("__norm"),
                )
                corpus_dups = (
                    _similar_pairs(index, F.broadcast(batch_slim), threshold)
                    .select(F.col("__id_b").alias(id_col))
                    .distinct()
                    .persist()  # one materializing count, not ckpt+count
                )
                n_corpus_dups = corpus_dups.count()
                batch_kept = batch_kept.join(
                    corpus_dups, id_col, "left_anti"
                )

        fresh = batch_kept.localCheckpoint(eager=True)
        n_fresh = fresh.count()
        # fresh is checkpointed — the persisted id sets above are no
        # longer reachable through any returned lineage; release them
        # so repeated ingests don't accumulate cache entries
        in_batch_dropped.unpersist()
        if corpus_dups is not None:
            corpus_dups.unpersist()
        if n_fresh:
            idx_rows = fresh.select(
                F.col(id_col),
                F.col("__vec").alias("vec"),
                F.col("__norm").alias("norm"),
                F.col("__bucket").alias("bucket"),
            )
            from realtime_data_pipeline_spark import (
                manifest_layout as _ml,
            )

            hive_index = (
                os.path.isdir(index_path)
                and not _ml.is_manifest_table(index_path)
                and any(
                    e.startswith("bucket=")
                    for e in os.listdir(index_path)
                )
            )
            if hive_index:  # pre-r17 index: keep its layout for life
                (
                    idx_rows.repartition("bucket")
                    .write.mode("append")
                    .partitionBy("bucket")
                    .parquet(index_path)
                )
            else:
                # manifest layout (default for new indexes): ONE gen-dir
                # commit per batch instead of an append commit into
                # every touched bucket=N directory (~200 of 256 at
                # bench batch shapes, tens of ms each, driver-serial).
                # The appended buckets ride the write via Observation —
                # no separate distinct pass over the checkpointed fresh
                # set. Replay safety is unchanged: a replayed batch
                # finds its survivors in the index at cosine 1.0 and
                # appends nothing.
                from pyspark.sql import Observation

                obs = Observation()
                gen = _ml.write_gen(
                    idx_rows.observe(
                        obs, F.collect_set("bucket").alias("bkts")
                    ).repartition("bucket"),
                    index_path,
                    "bucket",
                )
                _ml.publish(
                    index_path,
                    sorted(obs.get["bkts"]),
                    gen,
                    mode="append",
                )
    return fresh.drop("__vec", "__bucket", "__norm"), {
        "batch_rows": n_fresh + n_in_batch + n_corpus_dups,
        "in_batch_dropped": n_in_batch,
        "corpus_dups": n_corpus_dups,
        "fresh_rows": n_fresh,
    }


def quantize_int8(
    vec_col: Column, scale_col: Column | None = None
) -> tuple[Column, Column]:
    """Symmetric per-vector int8 quantization: ``(scale, qvec)`` where
    ``scale = max(|x|)/127`` and ``qvec[i] = floor(x[i]/scale + 0.5)``
    (explicit floor-plus-half instead of ``round()`` — ROUND's half-up
    vs half-even tie behavior differs across engines; floor is
    bit-identical IEEE everywhere, which keeps the DuckDB oracle exact).
    Dequantized dot = ``scale_a * scale_b * dot(qa, qb)``.

    At 100 TB of embeddings this is the storage posture for the vector
    index: 1 byte/dim + one float scale instead of 4-8 bytes/dim (4-8×
    smaller scan + shuffle), with recall loss bounded by the re-rank —
    quantized search is a CANDIDATE generator; the exact-vector re-rank
    that ivf/brute-force already do absorbs the precision loss
    (recall-gated in tests). Pure JVM HOFs — no UDF.
    """
    v = as_double_array(vec_col)
    if scale_col is None:
        # single-select convenience: the scale expression is inlined in
        # the qvec lambda, and HOF lambdas re-evaluate their body per
        # ELEMENT (Catalyst does not hoist loop-invariant subtrees out
        # of them) — O(d²) per vector. Hot paths must materialize the
        # scale first (quantize_scale + a select) and pass it in.
        scale_col = quantize_scale(vec_col)
    qvec = F.transform(
        v, lambda x: F.floor(x / scale_col + F.lit(0.5)).cast("int")
    )
    return scale_col, qvec


def quantize_scale(vec_col: Column) -> Column:
    """The symmetric per-vector quantization scale ``max(|x|)/127`` —
    materialize this as a real column FIRST, then hand it to
    :func:`quantize_int8`: one O(d) pass, and the qvec lambda reads a
    bound scalar per element instead of recomputing the array max."""
    v = as_double_array(vec_col)
    return (
        F.greatest(
            F.array_max(F.transform(v, lambda x: F.abs(x))), F.lit(1e-12)
        )
        / F.lit(127.0)
    )


def quantized_cosine(
    scale_a: Column, qa: Column, scale_b: Column, qb: Column
) -> Column:
    """Cosine over int8-quantized vectors (dequantized algebra: scales
    cancel in the normalization, so this is just the int dot over int
    norms — but spelled with the scales for clarity when vectors use
    different scales)."""
    da = F.transform(qa, lambda x: x.cast("double") * scale_a)
    db = F.transform(qb, lambda x: x.cast("double") * scale_b)
    return cosine(da, db)


def ivf_cells_udf(centroids, nprobe: int = 1):
    """Coarse-quantizer assignment for IVF: array<float> vector → the ids of
    its ``nprobe`` nearest (max-dot-product) centroids, as array<int>.
    One numpy matmul + argsort per Arrow batch; the closure captures only
    ndarrays and by-name library imports, so any Python worker can
    unpickle it."""
    cents_t = centroids.T.copy()
    npr = nprobe

    @pandas_udf("array<int>")
    def _cells(vecs: pd.Series) -> pd.Series:
        mat = np.vstack(vecs.to_numpy())           # (batch, dim)
        scores = mat @ cents_t                      # (batch, C)
        top = np.argsort(-scores, axis=1)[:, :npr].astype(np.int32)
        return pd.Series(list(top))

    return _cells


def random_centroids(n_centroids: int, dim: int, seed: int = 42):
    """Seeded random unit centroids — the untrained fallback quantizer
    (see :func:`train_centroids_kmeans` for the trained one)."""
    c = np.random.RandomState(seed).standard_normal((n_centroids, dim))
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def train_centroids_kmeans(
    corpus: DataFrame,
    n_centroids: int,
    seed: int = 42,
    sample_size: int = 4096,
    max_iter: int = 25,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Train the IVF coarse quantizer: spherical k-means (Lloyd's with
    re-normalized means, matching the max-dot-product assignment rule) on a
    bounded, DETERMINISTIC corpus sample fitted on the driver.

    This is the standard IVF build recipe (FAISS-style): the quantizer
    needs only a few thousand representative vectors, so sampling
    ``sample_size`` rows (lowest ids — deterministic across runs and
    re-shards) and fitting locally costs seconds and stays constant as the
    corpus grows; cluster assignment of the FULL corpus stays distributed
    in :func:`ivf_knn`. At 100 TB nothing changes here but ``sample_size``.

    Returns a (n_centroids, dim) unit-row ndarray for ``ivf_knn(centroids=...)``.
    """
    rows = (
        corpus.select(as_double_array(F.col(vec_col)).alias("__v"))
        .orderBy(F.col(id_col).asc())
        .limit(sample_size)
        .collect()
    )
    x = np.vstack([r["__v"] for r in rows])
    x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    rng = np.random.RandomState(seed)
    cents = x[rng.choice(len(x), size=n_centroids, replace=len(x) < n_centroids)]
    for _ in range(max_iter):
        assign = np.argmax(x @ cents.T, axis=1)
        new = np.zeros_like(cents)
        for j in range(n_centroids):
            members = x[assign == j]
            if len(members) == 0:
                # empty cluster: restart at the point farthest from its
                # centroid — the classic split heuristic, deterministic
                worst = np.argmin((x @ cents.T).max(axis=1))
                new[j] = x[worst]
            else:
                new[j] = members.mean(axis=0)
        new = new / np.maximum(np.linalg.norm(new, axis=1, keepdims=True), 1e-12)
        if np.allclose(new, cents, atol=1e-9):
            cents = new
            break
        cents = new
    return cents


def ivf_knn(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    n_centroids: int = 16,
    nprobe: int = 4,
    dim: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    centroids=None,
    corpus_assign: int = 1,
) -> DataFrame:
    """X3 scale path #2 (IVF): corpus vectors are bucketed into coarse
    cells once (an index build — at scale, persisted/partitioned BY cell);
    each query probes its ``nprobe`` nearest cells, so the exact re-rank
    touches ~nprobe/n_centroids of the corpus instead of all of it, and
    candidate pairing is an equi-join on the cell id. Recall is bounded by
    the probe coverage — the test gate plants known neighbors.

    Pass ``centroids`` from :func:`train_centroids_kmeans` for a trained
    quantizer (cells follow the data's density → markedly better recall at
    the same nprobe); default falls back to seeded random centroids.
    ``corpus_assign`` > 1 replicates each corpus vector into its top-R
    cells (SPANN-style multi-assignment, the public fix for boundary
    misses on weakly-clustered data): the index grows R× but the
    probe-coverage bound at the SAME nprobe rises, because a neighbor
    sitting just across a cell boundary is now also IN the probed cell.
    Duplicated pairs carry identical sims and are dropped before
    ranking."""
    cents = (
        centroids
        if centroids is not None
        else random_centroids(n_centroids, dim, seed)
    )
    corpus = ops.spread(corpus, id_col)
    corpus_cells = corpus.select(
        F.col(id_col),
        as_double_array(F.col(vec_col)).alias("__vec"),
        F.explode(
            ivf_cells_udf(cents, corpus_assign)(F.col(vec_col))
        ).alias("cell"),
    ).select(id_col, "__vec", "cell", l2_norm(F.col("__vec")).alias("__n"))
    query_cells = queries.select(
        F.col(query_id_col),
        as_double_array(F.col(query_vec_col)).alias("__qvec"),
        F.explode(ivf_cells_udf(cents, nprobe)(F.col(query_vec_col))).alias(
            "cell"
        ),
    ).select(
        query_id_col, "__qvec", "cell", l2_norm(F.col("__qvec")).alias("__qn")
    )
    pairs = (
        corpus_cells.join(F.broadcast(query_cells), "cell")
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(
            query_id_col,
            id_col,
            F.round(
                dot(F.col("__qvec"), F.col("__vec"))
                / (F.col("__qn") * F.col("__n")),
                6,
            ).alias("sim6"),
        )
        .dropDuplicates([query_id_col, id_col])
    )
    top = topk_per_group(
        pairs, [query_id_col], [F.col("sim6").desc(), F.col(id_col).asc()], k=k
    )
    return top.select(
        query_id_col,
        id_col,
        F.round(F.col("sim6"), 4).alias("sim"),
        F.col("rn").cast("int").alias("rank"),
    )


def _ivf_read_cells(
    spark: SparkSession, path: str, cells: list[int] | None = None
) -> DataFrame:
    """Index rows (optionally pruned to ``cells``), layout-dispatched:
    manifest indexes resolve cell -> gen-dir pointers and prune row
    groups via the write-side cell clustering; hive indexes keep the
    ``cell=N`` partition-filter read."""
    from realtime_data_pipeline_spark import manifest_layout as _ml

    root = f"{path}/cells"
    if _ml.is_manifest_table(root):
        df = _ml.pruned_read(spark, root, "cell", cells)
        if df is None:
            # none of the probed cells hold rows: empty frame with the
            # index schema (any live gen dir carries it)
            man = _ml.read_manifest(root)
            if not man:
                raise ValueError(f"{root}: manifest references no data")
            g = next(iter(sorted({g for v in man.values() for g in v})))
            df = spark.read.parquet(_ml.gen_dir(root, g)).limit(0)
        return df
    df = spark.read.parquet(root)
    if cells is not None:
        df = df.filter(F.col("cell").isin(list(cells)))
    return df


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    centroids,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quantize: bool = False,
    corpus_assign: int = 1,
    layout: str = "manifest",
) -> None:
    """Persist the IVF index the ``ivf_knn`` docstring promises at scale:
    corpus vectors cell-assigned ONCE and written hive-partitioned BY
    cell, plus the trained centroids beside them. After this, probing a
    cell is PARTITION PRUNING on disk — a search with ``nprobe=4`` of 64
    cells lists and reads 1/16 of the index files, before any row is
    decoded. The one-time build cost (assignment pass + one shuffle into
    cell layout) is exactly the cost every query would otherwise pay in
    ``ivf_knn``'s per-call assignment.

    Layout: ``{path}/cells/cell=N/*.parquet`` (id, vec, norm) and
    ``{path}/centroids/*.parquet`` (cell, weights) — both plain parquet,
    readable by any engine. With ``quantize=True`` the cells store
    ``(id, qvec int8-range ints, qscale, norm)`` instead of the float
    vector — ~4× smaller index scan at search time; the stored ``norm``
    is the DEQUANTIZED norm so search cosines are consistent with the
    stored precision (recall-gated; exact re-rank against full-precision
    vectors stays available from the source table when needed).
    ``corpus_assign`` > 1 persists each vector into its top-R cells
    (SPANN-style multi-assignment — R× index size for a higher probe
    bound; see :func:`ivf_knn`); the R is stored in ``{path}/meta`` so
    :func:`append_to_ivf_index` replicates appends identically, and
    :func:`ivf_index_search` needs no change (it already de-duplicates
    candidate pairs).

    ``layout='manifest'`` (the round-17 default) writes the cells as ONE
    generation directory plus a cell -> gen pointer file
    (:mod:`~realtime_data_pipeline_spark.manifest_layout`) instead of
    one ``cell=N`` hive directory per cell: the write pays ONE commit,
    not n_centroids of them (~tens of ms each, driver-serial: a
    ~90-dir write measured 7.4 s vs 0.9 s), and probing prunes by manifest
    pointer + row-group stats instead of directory names.
    ``layout='hive'`` keeps the engine-portable dir-per-cell layout.
    Appends and searches auto-detect the layout on disk."""
    cells = corpus.select(
        F.col(id_col),
        as_double_array(F.col(vec_col)).alias("vec"),
        F.explode(
            ivf_cells_udf(centroids, corpus_assign)(F.col(vec_col))
        ).alias("cell"),
    )
    if quantize:
        # two-step: scale materialized once (O(d)), then qvec reads it
        cells = cells.withColumn("qscale", quantize_scale(F.col("vec")))
        _, qvec = quantize_int8(F.col("vec"), F.col("qscale"))
        cells = cells.select(
            id_col,
            qvec.alias("qvec"),
            "qscale",
            "cell",
        ).select(
            id_col,
            "qvec",
            "qscale",
            l2_norm(
                F.transform(
                    "qvec", lambda x: x.cast("double") * F.col("qscale")
                )
            ).alias("norm"),
            "cell",
        )
    else:
        cells = cells.select(
            id_col,
            "vec",
            l2_norm(F.col("vec")).alias("norm"),
            "cell",
        )
    if layout not in ("hive", "manifest"):
        raise ValueError(f"layout must be hive|manifest, got {layout!r}")
    if layout == "manifest":
        import os
        import shutil

        from pyspark.sql import Observation

        from realtime_data_pipeline_spark import manifest_layout as _ml

        root = f"{path}/cells"
        if os.path.exists(root):  # build = full overwrite, like before
            shutil.rmtree(root)
        obs = Observation()
        gen = _ml.write_gen(
            cells.observe(
                obs, F.collect_set("cell").alias("cells")
            ).repartition("cell"),
            root,
            "cell",
        )
        _ml.publish(root, sorted(obs.get["cells"]), gen, mode="replace")
    else:
        (
            cells.repartition("cell")
            .write.mode("overwrite")
            .partitionBy("cell")
            .parquet(f"{path}/cells")
        )
    spark = corpus.sparkSession
    _write_local(
        spark,
        pd.DataFrame(
            {
                "cell": range(len(centroids)),
                "weights": [[float(x) for x in row] for row in centroids],
            }
        ),
        "cell int, weights array<double>",
        f"{path}/centroids",
    )
    _write_local(
        spark,
        pd.DataFrame({"corpus_assign": [int(corpus_assign)]}),
        "corpus_assign int",
        f"{path}/meta",
    )


def append_to_ivf_index(
    new_vectors: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incremental index growth: assign NEW vectors with the index's
    STORED quantizer and append them into the cell layout — the daily
    shape (embeddings arrive with each corpus batch; rebuilding the
    index per batch would rescan the corpus). Cell assignment is the
    same one-matmul-per-batch projection as the build; the append
    touches only the `cell=N` directories the new vectors land in.

    The quantizer is intentionally NOT retrained here: centroids must
    stay fixed or previously-indexed vectors would sit in stale cells.
    Retrain + full rebuild when drift accumulates (recall gates tell
    you when). Appends match the index's stored precision (float or
    int8) by sniffing the existing cell schema, and its multi-assignment
    R from ``{path}/meta`` (absent on pre-r11 indexes → 1), so appended
    vectors are replicated exactly like the build's."""
    spark = new_vectors.sparkSession
    cents = load_ivf_centroids(spark, path)
    quantized = "qvec" in spark.read.parquet(f"{path}/cells").columns
    try:
        corpus_assign = int(
            spark.read.parquet(f"{path}/meta").collect()[0]["corpus_assign"]
        )
    except Exception:  # noqa: BLE001 - pre-meta index layout
        corpus_assign = 1
    staged = new_vectors.select(
        F.col(id_col),
        as_double_array(F.col(vec_col)).alias("vec"),
        F.explode(
            ivf_cells_udf(cents, corpus_assign)(F.col(vec_col))
        ).alias("cell"),
    )
    if quantized:
        staged = staged.withColumn("qscale", quantize_scale(F.col("vec")))
        _, qvec = quantize_int8(F.col("vec"), F.col("qscale"))
        staged = staged.select(
            id_col, qvec.alias("qvec"), "qscale", "cell"
        ).select(
            id_col,
            "qvec",
            "qscale",
            l2_norm(
                F.transform(
                    "qvec", lambda x: x.cast("double") * F.col("qscale")
                )
            ).alias("norm"),
            "cell",
        )
    else:
        staged = staged.select(
            id_col, "vec", l2_norm(F.col("vec")).alias("norm"), "cell"
        )
    from realtime_data_pipeline_spark import manifest_layout as _ml

    root = f"{path}/cells"
    if _ml.is_manifest_table(root):
        # ONE new gen dir + an append-mode pointer update, instead of
        # an append commit into every touched cell=N directory
        from pyspark.sql import Observation

        obs = Observation()
        gen = _ml.write_gen(
            staged.observe(
                obs, F.collect_set("cell").alias("cells")
            ).repartition("cell"),
            root,
            "cell",
        )
        _ml.publish(root, sorted(obs.get["cells"]), gen, mode="append")
    else:
        (
            staged.repartition("cell")
            .write.mode("append")
            .partitionBy("cell")
            .parquet(f"{path}/cells")
        )


def load_ivf_centroids(spark: SparkSession, path: str):
    """Read the quantizer back as the (n_centroids, dim) ndarray the
    search path expects."""
    rows = spark.read.parquet(f"{path}/centroids").orderBy("cell").collect()
    return np.vstack([np.asarray(r["weights"]) for r in rows])


def ivf_index_search(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int,
    nprobe: int = 4,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Search a persisted IVF index (:func:`build_ivf_index`). The probed
    cell set is collected first (bounded: ≤ min(n_queries·nprobe,
    n_centroids) ints) and pushed as an ``isin`` partition filter, so the
    index scan statically prunes to the probed ``cell=N`` directories —
    verifiable in the plan's PartitionFilters. Candidate pairing and the
    exact cosine re-rank then match :func:`ivf_knn` exactly."""
    cents = load_ivf_centroids(spark, path)
    query_cells = queries.select(
        F.col(query_id_col),
        as_double_array(F.col(query_vec_col)).alias("__qvec"),
        F.explode(ivf_cells_udf(cents, nprobe)(F.col(query_vec_col))).alias(
            "cell"
        ),
    ).select(
        query_id_col, "__qvec", "cell", l2_norm(F.col("__qvec")).alias("__qn")
    )
    probed = [r["cell"] for r in query_cells.select("cell").distinct().collect()]
    index = _ivf_read_cells(spark, path, probed)
    if "qvec" in index.columns:
        # int8 index: dequantize candidates on the fly (pruned cells ×
        # queries only — never the whole index)
        index = index.withColumn(
            "vec",
            F.transform("qvec", lambda x: x.cast("double") * F.col("qscale")),
        )
    pairs = (
        index.join(F.broadcast(query_cells), "cell")
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(
            query_id_col,
            id_col,
            F.round(
                dot(F.col("__qvec"), F.col("vec"))
                / (F.col("__qn") * F.col("norm")),
                6,
            ).alias("sim6"),
        )
        .dropDuplicates([query_id_col, id_col])
    )
    top = topk_per_group(
        pairs, [query_id_col], [F.col("sim6").desc(), F.col(id_col).asc()], k=k
    )
    return top.select(
        query_id_col,
        id_col,
        F.round(F.col("sim6"), 4).alias("sim"),
        F.col("rn").cast("int").alias("rank"),
    )


def brute_force_knn(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    ``queries`` must be small enough to broadcast (the driver of the
    product); the corpus is never shuffled — Spark plans
    BroadcastNestedLoopJoin and the per-task loop is the scan itself.
    Self-matches (same id) are excluded. Ranking orders by cosine rounded
    to 6 decimals with the candidate id as tiebreaker, making the result
    set deterministic and engine-portable.
    """
    # norms are hoisted below the join: computed once per row, not once per
    # pair (the join boundary stops Catalyst collapsing the projection).
    # dot/(qn*n) evaluates the identical double ops in the identical order
    # as cosine(q, v), so oracle round-6 parity is unaffected.
    cand = ops.spread(corpus, id_col).select(
        F.col(id_col), as_double_array(F.col(vec_col)).alias("__vec")
    ).select(
        id_col, "__vec", l2_norm(F.col("__vec")).alias("__n")
    )
    q = queries.select(
        F.col(query_id_col), as_double_array(F.col(query_vec_col)).alias("__qvec")
    ).select(
        query_id_col, "__qvec", l2_norm(F.col("__qvec")).alias("__qn")
    )
    pairs = (
        cand.crossJoin(F.broadcast(q))
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(
            query_id_col,
            id_col,
            F.round(
                dot(F.col("__qvec"), F.col("__vec"))
                / (F.col("__qn") * F.col("__n")),
                6,
            ).alias("sim6"),
        )
    )
    top = topk_per_group(
        pairs,
        [query_id_col],
        [F.col("sim6").desc(), F.col(id_col).asc()],
        k=k,
    )
    return top.select(
        query_id_col,
        id_col,
        F.round(F.col("sim6"), 4).alias("sim"),
        F.col("rn").cast("int").alias("rank"),
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the ANN memory-compression path.
# ---------------------------------------------------------------------------


def train_pq_codebooks(
    corpus: DataFrame,
    m: int = 8,
    n_codes: int = 256,
    seed: int = 42,
    sample_size: int = 4096,
    max_iter: int = 25,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Train product-quantization codebooks: split the vector into ``m``
    contiguous subspaces and run plain-L2 Lloyd's independently in each,
    on the same bounded DETERMINISTIC driver sample policy as
    :func:`train_centroids_kmeans` (lowest ids; constant cost as the
    corpus grows — FAISS's recipe). Returns an ndarray
    ``(m, n_codes, dim//m)``.

    PQ is the 100 TB memory story for ANN: a 64-dim float64 vector is
    512 bytes; its PQ code is ``m`` uint8s (8 bytes at m=8) — a 64×
    compression that turns a 100 TB embedding corpus into a ~1.6 TB
    code table that scans at memory bandwidth. Accuracy is bounded by
    reconstruction error; the tests gate recall@k against the exact
    scan."""
    rows = (
        corpus.select(as_double_array(F.col(vec_col)).alias("__v"))
        .orderBy(F.col(id_col).asc())
        .limit(sample_size)
        .collect()
    )
    x = np.vstack([r["__v"] for r in rows])
    dim = x.shape[1]
    if dim % m != 0:
        raise ValueError(f"m={m} must divide dim={dim}")
    dsub = dim // m
    rng = np.random.RandomState(seed)
    books = np.zeros((m, n_codes, dsub))
    for j in range(m):
        xs = x[:, j * dsub : (j + 1) * dsub]
        cents = xs[rng.choice(len(xs), size=n_codes, replace=len(xs) < n_codes)]
        for _ in range(max_iter):
            d2 = (
                (xs**2).sum(1, keepdims=True)
                - 2.0 * xs @ cents.T
                + (cents**2).sum(1)
            )
            assign = np.argmin(d2, axis=1)
            new = np.zeros_like(cents)
            # empty codes reseed at DISTINCT worst-quantized points:
            # ranked once per iteration, consumed in order, so two codes
            # emptying simultaneously never collapse onto one codeword
            worst = np.argsort(-d2.min(axis=1))
            next_worst = 0
            for c in range(n_codes):
                members = xs[assign == c]
                if len(members) == 0:
                    new[c] = xs[worst[next_worst % len(worst)]]
                    next_worst += 1
                else:
                    new[c] = members.mean(axis=0)
            if np.allclose(new, cents, atol=1e-9):
                cents = new
                break
            cents = new
        books[j] = cents
    return books


def pq_encode(
    df: DataFrame,
    codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Distributed PQ encoding: per subspace, the nearest codeword id —
    ``(id, pq_code array<smallint>)``. One Arrow-batched pandas UDF
    (argmin over the broadcast ``(m, n_codes, dsub)`` codebooks — a few
    hundred KB in the task closure), no shuffle: encoding is a
    projection."""
    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf

    books = np.asarray(codebooks)
    m, n_codes, dsub = books.shape
    b2 = (books**2).sum(axis=2)  # (m, n_codes)

    @pandas_udf("array<smallint>")
    def encode(vecs: pd.Series) -> pd.Series:
        x = np.vstack(vecs.to_numpy())  # (n, dim)
        out = np.empty((x.shape[0], m), dtype=np.int16)
        for j in range(m):
            xs = x[:, j * dsub : (j + 1) * dsub]
            d2 = b2[j] - 2.0 * xs @ books[j].T  # + |xs|² is rank-invariant
            out[:, j] = np.argmin(d2, axis=1).astype(np.int16)
        return pd.Series(list(out))

    return df.select(
        F.col(id_col),
        encode(as_double_array(F.col(vec_col))).alias("pq_code"),
    )


def _exact_refine(
    corpus: DataFrame,
    queries: DataFrame,
    cand_pairs: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    query_vec_col: str,
) -> DataFrame:
    """Second-pass exact re-rank (the FAISS ``refine`` stage): fetch ONLY
    the candidate ids' full vectors and score them exactly, so recall
    approaches the candidate-generation bound while the quantized scan
    still does all the pruning. ``cand_pairs`` is (query_id, id) — at
    most nq × refine_k rows, always broadcast — so the corpus side is a
    broadcast-hash SEMI-shaped fetch of k′ vectors per query, never a
    second full scan; at 100 TB the fetch rides the same cell-partitioned
    index files the ADC scan read. Exact cosine is JVM-side
    (``dot``/``l2_norm`` fixed-order sums), same determinism and output
    contract as :func:`ivf_knn`."""
    vecs = corpus.select(
        F.col(id_col), as_double_array(F.col(vec_col)).alias("__vec")
    ).select(id_col, "__vec", l2_norm(F.col("__vec")).alias("__n"))
    qv = queries.select(
        F.col(query_id_col),
        as_double_array(F.col(query_vec_col)).alias("__qvec"),
    ).select(
        query_id_col, "__qvec", l2_norm(F.col("__qvec")).alias("__qn")
    )
    exact = (
        vecs.join(F.broadcast(cand_pairs), id_col)
        .join(F.broadcast(qv), query_id_col)
        .select(
            query_id_col,
            id_col,
            F.round(
                dot(F.col("__qvec"), F.col("__vec"))
                / (F.col("__qn") * F.col("__n")),
                6,
            ).alias("sim6"),
        )
    )
    top = topk_per_group(
        exact, [query_id_col], [F.col("sim6").desc(), F.col(id_col).asc()], k=k
    )
    return top.select(
        query_id_col,
        id_col,
        F.round(F.col("sim6"), 4).alias("sim"),
        F.col("rn").cast("int").alias("rank"),
    )


def pq_knn(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    codes: DataFrame | None = None,
    refine_k: int | None = None,
) -> DataFrame:
    """X3 scale path #3 (PQ + ADC): approximate cosine top-k where the
    corpus is scanned as ``m``-byte PQ codes, never as vectors.

    Asymmetric Distance Computation, the textbook distributed spelling:
    each task builds per-query lookup tables ONCE (``q_sub · codeword``
    inner products and codeword norms — ``(nq, m, n_codes)`` floats from
    the broadcast query set + codebooks), then scores a code row with
    ``m`` table gathers + a sum; the reconstruction norm comes from a
    second gather table, exactly (the reconstruction is the
    concatenation of codewords, so ``|v̂|² = Σⱼ |c_j|²``). Per-partition
    partial top-k bounds what leaves each task at ``k`` rows per query
    (the same partial-then-final discipline as every top-k here), and
    the exact final rank runs over those candidates only. Deterministic:
    scores are fixed-order float sums, partial cuts sort by
    ``(-score, id)``.

    Approximate by nature (quantization error) — rows-only, no SQL
    oracle; recall@k is gated against :func:`brute_force_knn` in tests.
    Pass ``codes`` (from :func:`pq_encode`, persisted at scale) to skip
    re-encoding. With ``refine_k`` set (k′ ≥ k, typically 4–10×k), the
    ADC scan only GENERATES k′ candidates per query and a second exact
    pass re-ranks those k′ vectors (:func:`_exact_refine`) — recall
    approaches 1.0 at the cost of k′ vector fetches per query."""
    books = np.asarray(codebooks)
    m, n_codes, dsub = books.shape
    q_rows = queries.select(
        F.col(query_id_col),
        as_double_array(F.col(query_vec_col)).alias("__qv"),
    ).collect()  # bounded: same broadcast-queries contract as brute force
    qids = np.array([r[query_id_col] for r in q_rows])
    qmat = np.vstack([r["__qv"] for r in q_rows])  # (nq, dim)
    qnorm = np.maximum(np.linalg.norm(qmat, axis=1), 1e-12)
    # LUTs: ip_lut[i, j, c] = q_i[sub j] · codeword c ; n2_lut[j, c] = |c|²
    ip_lut = np.einsum(
        "qjd,jcd->qjc",
        qmat.reshape(len(qmat), m, dsub),
        books,
    )
    n2_lut = (books**2).sum(axis=2)

    if codes is None:
        codes = pq_encode(ops.spread(corpus, id_col), books, id_col, vec_col)
    # id types follow the INPUT schemas (string doc ids work, not just
    # bigints — same generality contract as bfs_hops' seed frame)
    out_schema = T.StructType(
        [
            T.StructField(
                query_id_col, queries.schema[query_id_col].dataType, True
            ),
            T.StructField(id_col, codes.schema[id_col].dataType, True),
            T.StructField("sim6", T.DoubleType(), True),
        ]
    )
    keep = refine_k if refine_k is not None else k

    def adc(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            code = np.vstack(pdf["pq_code"].to_numpy()).astype(np.int64)
            ids = pdf[id_col].to_numpy()
            n = len(ids)
            rows_j = np.arange(m)
            ip = ip_lut[:, rows_j, code].sum(axis=2)  # (nq, n)
            vnorm = np.sqrt(
                np.maximum(n2_lut[rows_j, code].sum(axis=1), 1e-24)
            )  # (n,)
            sims = ip / (qnorm[:, None] * vnorm[None, :])
            kk = min(keep + 1, n)  # +1 absorbs a potential self-match
            for qi in range(len(qids)):
                # round BEFORE the partial cut so partial and final
                # ranking use the identical (sim6, id) key — unrounded
                # partial keys could resolve round-6 ties differently
                # across partition layouts
                s6 = np.round(sims[qi], 6)
                order = np.lexsort((ids, -s6))[:kk]
                yield pd.DataFrame(
                    {
                        query_id_col: qids[qi],
                        id_col: ids[order],
                        "sim6": s6[order],
                    }
                )

    partial = codes.mapInPandas(adc, schema=out_schema)
    cand = partial.filter(F.col(id_col) != F.col(query_id_col))
    if refine_k is not None:
        cand_ids = topk_per_group(
            cand,
            [query_id_col],
            [F.col("sim6").desc(), F.col(id_col).asc()],
            k=max(refine_k, k),
        ).select(query_id_col, id_col)
        return _exact_refine(
            corpus, queries, cand_ids, k,
            id_col, vec_col, query_id_col, query_vec_col,
        )
    top = topk_per_group(
        cand, [query_id_col], [F.col("sim6").desc(), F.col(id_col).asc()], k=k
    )
    return top.select(
        query_id_col,
        id_col,
        F.round(F.col("sim6"), 4).alias("sim"),
        F.col("rn").cast("int").alias("rank"),
    )


def ivf_pq_knn(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    codebooks,
    centroids,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    refine_k: int | None = None,
    corpus_assign: int = 1,
) -> DataFrame:
    """X3 scale path #4: IVF × PQ — the FAISS-shaped index for extreme
    scale. The coarse quantizer (trained cells) prunes WHICH codes are
    scanned (each query reads ~nprobe/n_cells of the corpus); PQ prunes
    WHAT a scanned row costs (m byte-gathers against a per-task LUT
    instead of a dim-wide dot product on a decoded vector). Corpus rows
    carry (cell, pq_code) only — at 100 TB the index is cell-partitioned
    code files, and this function's cell filter becomes partition
    pruning exactly as in :func:`ivf_index_search`.

    Spelling: encode once (shuffle-free projection), semi-filter codes
    to the union of all probed cells (scan-side IN filter on the cell
    id), then the same partition-local ADC as :func:`pq_knn` with each
    query masked to its own probed cells. Deterministic for the same
    reasons as pq_knn; approximate on BOTH axes (probe coverage ×
    quantization error) — rows-only, recall-gated in tests. ``refine_k``
    adds the FAISS-style exact re-rank pass (:func:`_exact_refine`):
    the ADC scan generates k′ candidates, the refine pass scores ONLY
    those k′ vectors exactly, so the quantization-error axis drops out
    and recall converges to the IVF probe-coverage bound (measured
    identity in ``LSH_RECALL.json#pq_refine_recall``). ``corpus_assign``
    raises that bound itself via SPANN-style multi-assignment — see
    :func:`ivf_knn`."""
    books = np.asarray(codebooks)
    cents = np.asarray(centroids)

    def codes_builder(probed_union):
        enc = pq_encode(ops.spread(corpus, id_col), books, id_col, vec_col)
        cells = corpus.select(
            F.col(id_col),
            F.explode(
                ivf_cells_udf(cents, corpus_assign)(F.col(vec_col))
            ).alias("cell"),
        )
        return (
            enc.join(cells, id_col)
            # scan-side prune: only codes in somebody's probed cells
            # survive; on the persisted index this same filter is
            # partition pruning (ivf_pq_index_search)
            .filter(F.col("cell").isin(probed_union))
        )

    return _ivf_pq_rank(
        codes_builder, corpus, queries, k, books, cents, nprobe,
        refine_k, corpus_assign, id_col, vec_col, query_id_col,
        query_vec_col,
    )


def _ivf_pq_rank(
    codes_builder,
    refine_corpus: DataFrame | None,
    queries: DataFrame,
    k: int,
    books,
    cents,
    nprobe: int,
    refine_k: int | None,
    corpus_assign: int,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    query_vec_col: str,
) -> DataFrame:
    """Shared IVF×PQ ranking core: probe the coarse cells, ADC-scan the
    (id, pq_code, cell) frame ``codes_builder(probed_union)`` returns,
    and finish with either the plain top-k or the exact-refine pass
    against ``refine_corpus``. Both the inline :func:`ivf_pq_knn` and
    the persisted :func:`ivf_pq_index_search` delegate here, so the two
    paths cannot drift."""
    m, n_codes, dsub = books.shape
    q_rows = queries.select(
        F.col(query_id_col),
        as_double_array(F.col(query_vec_col)).alias("__qv"),
    ).collect()  # bounded broadcast-queries contract
    qids = np.array([r[query_id_col] for r in q_rows])
    qmat = np.vstack([r["__qv"] for r in q_rows])
    qnorm = np.maximum(np.linalg.norm(qmat, axis=1), 1e-12)
    ip_lut = np.einsum(
        "qjd,jcd->qjc", qmat.reshape(len(qmat), m, dsub), books
    )
    n2_lut = (books**2).sum(axis=2)
    # probed cells per query: top-nprobe by dot with the unit centroids
    scores = qmat @ cents.T
    probe = np.argsort(-scores, axis=1)[:, :nprobe]  # (nq, nprobe)
    probed_union = sorted({int(c) for row in probe for c in row})
    # raw qids as mask keys: numpy scalars hash like their python
    # counterparts, so string query ids work unchanged
    probe_mask = {qid: frozenset(int(c) for c in row)
                  for qid, row in zip(qids, probe)}

    codes = codes_builder(probed_union)
    out_schema = T.StructType(
        [
            T.StructField(
                query_id_col, queries.schema[query_id_col].dataType, True
            ),
            T.StructField(id_col, codes.schema[id_col].dataType, True),
            T.StructField("sim6", T.DoubleType(), True),
        ]
    )
    keep = refine_k if refine_k is not None else k

    def adc(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            code = np.vstack(pdf["pq_code"].to_numpy()).astype(np.int64)
            ids = pdf[id_col].to_numpy()
            cell = pdf["cell"].to_numpy()
            rows_j = np.arange(m)
            ip = ip_lut[:, rows_j, code].sum(axis=2)
            vnorm = np.sqrt(
                np.maximum(n2_lut[rows_j, code].sum(axis=1), 1e-24)
            )
            sims = ip / (qnorm[:, None] * vnorm[None, :])
            kk = min(keep + 1, len(ids))
            for qi, qid in enumerate(qids):
                mask = np.fromiter(
                    (c in probe_mask[qid] for c in cell),
                    dtype=bool,
                    count=len(cell),
                )
                if not mask.any():
                    continue
                # same round-before-cut discipline as pq_knn: the
                # partial key must equal the final (sim6, id) key
                s = np.where(mask, np.round(sims[qi], 6), -np.inf)
                order = np.lexsort((ids, -s))
                if corpus_assign > 1:
                    # multi-assignment lands an id's 2+ copies in the
                    # same batch (the cell join is id-partitioned);
                    # dedupe BEFORE the cut or duplicates waste top-k'
                    # slots and full-probe no longer matches plain PQ
                    _, first = np.unique(ids[order], return_index=True)
                    order = order[np.sort(first)]
                order = order[:kk]
                order = order[np.isfinite(s[order])]
                yield pd.DataFrame(
                    {
                        query_id_col: qid,
                        id_col: ids[order],
                        "sim6": np.round(s[order], 6),
                    }
                )

    partial = codes.mapInPandas(adc, schema=out_schema)
    cand = partial.filter(F.col(id_col) != F.col(query_id_col))
    if corpus_assign > 1:
        # multi-assignment surfaces a pair once per shared probed cell
        # with an IDENTICAL sim6 (same code row) — drop before ranking
        cand = cand.dropDuplicates([query_id_col, id_col])
    if refine_k is not None:
        if refine_corpus is None:
            raise ValueError(
                "refine_k needs a vectors source: pass refine_with= "
                "(the original table or a float/int8 index read)"
            )
        cand_ids = topk_per_group(
            cand,
            [query_id_col],
            [F.col("sim6").desc(), F.col(id_col).asc()],
            k=max(refine_k, k),
        ).select(query_id_col, id_col)
        return _exact_refine(
            refine_corpus, queries, cand_ids, k,
            id_col, vec_col, query_id_col, query_vec_col,
        )
    top = topk_per_group(
        cand, [query_id_col], [F.col("sim6").desc(), F.col(id_col).asc()], k=k
    )
    return top.select(
        query_id_col,
        id_col,
        F.round(F.col("sim6"), 4).alias("sim"),
        F.col("rn").cast("int").alias("rank"),
    )


def build_ivf_pq_index(
    corpus: DataFrame,
    path: str,
    centroids,
    codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    corpus_assign: int = 1,
    layout: str = "manifest",
) -> None:
    """Persist the IVF×PQ index `ivf_pq_knn`'s docstring promises at
    100 TB: cell-partitioned CODE files — each row is (id, pq_code),
    ``m`` bytes of payload instead of a ``dim``-wide vector, hive-
    partitioned by coarse cell so probing is partition pruning on a
    table ~64× smaller than the float index. Centroids, per-subspace
    codebooks, and the multi-assignment R persist beside the cells;
    everything is plain parquet. The exact-refine pass reads full
    vectors from whatever source the SEARCH is given (`refine_with` —
    the original table or a float index), keeping the code files pure.

    Layout: ``{path}/cells/cell=N/*.parquet`` (id, pq_code),
    ``{path}/centroids``, ``{path}/codebooks`` (subspace, code,
    weights), ``{path}/meta`` (corpus_assign)."""
    books = np.asarray(codebooks)
    cents = np.asarray(centroids)
    enc = pq_encode(ops.spread(corpus, id_col), books, id_col, vec_col)
    cells = corpus.select(
        F.col(id_col),
        F.explode(
            ivf_cells_udf(cents, corpus_assign)(F.col(vec_col))
        ).alias("cell"),
    )
    codes = enc.join(cells, id_col)
    if layout not in ("hive", "manifest"):
        raise ValueError(f"layout must be hive|manifest, got {layout!r}")
    if layout == "manifest":
        # same single-commit manifest shape as build_ivf_index
        import os
        import shutil

        from pyspark.sql import Observation

        from realtime_data_pipeline_spark import manifest_layout as _ml

        root = f"{path}/cells"
        if os.path.exists(root):
            shutil.rmtree(root)
        obs = Observation()
        gen = _ml.write_gen(
            codes.observe(
                obs, F.collect_set("cell").alias("cells")
            ).repartition("cell"),
            root,
            "cell",
        )
        _ml.publish(root, sorted(obs.get["cells"]), gen, mode="replace")
    else:
        (
            codes.repartition("cell")
            .write.mode("overwrite")
            .partitionBy("cell")
            .parquet(f"{path}/cells")
        )
    spark = corpus.sparkSession
    _write_local(
        spark,
        pd.DataFrame(
            {
                "cell": range(len(cents)),
                "weights": [[float(x) for x in row] for row in cents],
            }
        ),
        "cell int, weights array<double>",
        f"{path}/centroids",
    )
    _write_local(
        spark,
        pd.DataFrame(
            {
                "subspace": [
                    j
                    for j in range(books.shape[0])
                    for _ in range(books.shape[1])
                ],
                "code": [
                    c
                    for _ in range(books.shape[0])
                    for c in range(books.shape[1])
                ],
                "weights": [
                    [float(x) for x in books[j, c]]
                    for j in range(books.shape[0])
                    for c in range(books.shape[1])
                ],
            }
        ),
        "subspace int, code int, weights array<double>",
        f"{path}/codebooks",
    )
    _write_local(
        spark,
        pd.DataFrame({"corpus_assign": [int(corpus_assign)]}),
        "corpus_assign int",
        f"{path}/meta",
    )


def load_pq_codebooks(spark: SparkSession, path: str):
    """Read the per-subspace codebooks back as the (m, n_codes, dsub)
    ndarray the ADC path expects."""
    rows = (
        spark.read.parquet(f"{path}/codebooks")
        .orderBy("subspace", "code")
        .collect()
    )
    m = max(r["subspace"] for r in rows) + 1
    n_codes = max(r["code"] for r in rows) + 1
    dsub = len(rows[0]["weights"])
    books = np.zeros((m, n_codes, dsub))
    for r in rows:
        books[r["subspace"], r["code"]] = np.asarray(r["weights"])
    return books


def ivf_pq_index_search(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int,
    nprobe: int = 4,
    refine_k: int | None = None,
    refine_with: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Search a persisted IVF×PQ index (:func:`build_ivf_pq_index`).
    The probed-cell set pushes as an ``isin`` partition filter, so the
    scan statically prunes to the probed ``cell=N`` code directories —
    each holding m-byte codes, not vectors — then the SAME ranking core
    as the inline :func:`ivf_pq_knn` runs (delegation, results cannot
    drift). ``refine_k`` re-ranks the k′ ADC candidates exactly against
    ``refine_with`` (the original vectors table or a float index read);
    requires it, since the code files deliberately carry no vectors."""
    cents = load_ivf_centroids(spark, path)
    books = load_pq_codebooks(spark, path)
    try:
        corpus_assign = int(
            spark.read.parquet(f"{path}/meta").collect()[0]["corpus_assign"]
        )
    except Exception:  # noqa: BLE001 - pre-meta layout
        corpus_assign = 1

    def codes_builder(probed_union):
        return _ivf_read_cells(spark, path, probed_union)

    return _ivf_pq_rank(
        codes_builder, refine_with, queries, k, books, cents, nprobe,
        refine_k, corpus_assign, id_col, vec_col, query_id_col,
        query_vec_col,
    )
