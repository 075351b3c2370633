"""X2 quality gates: planted near-duplicates must be found by MinHash-LSH
and SimHash; unrelated random docs must not pass the exact-Jaccard verify."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from realtime_data_pipeline_spark import neardup


@pytest.fixture(scope="module")
def planted(spark, sf_dir):
    """20 fixture docs + a near-dup of each (one word substituted) with
    id = orig + 10_000, plus the originals' ids for assertions."""
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") < 20)
        .select("doc_id", "text")
    )
    rows = docs.collect()
    dup_rows = []
    for r in rows:
        words = r.text.split()
        words[len(words) // 2] = "zzzmutant"
        dup_rows.append((r.doc_id + 10_000, " ".join(words)))
    dups = spark.createDataFrame(dup_rows, "doc_id long, text string")
    return docs.unionByName(dups), {r.doc_id for r in rows}


def test_minhash_finds_planted_pairs(spark, planted):
    df, orig_ids = planted
    found = neardup.neardup_pairs_minhash(
        df, "doc_id", "text", n=3, k=64, n_bands=16, threshold=0.5
    ).collect()
    pairs = {(r.id_a, r.id_b) for r in found}
    expected = {(i, i + 10_000) for i in orig_ids}
    assert expected <= pairs, f"missing: {expected - pairs}"
    # LSH candidates that survive the exact verify must really be near-dups
    for r in found:
        assert r.jaccard >= 0.5
        # the MinHash estimate tracks the exact value
        assert abs(r.est_jaccard - r.jaccard) < 0.3


def test_exact_jaccard_identity_and_disjoint(spark):
    df = spark.createDataFrame(
        [("a b c d e f g h", "a b c d e f g h"), ("a b c d e", "v w x y z")],
        "ta string, tb string",
    )
    out = df.select(
        F.round(
            neardup.exact_jaccard(
                neardup.word_shingles(F.col("ta"), 3),
                neardup.word_shingles(F.col("tb"), 3),
            ),
            4,
        ).alias("j")
    ).collect()
    assert out[0].j == 1.0
    assert out[1].j == 0.0


def test_short_text_shingles_empty(spark):
    df = spark.createDataFrame([("one two",)], "t string")
    n = df.select(F.size(neardup.word_shingles(F.col("t"), 3)).alias("n")).first().n
    assert n == 0


def test_simhash_finds_planted_pairs(spark, planted):
    """Tests the CONTRACT: every pair within the pigeonhole guarantee
    (hamming <= n_bands-1) must be found, and every found pair must pass
    the exact hamming verify. Plus a non-vacuity check: the one-word
    mutants must actually land within the sweep's hamming radius."""
    df, orig_ids = planted
    n_bands, max_hamming = 8, 16
    fps = {
        r[0]: r[1]
        for r in neardup.simhash_fingerprints(df, "doc_id", "text", n=3).collect()
    }
    expected = {(i, i + 10_000) for i in orig_ids}
    ham = {
        p: bin((fps[p[0]] ^ fps[p[1]]) & (2**64 - 1)).count("1")
        for p in expected
    }
    guaranteed = {p for p, h in ham.items() if h <= n_bands - 1}
    in_radius = {p for p, h in ham.items() if h <= max_hamming}
    assert len(in_radius) >= len(expected) * 0.8, f"mutants too far: {ham}"

    found = neardup.neardup_pairs_simhash(
        df, "doc_id", "text", n=3, max_hamming=max_hamming, n_bands=n_bands
    ).collect()
    pairs = {(r.id_a, r.id_b) for r in found}
    assert guaranteed <= pairs, f"guaranteed pair missed: {guaranteed - pairs}"
    for r in found:
        assert r.hamming <= max_hamming


def test_drop_neardups_keeps_lowest_id(spark, planted):
    from realtime_data_pipeline_spark import dedup, neardup as nd

    df, orig_ids = planted
    pairs = nd.neardup_pairs_minhash(
        df, "doc_id", "text", n=3, k=64, n_bands=16, threshold=0.5
    )
    losers = {r.id_b for r in pairs.select("id_b").collect()}
    kept = dedup.drop_neardups(df, pairs, "doc_id")
    kept_ids = {r.doc_id for r in kept.select("doc_id").collect()}
    # every mutant pairs with its original -> all dropped
    assert not any(i + 10_000 in kept_ids for i in orig_ids)
    # originals survive unless they are the greater side of a genuine
    # fixture-internal near-dup pair (the corpus contains some)
    assert kept_ids == {i for i in orig_ids if i not in losers}


def test_winnow_fingerprints_shift_resistant(spark):
    from realtime_data_pipeline_spark import text as T

    base = "the quick brown fox jumps over the lazy dog again and again and again"
    edited = base.replace("lazy", "hazy")
    df = spark.createDataFrame([(base,), (edited,), (base,)], "t string")
    rows = df.select(T.winnow_fingerprints(F.col("t")).alias("fp")).collect()
    a, b, c = (set(r.fp) for r in rows)
    assert a == c  # identical text -> identical fingerprint set
    overlap = len(a & b) / len(a | b)
    # a one-character edit only perturbs windows overlapping it
    assert overlap > 0.5, f"winnowing not shift-resistant: {overlap}"
    assert len(a) > 5


def test_simhash_identical_docs_zero_hamming(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta"),
         (2, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    found = neardup.neardup_pairs_simhash(df, "doc_id", "text", max_hamming=0)
    rows = found.collect()
    assert len(rows) == 1 and rows[0].hamming == 0


def test_hashed_gram_jaccard_matches_string_jaccard(spark):
    """Jaccard over hashed gram sets must equal Jaccard over the gram
    strings (collisions are ~2^-32 per pair — none on real text)."""
    texts = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox leaps over the lazy dog",
        "an entirely different sentence about spark engines at scale",
    ]
    df = spark.createDataFrame(
        [(a, b) for a in texts for b in texts], "ta string, tb string"
    )
    both = df.select(
        neardup.exact_jaccard(
            F.array_distinct(neardup.word_shingles(F.col("ta"), 3)),
            F.array_distinct(neardup.word_shingles(F.col("tb"), 3)),
        ).alias("j_str"),
        neardup.exact_jaccard(
            neardup.gram_hashes(F.col("ta"), 3),
            neardup.gram_hashes(F.col("tb"), 3),
        ).alias("j_hash"),
    ).collect()
    for r in both:
        assert abs(r.j_str - r.j_hash) < 1e-12


@pytest.mark.slow
def test_connected_components_chain_and_islands(spark):
    """Multi-hop label propagation: a 4-node chain (diameter 3) collapses
    to its min id; disjoint islands keep separate labels."""
    from realtime_data_pipeline_spark import dedup

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)],
        "id_a long, id_b long",
    )
    out = {r.id: r.component for r in dedup.connected_components(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


@pytest.mark.slow
def test_connected_components_string_ids(spark):
    """Round-3 advisory regression: non-numeric ids made the old label-SUM
    convergence check compare NULL == NULL and stop after one round,
    silently returning part-propagated components. The changed-row check
    must propagate a 4-node string chain fully (diameter 3 > 1 round)."""
    from realtime_data_pipeline_spark import dedup

    pairs = spark.createDataFrame(
        [("d", "c"), ("c", "b"), ("b", "a"), ("x", "y")],
        "id_a string, id_b string",
    )
    out = {r.id: r.component for r in dedup.connected_components(pairs).collect()}
    assert out == {"a": "a", "b": "a", "c": "a", "d": "a", "x": "x", "y": "x"}


@pytest.mark.slow
def test_connected_components_deep_chain(spark):
    """Round-3 verdict: adversarial chain graphs. A 50-node path (diameter
    49) must converge within the DEFAULT max_iter=12 — only possible with
    the pointer-jump (O(log d) rounds); plain min-propagation would need
    49 rounds and raise. Also exercises the periodic localCheckpoint
    (rounds > checkpoint_every)."""
    from realtime_data_pipeline_spark import dedup

    n = 50
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    out = {
        r.id: r.component for r in dedup.connected_components(pairs).collect()
    }
    assert out == {i: 0 for i in range(n)}


def test_connected_components_returns_truncated_plan_and_no_cache_leak(
    spark,
):
    """Round-16 optimization regression gate: the returned label table
    must carry a TRUNCATED (checkpoint-leaf) plan, not the loop's
    exponential self-join lineage — at round 16 start the supplier
    entity face's formatted plan was 193 MB and planning, not task
    work, was ~170 s of its runtime. Also: the loop's persisted frames
    must be released (the leaked label cache degraded every LATER
    query's CacheManager lookup)."""
    import io
    from contextlib import redirect_stdout

    from realtime_data_pipeline_spark import dedup

    jcache = spark._jsparkSession.sharedState().cacheManager()
    cache_empty_before = jcache.isEmpty()
    # converges in < checkpoint_every rounds — exactly the case whose
    # lineage used to escape untruncated
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    out = dedup.connected_components(pairs)
    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain(mode="formatted")
    plan = buf.getvalue()
    assert "ExistingRDD" in plan  # checkpoint leaf, not the loop lineage
    assert len(plan) < 20_000, f"plan text ballooned: {len(plan)} bytes"
    if cache_empty_before:
        assert jcache.isEmpty(), "connected_components leaked a cache entry"


def test_connected_components_nonconvergence_raises(spark):
    """The loud-failure contract survives the rework: with the jump
    disabled by an impossibly small budget, part-propagated labels must
    raise, never return."""
    import pytest

    from realtime_data_pipeline_spark import dedup

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(pairs, max_iter=2)


def test_incremental_fingerprint_dedup_across_batches(spark, tmp_path):
    """Cross-batch dedup via the persisted fingerprint index: in-batch
    dups collapse, cross-batch dups are anti-joined away, replays add
    nothing — no corpus rescan anywhere."""
    from pyspark.sql import functions as F

    from realtime_data_pipeline_spark import dedup

    idx = str(tmp_path / "fp_index")
    b1 = spark.createDataFrame(
        [(1, "alpha text"), (2, "beta text"), (3, "alpha text")],
        "doc_id long, text string",
    )
    fresh1, m1 = dedup.incremental_fingerprint_dedup(
        b1, idx, "text", [F.col("doc_id").asc()]
    )
    assert m1 == {"batch_rows": 3, "fresh_rows": 2}
    assert {r.doc_id for r in fresh1.collect()} == {1, 2}  # lowest id wins

    b2 = spark.createDataFrame(
        [(4, "beta text"), (5, "gamma text"), (6, "gamma text")],
        "doc_id long, text string",
    )
    fresh2, m2 = dedup.incremental_fingerprint_dedup(
        b2, idx, "text", [F.col("doc_id").asc()]
    )
    assert m2 == {"batch_rows": 3, "fresh_rows": 1}
    assert {r.doc_id for r in fresh2.collect()} == {5}

    # replay of batch 2: nothing fresh, index unchanged
    fresh3, m3 = dedup.incremental_fingerprint_dedup(
        b2, idx, "text", [F.col("doc_id").asc()]
    )
    assert m3["fresh_rows"] == 0 and fresh3.count() == 0
    assert spark.read.parquet(idx).count() == 3


def test_neardup_batch_kernel_against_persisted_index(spark, tmp_path):
    """Fast gate for the persisted-index near-dup path that both the
    streaming ingest and the batch twin run: an in-batch near-dup drops
    (lowest id kept), a near-dup of the index drops, short and NULL-text
    docs pass through unindexed, a ``batch_id`` replay leaves silver
    unchanged, the twin's metrics add up to the batch size, and a warm
    micro-batch stays within its Spark job budget."""
    from realtime_data_pipeline_spark import streaming

    base_a = ("the quick brown fox jumps over the lazy dog while the eager "
              "spark engine shuffles partitions across the busy cluster")
    base_b = ("training data pipelines deduplicate documents with minhash "
              "signatures banded into buckets joined by equality at scale")
    novel = ("completely different content about astronomy telescopes "
             "observing distant quasars through adaptive optics tonight")
    mut = lambda s, w: s.replace(w, "zzzmutant")  # noqa: E731
    schema = "doc_id long, text string"
    idx, silver = str(tmp_path / "index"), str(tmp_path / "silver")

    def ingest(rows, batch_id):
        streaming.neardup_ingest_batch(
            spark.createDataFrame(rows, schema), batch_id, idx, silver,
            "doc_id", "text",
        )

    def silver_rows():
        return {(r.doc_id, r.batch_id)
                for r in spark.read.parquet(silver).collect()}

    def sig_ids():
        return {r.doc_id for r in spark.read.parquet(f"{idx}/sigs").collect()}

    # doc 3 is an in-batch near-dup of doc 1; 4 is too short; 5 is NULL
    ingest([(3, mut(base_a, "lazy")), (1, base_a), (2, base_b),
            (4, "hi"), (5, None)], 0)
    assert {d for d, _ in silver_rows()} == {1, 2, 4, 5}
    assert sig_ids() == {1, 2}

    # doc 6 is a near-dup of indexed doc 2; one warm micro-batch against
    # a non-empty index, counted under its own job group (the pre-kernel
    # batch ran 24-32 jobs: two signature passes, per-step actions)
    sc = spark.sparkContext
    batch1 = [(6, mut(base_b, "buckets")), (7, novel)]
    sc.setJobGroup("neardup-warm-batch", "neardup warm batch")
    try:
        ingest(batch1, 1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup("neardup-warm-batch")
    assert len(jobs) <= 5, f"{len(jobs)} Spark jobs for one micro-batch"
    got = silver_rows()
    assert {d for d, _ in got} == {1, 2, 4, 5, 7}
    assert sig_ids() == {1, 2, 7}

    # replay batch 1: its own index partition is excluded from the probe
    ingest(batch1, 1)
    assert silver_rows() == got
    assert sig_ids() == {1, 2, 7}

    # the batch twin: NULL text passes through fresh and counts as short
    twin = str(tmp_path / "twin")
    fresh, m = neardup.incremental_neardup_minhash(
        spark.createDataFrame(
            [(1, "alpha beta gamma delta epsilon"), (2, None), (3, "hi")],
            schema,
        ),
        twin, "doc_id", "text",
    )
    assert {r.doc_id for r in fresh.collect()} == {1, 2, 3}
    assert m == {"batch_rows": 3, "in_batch_dropped": 0, "corpus_dups": 0,
                 "fresh_rows": 3}
    fresh, m = neardup.incremental_neardup_minhash(
        spark.createDataFrame(
            [(10, "alpha beta gamma delta epsilon"), (11, base_a),
             (12, mut(base_a, "lazy")), (13, None)],
            schema,
        ),
        twin, "doc_id", "text",
    )
    assert {r.doc_id for r in fresh.collect()} == {11, 13}
    assert m == {"batch_rows": 4, "in_batch_dropped": 1, "corpus_dups": 1,
                 "fresh_rows": 2}
    assert {r.doc_id for r in spark.read.parquet(
        f"{twin}/sigs").collect()} == {1, 11}


@pytest.mark.slow
def test_incremental_neardup_minhash_across_batches(spark, tmp_path):
    """X2 daily shape: in-batch near-dups collapse, near-dups of the
    CORPUS (via the persisted signature index) are dropped, replays add
    nothing, and shingle-less docs pass through unindexed."""
    from realtime_data_pipeline_spark import neardup

    idx = str(tmp_path / "nd_index")
    base_a = ("the quick brown fox jumps over the lazy dog while the eager "
              "spark engine shuffles partitions across the busy cluster")
    base_b = ("training data pipelines deduplicate documents with minhash "
              "signatures banded into buckets joined by equality at scale")
    mut = lambda s, w: s.replace(w, "zzzmutant")

    b1 = spark.createDataFrame(
        [(1, base_a), (2, base_b), (3, mut(base_a, "lazy"))],
        "doc_id long, text string",
    )
    fresh1, m1 = neardup.incremental_neardup_minhash(
        b1, idx, "doc_id", "text"
    )
    assert m1["in_batch_dropped"] == 1 and m1["fresh_rows"] == 2
    assert {r.doc_id for r in fresh1.collect()} == {1, 2}

    b2 = spark.createDataFrame(
        [
            (4, mut(base_b, "buckets")),            # near-dup of corpus doc 2
            (5, "completely different content about astronomy telescopes "
                "observing distant quasars through adaptive optics tonight"),
            (6, "hi"),                               # too short to shingle
        ],
        "doc_id long, text string",
    )
    fresh2, m2 = neardup.incremental_neardup_minhash(
        b2, idx, "doc_id", "text"
    )
    assert m2["corpus_dups"] == 1
    assert {r.doc_id for r in fresh2.collect()} == {5, 6}

    # replay: doc 5 is now in the corpus -> dropped; short doc passes
    fresh3, m3 = neardup.incremental_neardup_minhash(
        b2, idx, "doc_id", "text"
    )
    assert m3["corpus_dups"] >= 1
    assert {r.doc_id for r in fresh3.collect()} == {6}
    # index holds exactly the three indexed docs (1, 2, 5); the short
    # doc is never indexed and the replay appended nothing
    assert spark.read.parquet(f"{idx}/sigs").count() == 3


@pytest.mark.slow
def test_prefix_jaccard_join_equals_brute_force(spark):
    """Prefix filtering must be COMPLETE (recall exactly 1.0): across
    random corpora with planted near-dup families and several
    thresholds, the candidate-pruned join returns byte-for-byte the
    pair set the quadratic cross join defines."""
    import random

    from realtime_data_pipeline_spark import neardup as nd

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(120)]
    docs = []
    base_id = 0
    for fam in range(12):
        base = [rng.choice(vocab) for _ in range(rng.randint(8, 30))]
        # family of 1-4 variants with small edits => high-jaccard pairs
        for _ in range(rng.randint(1, 4)):
            d = list(base)
            for _ in range(rng.randint(0, 3)):
                op = rng.random()
                if op < 0.4 and len(d) > 5:
                    d.pop(rng.randrange(len(d)))
                elif op < 0.8:
                    d.insert(rng.randrange(len(d) + 1), rng.choice(vocab))
                else:
                    d[rng.randrange(len(d))] = rng.choice(vocab)
            docs.append((base_id, " ".join(d)))
            base_id += 1
    df = spark.createDataFrame(docs, "doc_id long, text string")

    sh = df.select(
        "doc_id",
        F.array_distinct(
            F.transform(
                nd.word_shingles(F.col("text"), 3), lambda s: F.xxhash64(s)
            )
        ).alias("sh"),
    ).filter(F.size("sh") > 0)
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sa"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sb"))
    for tau in (0.3, 0.5, 0.8):
        brute = {
            (r.id_a, r.id_b, r.j)
            for r in a.crossJoin(b)
            .filter(F.col("id_a") < F.col("id_b"))
            .select(
                "id_a",
                "id_b",
                F.round(
                    nd.exact_jaccard(F.col("sa"), F.col("sb")), 6
                ).alias("j"),
            )
            .filter(F.col("j") >= tau)
            .collect()
        }
        got = {
            (r.id_a, r.id_b, round(r.jaccard, 6))
            for r in nd.prefix_jaccard_join(
                df, "doc_id", "text", tau=tau, n=3
            ).collect()
        }
        assert got == brute, (tau, len(got), len(brute))
        assert brute, tau  # the fixture must actually exercise the join


def test_prefix_jaccard_join_plan_has_no_cartesian(spark, sf_dir):
    from realtime_data_pipeline_spark import neardup as nd

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = nd.prefix_jaccard_join(docs, "doc_id", "text", tau=0.5)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
