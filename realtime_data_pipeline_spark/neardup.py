"""Near-duplicate text detection (X2): n-gram Jaccard, MinHash-LSH, SimHash.

Pipeline shape (the only one that survives 100 TB):

    shingle -> signature -> band -> equi-join buckets -> exact verify

All-pairs comparison is O(N²) and never materialized; candidate volume is
controlled by (bands × rows-per-band) and every join is an equi-join on a
short key that AQE can re-plan. The exact verify step re-checks candidates
with true Jaccard, so false positives from banding cost only compute, not
correctness.

Shingling and hashing are pure JVM column expressions (xxhash64 folded
to 32 bits). The MinHash permutations (universal hashing
`(a·h + b) mod p` — products stay < 2^63, no overflow) and SimHash
bit-folding are Arrow-batched numpy UDFs, because per-permutation or
per-bit expression trees would interpret k × n_shingles element hops per
row.

Incremental shape (a new batch against a persisted index, batch or
streaming): one kernel, :func:`minhash_batch` → :func:`neardup_losers` →
:func:`neardup_fresh` — signatures computed once, in-batch and index
candidates verified and resolved in one action, survivors' rows and
signatures handed to the caller to write. The index is a single
``sigs/`` tree of ``(id, sh, sig)``; band keys are a pure function of
``sig`` and are derived at probe time, never stored.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from realtime_data_pipeline_spark import ops

# Universal-hash modulus: smallest prime > 2^32.
_P = 4_294_967_311
_MASK32 = 0xFFFFFFFF


def word_shingles(text: Column, n: int = 3) -> Column:
    """Overlapping word n-grams; empty array when the text is shorter than
    n words (guard matters: Spark `sequence(1, 0)` would count DOWN)."""
    toks = F.split(F.trim(text), r"\s+")
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - n + 1),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    return F.when(F.size(toks) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def shingle_hashes(shingles: Column) -> Column:
    """xxhash64 per shingle, folded to 32 bits so downstream universal
    hashing can't overflow a long."""
    return F.transform(shingles, lambda s: F.xxhash64(s).bitwiseAND(F.lit(_MASK32)))


def gram_hashes(text: Column, n: int = 3) -> Column:
    """Distinct hashed word n-grams as 32-bit-folded longs — the working
    set the near-dup pipelines carry instead of gram STRINGS: set-Jaccard
    over the hashes equals string-set Jaccard up to ~n_grams²/2³²
    collisions per doc pair (negligible), and the long arrays are far
    cheaper to shuffle through the candidate/verify joins.

    (An arithmetic token-hash combine was measured SLOWER here: a shared
    token-hash subexpression gets re-inlined into every element_at, going
    O(grams × tokens). One hash per gram string wins.)"""
    return F.array_distinct(shingle_hashes(word_shingles(text, n)))


def _hash_params(k: int, seed: int) -> list[tuple[int, int]]:
    rs = np.random.RandomState(seed)
    return [
        (int(rs.randint(1, 1 << 31)), int(rs.randint(0, 1 << 31)))
        for _ in range(k)
    ]


def minhash_signature_udf(k: int = 64, seed: int = 42):
    """k-permutation MinHash over an array<long> of (32-bit-folded) shingle
    hashes → array<long> signature. Arrow-batched numpy: one (n_shingles, k)
    broadcasted multiply-mod-min per row, ~10× faster than a k-deep
    higher-order-function expression tree that the JVM interprets
    element-at-a-time. Products stay < 2^63 (h < 2^32, a < 2^31).
    Empty-shingle rows get the sentinel signature [_P]*k as a guard; the
    pipeline filters them out BEFORE banding (identical sentinels would
    otherwise share every band key — an m² hot bucket).
    Closure is self-contained (library imports + captured ndarrays only) so
    any Python worker can unpickle it."""
    params = np.array(_hash_params(k, seed), dtype=np.int64)
    a_row = params[:, 0][None, :]
    b_row = params[:, 1][None, :]
    p = _P

    @pandas_udf("array<long>")
    def _mh(hash_arrays: pd.Series) -> pd.Series:
        sentinel = np.full(a_row.shape[1], p, dtype=np.int64)
        out = []
        for arr in hash_arrays:
            if arr is None or len(arr) == 0:
                out.append(sentinel)
                continue
            h = np.asarray(arr, dtype=np.int64)[:, None]  # (n, 1)
            out.append(((h * a_row + b_row) % p).min(axis=0))
        return pd.Series(out)

    return _mh


def minhash_est_jaccard(sig_a: Column, sig_b: Column, k: int) -> Column:
    """Fraction of agreeing signature positions — unbiased Jaccard estimate."""
    agree = F.size(F.filter(F.zip_with(sig_a, sig_b, lambda x, y: x == y),
                            lambda v: v))
    return agree / F.lit(float(k))


def exact_jaccard(shingles_a: Column, shingles_b: Column) -> Column:
    """Exact distinct-set Jaccard (array_intersect/array_union are
    set-semantics builtins). 0.0 when both sides are empty."""
    inter = F.size(F.array_intersect(shingles_a, shingles_b))
    union = F.size(F.array_union(shingles_a, shingles_b))
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def prefix_jaccard_join(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    tau: float = 0.5,
    n: int = 3,
) -> DataFrame:
    """EXACT all-pairs set-similarity join above a Jaccard threshold via
    PREFIX FILTERING (Chaudhuri et al. ICDE'06 / Bayardo et al. WWW'07
    — the ssjoin answer when MinHash-LSH's recall < 1 is not
    acceptable: legal dedup, benchmark decontamination audits, exact
    plagiarism sweeps). Returns every pair ``(id_a, id_b, jaccard)``
    with ``id_a < id_b`` and distinct-``n``-shingle Jaccard ≥ ``tau`` —
    the same pair set the quadratic cross join produces, at candidate
    cost instead of corpus².

    Why it is complete (recall exactly 1.0): order every shingle by a
    GLOBAL total order (rarity first: ascending document frequency,
    hash tiebreak) and give each document's sorted shingle set a prefix
    of its first ``|d| − ⌈tau·|d|⌉ + 1`` elements. If two docs have
    J ≥ tau their overlap is ≥ tau·max(|a|,|b|), and the classic
    argument shows their PREFIXES must share at least one element —
    so emitting candidates only for prefix-shared shingles misses
    nothing, while the rarity-first order makes the shared element as
    selective as possible (candidate volume rides the rarest shingles'
    document frequencies, not the vocabulary's hot head).

    Scale shape: shingles travel as xxhash64 longs (documented benign
    collision bound vs string semantics); the df table is one groupBy
    over 8-byte keys; per-doc sorting is a per-row ``array_sort`` over
    (df, hash) structs — no rank window, no global sort; candidates are
    one self-equi-join on the prefix-shingle key with the triangle cut
    in the join condition; each candidate pair verifies with the exact
    array-intersection Jaccard. No cross product anywhere (plan-gated
    in tests)."""
    if not 0.0 < tau <= 1.0:
        raise ValueError(f"tau must be in (0, 1], got {tau}")
    els = docs.select(
        F.col(id_col),
        F.array_distinct(
            F.transform(
                word_shingles(F.col(text_col), n), lambda s: F.xxhash64(s)
            )
        ).alias("__els"),
    ).filter(F.size("__els") > 0)
    flat = els.select(id_col, F.explode("__els").alias("__e"))
    df_tbl = flat.groupBy("__e").agg(F.count(F.lit(1)).alias("__df"))
    # per-doc global-order sort: array_sort over (df, hash) structs —
    # struct comparison is field-lexicographic, so rarest-first with a
    # deterministic hash tiebreak, computed per row (never a window)
    ranked = (
        flat.join(df_tbl, "__e")
        .groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("__df"), F.col("__e")))
            ).alias("__sorted")
        )
    )
    sz = F.size("__sorted")
    prefix_len = (sz - F.ceil(sz * F.lit(float(tau))) + 1).cast("int")
    prefix = ranked.select(
        F.col(id_col),
        F.transform(
            F.slice("__sorted", 1, prefix_len), lambda s: s["__e"]
        ).alias("__prefix"),
    ).select(id_col, F.explode("__prefix").alias("__e"))
    cand = (
        prefix.select(F.col(id_col).alias("__id_a"), "__e")
        .join(
            prefix.select(F.col(id_col).alias("__id_b"), "__e"),
            "__e",
        )
        .filter(F.col("__id_a") < F.col("__id_b"))
        .select("__id_a", "__id_b")
        .distinct()
    )
    ea = els.select(F.col(id_col).alias("__id_a"), F.col("__els").alias("__ea"))
    eb = els.select(F.col(id_col).alias("__id_b"), F.col("__els").alias("__eb"))
    return (
        cand.join(ea, "__id_a")
        .join(eb, "__id_b")
        .select(
            F.col("__id_a").alias("id_a"),
            F.col("__id_b").alias("id_b"),
            F.round(exact_jaccard(F.col("__ea"), F.col("__eb")), 6).alias(
                "jaccard"
            ),
        )
        .filter(F.col("jaccard") >= tau)
    )


# the columns a near-dup probe reads from a stored ``sigs/`` tree: the
# explicit schema skips parquet footer inference (a Spark job per probe)
INDEX_SIGS_SCHEMA = "sh array<long>, sig array<long>"


def _banded(sig_df: DataFrame, n_bands: int, r: int, *carry: str) -> DataFrame:
    """One row per (doc, band): ``band_key`` joins the band's ``r``
    slots of ``__sig``; the ``carry`` columns ride along. One
    higher-order expression over the band ids, not ``n_bands`` struct
    literals: the plan is built in a few driver round trips instead of
    a hundred (0.04 s vs 0.15-0.2 s per call on a 4-vCPU host)."""

    def band(b: Column) -> Column:
        key = F.concat_ws("-", F.slice(F.col("__sig"), b * r + 1, F.lit(r)))
        return F.struct(b.alias("band_id"), key.alias("band_key"))

    return sig_df.select(
        *carry,
        F.explode(
            F.transform(F.sequence(F.lit(0), F.lit(n_bands - 1)), band)
        ).alias("__band"),
    ).select(*carry, "__band.band_id", "__band.band_key")


def neardup_pairs_minhash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    k: int = 64,
    n_bands: int = 16,
    threshold: float = 0.5,
    seed: int = 42,
) -> DataFrame:
    """MinHash-LSH near-dup pairs with exact-Jaccard verification.

    Returns (id_a, id_b, est_jaccard, jaccard) for candidate pairs whose
    EXACT n-gram Jaccard ≥ threshold, id_a < id_b. Band geometry: collision
    probability for true Jaccard j is 1-(1-j^r)^b with r = k/n_bands.
    """
    r = k // n_bands
    # Docs too short to shingle can never reach the Jaccard threshold
    # (union > 0, intersect = 0) — drop them BEFORE banding, where their
    # shared sentinel signature would otherwise put all of them into the
    # same bucket in every band (an m² hot key for m empty docs).
    # The predicate is the cheap token-count PRECONDITION (≥ n tokens ⟺ at
    # least one gram), NOT size(gram_hashes(..)) > 0: Catalyst pushes
    # filters below the spread() exchange into the scan stage, and a
    # filter spelled over the gram expression would re-evaluate the whole
    # shingle+hash tree there — single-threaded when the input is one
    # parquet split, and a second time above the exchange for the
    # projection (measured 5× the hashing cost at sf0.1).
    has_grams = F.size(F.split(F.trim(F.col(text_col)), r"\s+")) >= n
    # __sh holds hashed grams (longs), not gram strings: the verify joins
    # below shuffle this column twice, and exact Jaccard over the hashed
    # sets equals string-set Jaccard up to negligible 32-bit collisions
    base = ops.spread(df.filter(has_grams), id_col).select(
        F.col(id_col),
        gram_hashes(F.col(text_col), n).alias("__sh"),
    )
    sigs = base.select(
        id_col,
        "__sh",
        minhash_signature_udf(k, seed)(F.col("__sh")).alias("__sig"),
    )
    # the signature table feeds banding AND both verify sides — persist and
    # materialize eagerly so shingling+hashing runs exactly once (a lazy
    # persist lets the join's build and probe sides race to compute it
    # concurrently). At scale this is the signature table you would
    # checkpoint to storage.
    sigs = sigs.persist()
    sigs.count()
    bands = _banded(sigs, n_bands, r, id_col)
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(b, ["band_id", "band_key"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )
    sa = sigs.select(
        F.col(id_col).alias("id_a"),
        F.col("__sh").alias("__sh_a"),
        F.col("__sig").alias("__sig_a"),
    )
    sb = sigs.select(
        F.col(id_col).alias("id_b"),
        F.col("__sh").alias("__sh_b"),
        F.col("__sig").alias("__sig_b"),
    )
    verified = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                minhash_est_jaccard(F.col("__sig_a"), F.col("__sig_b"), k), 4
            ).alias("est_jaccard"),
            F.round(exact_jaccard(F.col("__sh_a"), F.col("__sh_b")), 4).alias(
                "jaccard"
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    # materialize the (candidate-bounded, small) verified pairs, then
    # release the corpus-sized signature cache — callers hold only the
    # result, not the working set
    verified = verified.persist()
    verified.count()
    sigs.unpersist()
    return verified


def minhash_batch(
    batch_df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    k: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Phase 1 of the near-dup batch kernel: the batch's rows with their
    hashed grams ``__sh`` and MinHash signature ``__sig`` attached,
    computed ONCE and materialized (local checkpoint), so the band
    probes, the verify joins and both sink writes all read this one
    table. Docs too short to shingle carry NULL in both columns — and so
    does NULL text: ``size(split(NULL))`` is NULL, hence the coalesce.
    Such docs can never match anything; they pass through fresh and are
    never indexed.

    The batch keeps its input partitioning (no :func:`ops.spread`): each
    sink write emits one file per input split. Spreading a one-file
    200-doc micro-batch over 4 cores quadrupled the index and silver
    files per batch for a UDF pass of tens of milliseconds; a large
    batch arrives in ``maxPartitionBytes`` splits anyway."""
    has_grams = F.coalesce(
        F.size(F.split(F.trim(F.col(text_col)), r"\s+")) >= n, F.lit(False)
    )
    staged = batch_df.withColumn(
        "__sh", F.when(has_grams, gram_hashes(F.col(text_col), n))
    )
    return staged.withColumn(
        "__sig",
        F.when(
            F.col("__sh").isNotNull(),
            minhash_signature_udf(k, seed)(F.col("__sh")),
        ),
    ).localCheckpoint(eager=True)


def neardup_losers(
    sigd: DataFrame,
    index_sigs: DataFrame | None,
    id_col: str,
    k: int = 64,
    n_bands: int = 16,
    threshold: float = 0.5,
) -> tuple[set, set]:
    """Phase 2 of the near-dup batch kernel: the ids of ``sigd``
    (:func:`minhash_batch`) to drop, resolved in ONE action as
    ``(in_batch, index_dups)``.

    The batch's band rows (carrying their gram hashes) are broadcast
    once and joined twice, so the exchange is shared:

    - against themselves — in-batch candidate pairs ``a < b``, verified
      by ``round(jaccard, 4) >= threshold``; the greater id of each
      verified pair is an in-batch loser (lowest id kept, the
      :func:`dedup.drop_neardups` rule);
    - against bands derived at probe time from the stored signatures
      ``index_sigs`` (``sh, sig``) — the corpus side streams
      map-side with zero exchange; candidates verified by unrounded
      ``jaccard >= threshold``. Every eligible doc is probed: a doc that
      is both an in-batch loser and an index dup is dropped either way.

    Band hits are not deduplicated before verify (that would cost a
    shuffle); a pair matching in several bands is verified once per band
    and the driver-side sets absorb the repeats. The loser ids come back
    to the driver: a subset of the batch, which is broadcast whole
    anyway (batch ≪ corpus is the premise of the incremental shape)."""
    r = k // n_bands
    # both joins must see the SAME broadcast plan for the exchange to be
    # reused: spell out the id filter the in-batch `<` would infer. A
    # NULL id never equi-joins, so it never loses (the anti-join rule)
    eligible = F.col("__sig").isNotNull() & F.col(id_col).isNotNull()
    bands = _banded(sigd.filter(eligible), n_bands, r, id_col, "__sh")
    new = F.broadcast(
        bands.select(
            F.col(id_col).alias("__new"),
            F.col("__sh").alias("__sh_new"),
            "band_id",
            "band_key",
        )
    )
    keys = ["band_id", "band_key"]
    jac = exact_jaccard(F.col("__sh"), F.col("__sh_new"))
    found = (
        bands.join(new, keys)
        .filter(
            (F.col(id_col) < F.col("__new")) & (F.round(jac, 4) >= threshold)
        )
        .select(F.lit(0).alias("__kind"), "__new")
    )
    if index_sigs is not None:
        old = index_sigs.select(
            F.col("sh").alias("__sh"), F.col("sig").alias("__sig")
        )
        found = found.unionByName(
            _banded(old, n_bands, r, "__sh")
            .join(new, keys)
            .filter(jac >= threshold)
            .select(F.lit(1).alias("__kind"), "__new")
        )
    out: tuple[set, set] = (set(), set())
    for kind, doc in found.collect():
        out[kind].add(doc)
    return out


def neardup_fresh(
    sigd: DataFrame, losers: set, id_col: str
) -> tuple[DataFrame, DataFrame]:
    """Phase 3 of the near-dup batch kernel: ``(fresh_docs, fresh_sigs)``
    — the batch rows that survive, with the input's columns, and the
    ``(id, sh, sig)`` index rows of the survivors that have a signature.
    Both read the materialized ``sigd``; the loser set is a literal, so
    neither can observe a write of its own result."""
    keep = sigd
    if losers:
        keep = sigd.filter(
            ~F.coalesce(F.col(id_col).isin(list(losers)), F.lit(False))
        )
    sigs = keep.filter(
        F.col("__sig").isNotNull() & F.col(id_col).isNotNull()
    ).select(id_col, F.col("__sh").alias("sh"), F.col("__sig").alias("sig"))
    return keep.drop("__sh", "__sig"), sigs


def incremental_neardup_minhash(
    new_docs: DataFrame,
    index_path: str,
    id_col: str,
    text_col: str,
    n: int = 3,
    k: int = 64,
    n_bands: int = 16,
    threshold: float = 0.5,
    seed: int = 42,
) -> tuple[DataFrame, dict]:
    """X2 daily shape: near-dedup a NEW batch against a persisted
    signature index instead of re-running LSH over the corpus. A 100 TB
    corpus is deduped once; every incoming batch then costs (one batch
    signature pass + one corpus STREAMING pass) — never a corpus
    self-join. For corpus-sized "batches" run the full
    :func:`neardup_pairs_minhash` instead.

    Index layout: one ``{index}/sigs`` tree of ``(id, sh, sig)`` rows;
    band keys are a pure function of ``sig`` and are derived at probe
    time (:func:`neardup_losers`), never stored. The batch runs the same
    kernel as the streaming ingest (:func:`minhash_batch` →
    :func:`neardup_losers` → :func:`neardup_fresh`): in-batch near-dups
    collapse to the lowest id, batch docs matching the corpus are
    dropped, and the survivors' signatures are appended to the index.
    Replaying a batch finds every doc already in the index (Jaccard 1.0
    with itself) and appends nothing. Docs too short to shingle, and
    NULL text, pass through as fresh, not indexed, counted as short.

    Returns ``(fresh_docs, metrics)``; the metrics add up to
    ``batch_rows``.
    """
    import os

    sigd = minhash_batch(new_docs, id_col, text_col, n=n, k=k, seed=seed)
    counts = sigd.agg(
        F.count(F.lit(1)).alias("rows"),
        F.count("__sig").alias("elig"),
    ).first()
    n_rows, n_eligible = int(counts["rows"]), int(counts["elig"])
    sig_dir = f"{index_path}/sigs"
    idx = (
        new_docs.sparkSession.read.schema(INDEX_SIGS_SCHEMA).parquet(sig_dir)
        if os.path.exists(sig_dir)
        else None
    )
    in_batch, index_dups = neardup_losers(
        sigd, idx, id_col, k=k, n_bands=n_bands, threshold=threshold
    )
    losers = in_batch | index_dups
    fresh, fresh_sigs = neardup_fresh(sigd, losers, id_col)
    if n_eligible > len(losers):
        fresh_sigs.write.mode("append").parquet(sig_dir)
    return fresh, {
        "batch_rows": n_rows,
        "in_batch_dropped": len(in_batch),
        "corpus_dups": len(index_dups - in_batch),
        "fresh_rows": n_rows - len(losers),
    }


def simhash_udf():
    """array<long> shingle hashes -> 64-bit SimHash (bigint). One numpy
    pass per Arrow batch: per-bit ±1 votes summed over shingles, sign
    packed back into an int64."""
    weights = 1 << np.arange(64, dtype=np.uint64)

    @pandas_udf("bigint")
    def _simhash(hash_arrays: pd.Series) -> pd.Series:
        out = np.empty(len(hash_arrays), dtype=np.int64)
        for i, arr in enumerate(hash_arrays):
            if arr is None or len(arr) == 0:
                out[i] = 0
                continue
            # int64 -> uint64 via astype: two's-complement wrap keeps all
            # 64 bits of full-width xxhash64 values (asarray(uint64)
            # rejects negatives)
            h = np.asarray(arr, dtype=np.int64).astype(np.uint64)
            bits = ((h[:, None] >> np.arange(64, dtype=np.uint64)) & 1).astype(
                np.int32
            )
            votes = (2 * bits - 1).sum(axis=0)
            out[i] = (weights[votes >= 0]).sum().astype(np.uint64).view(np.int64)
        return pd.Series(out)

    return _simhash


def neardup_pairs_simhash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    max_hamming: int = 3,
    n_bands: int = 4,
) -> DataFrame:
    """SimHash near-dup pairs: 64-bit fingerprints, ``n_bands`` equal bit
    slices joined as band keys, exact hamming verify via bit_count(xor).

    Pigeonhole guarantee: any pair with hamming ≤ ``n_bands - 1`` must
    agree on ≥1 band and is found; pairs between that and ``max_hamming``
    are found probabilistically. The default 4×16 geometry is the standard
    web-dedup setting (hamming ≤ 3 over 64 bits); widening ``n_bands``
    trades candidate volume (coarser 64/n_bands-bit keys → bigger buckets)
    for a wider guarantee.

    Only the 8-byte fingerprint and short band keys ever shuffle — the
    shingle hash set stays in its map task.
    """
    fp = simhash_fingerprints(df, id_col, text_col, n)
    width = 64 // n_bands
    mask = (1 << width) - 1
    bands = fp.select(
        id_col,
        "__fp",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.shiftrightunsigned(F.col("__fp"), width * b)
                        .bitwiseAND(F.lit(mask))
                        .alias("band_key"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("__band"),
    ).select(id_col, "__fp", "__band.band_id", "__band.band_key")
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(b, ["band_id", "band_key"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.bit_count(
                F.col("a.__fp").bitwiseXOR(F.col("b.__fp"))
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_fingerprints(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """(id, __fp) 64-bit SimHash fingerprints. FULL-WIDTH xxhash64 gram
    hashes — the 32-bit fold that protects MinHash's universal hashing
    from overflow would zero SimHash bits 32-63, making the high bands
    constant (one global bucket = the all-pairs product). Short docs are
    dropped for the same hot-bucket reason as in the MinHash path (their
    shared fp 0 would collide in every band)."""
    # token-count precondition instead of size(__h) > 0 — same pushdown
    # rationale as in neardup_pairs_minhash (a filter over the shingle
    # expression would be pushed into the scan stage and re-evaluated)
    has_grams = F.size(F.split(F.trim(F.col(text_col)), r"\s+")) >= n
    sh = ops.spread(df.filter(has_grams), id_col).select(
        F.col(id_col),
        F.array_distinct(
            F.transform(
                word_shingles(F.col(text_col), n), lambda s: F.xxhash64(s)
            )
        ).alias("__h"),
    )
    return sh.select(id_col, simhash_udf()(F.col("__h")).alias("__fp"))
