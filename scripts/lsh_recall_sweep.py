"""LSH recall/precision sweep (round-5 verdict #4).

The two rows-only LSH operators (`neardup_pairs_minhash`,
`embeddings_neardup_lsh`) are recall-gated in pytest with planted
duplicates at ONE geometry. This sweep measures the recall curve across
geometries and thresholds against EXACT ground truth, so the shipped
defaults (MinHash k=64 / bands=16, hyperplane n_planes=32 / bands=8) are
justified by a table, not an argument. Output: LSH_RECALL.json at the
repo root (committed per round).

Ground truth construction — the synthetic corpus contains no natural
text near-dups (tests plant them), so this sweep plants mutated copies
of a 200-doc sample spanning exact Jaccard ~0.3..1.0 (token-replacement
stride varies per doc), then computes EXACT all-pairs Jaccard via an
inverted shingle index (no LSH involvement). For embeddings the natural
corpus has pair mass at sim>=0.35 already; planted noisy copies add the
high-sim (>=0.9) near-dup regime. Both plants are deterministic
(stride = f(doc_id); numpy seeded).

Because both pipelines exact-verify candidates, end-to-end precision is
1.0 by construction; the numbers that vary with geometry are CANDIDATE
recall (true pairs that collide in >=1 band — an escaped pair is lost
forever) and candidate volume (the pruning that makes LSH worth it).

Run: python scripts/lsh_recall_sweep.py [sf_dir]   (default sf0.1)
"""

from __future__ import annotations

import json
import os
import sys
import time

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO_ROOT)
os.environ["PYTHONPATH"] = _REPO_ROOT + os.pathsep + os.environ.get(
    "PYTHONPATH", ""
)

import numpy as np  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

PLANT_OFFSET = 1_000_000
N_PLANT = 200


def planted_docs(spark, sf_dir: str):
    """Corpus ∪ mutated copies of the first N_PLANT docs. Stride s
    replaces every s-th token, killing ~3/s of the 3-gram shingles:
    stride {6, 10, 20, 40, copy} → exact Jaccard ≈ {.33, .54, .74, .86,
    1.0} — pair mass on BOTH sides of every sweep threshold."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    strides = F.element_at(
        F.array(F.lit(6), F.lit(10), F.lit(20), F.lit(40), F.lit(0)),
        (F.col("doc_id") % 5 + 1).cast("int"),
    )
    toks = F.split(F.trim(F.col("text")), r"\s+")
    # greatest(strides, 1) keeps the modulo ANSI-safe for the
    # stride-0 (verbatim copy) rows — the outer strides>0 guard then
    # decides whether the replacement applies at all
    mutated = F.array_join(
        F.zip_with(
            toks,
            F.sequence(F.lit(0), F.size(toks) - 1),
            lambda t, i: F.when(
                (strides > 0)
                & (i % F.greatest(strides, F.lit(1)) == 0),
                F.concat(F.lit("zq"), t),
            ).otherwise(t),
        ),
        " ",
    )
    plants = docs.filter(F.col("doc_id") < N_PLANT).select(
        (F.col("doc_id") + PLANT_OFFSET).alias("doc_id"),
        mutated.alias("text"),
    )
    return docs.unionByName(plants)


def exact_jaccard_pairs(spark, corpus, min_j: float):
    """EXACT all-pairs Jaccard >= min_j via an inverted shingle-hash
    index: explode distinct 3-gram hashes, self-join on the hash
    (intersection counts), join per-doc set sizes. No LSH anywhere —
    this is the ground truth the sweep scores against. O(Σ_h df(h)²)
    pair work instead of n²."""
    from realtime_data_pipeline_spark import neardup, ops

    sh = (
        ops.spread(corpus, "doc_id")
        .select(
            "doc_id",
            F.array_distinct(
                neardup.gram_hashes(F.col("text"), 3)
            ).alias("sh"),
        )
        .filter(F.size("sh") > 0)
    )
    sizes = sh.select("doc_id", F.size("sh").alias("sz")).persist()
    inv = sh.select("doc_id", F.explode("sh").alias("h"))
    a = inv.select(F.col("doc_id").alias("id_a"), "h")
    b = inv.select(F.col("doc_id").alias("id_b"), "h")
    inter = (
        a.join(b, "h")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    out = (
        inter.join(sizes.select(F.col("doc_id").alias("id_a"),
                                F.col("sz").alias("sz_a")), "id_a")
        .join(sizes.select(F.col("doc_id").alias("id_b"),
                           F.col("sz").alias("sz_b")), "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("inter")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
            ).alias("j"),
        )
        .filter(F.col("j") >= min_j)
    )
    pairs = {(r.id_a, r.id_b): r.j for r in out.collect()}
    sizes.unpersist()
    return pairs


def minhash_candidates(corpus, k: int, n_bands: int) -> set:
    """The CANDIDATE stage of neardup_pairs_minhash (same code path:
    gram_hashes → signature UDF → _banded → band self-join), without the
    exact-verify filter — geometry recall is a property of this set."""
    from realtime_data_pipeline_spark import neardup, ops

    r = k // n_bands
    has_grams = F.size(F.split(F.trim(F.col("text")), r"\s+")) >= 3
    base = ops.spread(corpus.filter(has_grams), "doc_id").select(
        "doc_id", neardup.gram_hashes(F.col("text"), 3).alias("__sh")
    )
    sigs = base.select(
        "doc_id",
        neardup.minhash_signature_udf(k, 42)(F.col("__sh")).alias("__sig"),
    ).persist()
    sigs.count()
    bands = neardup._banded(sigs, n_bands, r, "doc_id")
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(b, ["band_id", "band_key"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
        )
        .distinct()
    )
    out = {(r_.id_a, r_.id_b) for r_ in cand.collect()}
    sigs.unpersist()
    return out


def planted_embeddings(spark, sf_dir: str):
    """Corpus ∪ noisy copies of the first N_PLANT vectors at target
    cosine ≈ {0.80, 0.90, 0.95, 0.99} (deterministic seeded noise,
    orthogonalized against the base vector so the cosine hits the
    target exactly in expectation)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    base = (
        emb.filter(F.col("vec_id") < N_PLANT)
        .orderBy("vec_id")
        .collect()
    )
    rng = np.random.default_rng(42)
    targets = [0.80, 0.90, 0.95, 0.99]
    rows = []
    for r_ in base:
        v = np.asarray(r_.embedding, dtype=np.float64)
        nv = v / np.linalg.norm(v)
        t = targets[r_.vec_id % len(targets)]
        g = rng.standard_normal(v.shape)
        g -= g.dot(nv) * nv  # orthogonal component only
        g /= np.linalg.norm(g)
        w = t * nv + np.sqrt(1 - t * t) * g  # cos(w, v) == t exactly
        rows.append(
            (int(r_.vec_id + PLANT_OFFSET), [float(x) for x in w])
        )
    plants = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    return emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    ).unionByName(plants)


def exact_cosine_pairs(corpus_np_ids, corpus_np, min_sim: float) -> dict:
    """Exact ground truth via one dense gram matrix — bounded corpus
    (≤ ~6k × 64 at sf0.1), driver-side numpy, no approximation."""
    x = corpus_np / np.linalg.norm(corpus_np, axis=1, keepdims=True)
    sims = x @ x.T
    iu = np.triu_indices(len(x), k=1)
    mask = sims[iu] >= min_sim
    ia, ib = iu[0][mask], iu[1][mask]
    return {
        (
            min(corpus_np_ids[a], corpus_np_ids[b]),
            max(corpus_np_ids[a], corpus_np_ids[b]),
        ): float(sims[a_, b_])
        for a, b, a_, b_ in zip(ia, ib, ia, ib)
    }


def hyperplane_candidates(corpus, n_planes: int, n_bands: int) -> set:
    from realtime_data_pipeline_spark import lsh

    planes = lsh.random_hyperplanes(n_planes=n_planes, dim=64, seed=42)
    left = corpus.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    cands = lsh.lsh_candidate_pairs(
        left, corpus, planes, n_bands=n_bands
    ).filter(F.col("query_id") < F.col("vec_id"))
    return {(r.query_id, r.vec_id) for r in cands.collect()}


def score(candidates: set, truth: dict) -> dict:
    if not truth:
        return {"recall": None, "true_pairs": 0, "candidates": len(candidates)}
    hit = sum(1 for p in truth if p in candidates)
    return {
        "recall": round(hit / len(truth), 4),
        "true_pairs": len(truth),
        "candidates": len(candidates),
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    from realtime_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name="lsh-recall-sweep")
    out: dict = {"sf_dir": sf_dir, "n_planted": N_PLANT}

    # ---- MinHash text near-dup ------------------------------------
    t0 = time.time()
    corpus = planted_docs(spark, sf_dir).persist()
    n_docs = corpus.count()
    truth_all = exact_jaccard_pairs(spark, corpus, min_j=0.3)
    print(
        f"# text ground truth: {len(truth_all)} pairs >= 0.3 over "
        f"{n_docs} docs ({time.time() - t0:.0f}s)",
        file=sys.stderr,
    )
    minhash = []
    total_pairs = n_docs * (n_docs - 1) // 2
    for k, n_bands in [(64, 8), (64, 16), (64, 32), (128, 16)]:
        cands = minhash_candidates(corpus, k, n_bands)
        row = {"k": k, "bands": n_bands, "r": k // n_bands,
               "pruning_vs_allpairs": round(total_pairs / max(1, len(cands)), 1)}
        for th in (0.5, 0.7, 0.8):
            truth = {p: j for p, j in truth_all.items() if j >= th}
            row[f"t{th}"] = score(cands, truth)
        minhash.append(row)
        print(f"# minhash {row}", file=sys.stderr)
    corpus.unpersist()
    out["minhash_text"] = minhash

    # ---- Hyperplane embedding near-dup ----------------------------
    emb = planted_embeddings(spark, sf_dir).persist()
    rows = emb.orderBy("vec_id").collect()
    ids = [r.vec_id for r in rows]
    mat = np.asarray([r.embedding for r in rows], dtype=np.float64)
    n_vec = len(ids)
    total_vpairs = n_vec * (n_vec - 1) // 2
    hyper = []
    for n_planes, n_bands in [(32, 8), (32, 16), (64, 8), (64, 16)]:
        cands = hyperplane_candidates(emb, n_planes, n_bands)
        row = {
            "n_planes": n_planes,
            "bands": n_bands,
            "r": n_planes // n_bands,
            "pruning_vs_allpairs": round(
                total_vpairs / max(1, len(cands)), 1
            ),
        }
        for th in (0.35, 0.9):
            truth = exact_cosine_pairs(ids, mat, th)
            row[f"t{th}"] = score(cands, truth)
        hyper.append(row)
        print(f"# hyperplane {row}", file=sys.stderr)
    emb.unpersist()
    out["hyperplane_embeddings"] = hyper

    path = os.path.join(_REPO_ROOT, "LSH_RECALL.json")
    # merge-preserving write: sibling sections other scripts own (e.g.
    # incremental_drift from lsh_incremental_drift.py) must survive a
    # sweep refresh
    doc = json.load(open(path)) if os.path.exists(path) else {}
    doc.update(out)
    with open(path, "w") as f:
        json.dump(doc, f, indent=1)
    print(json.dumps({"written": path}))
    spark.stop()


if __name__ == "__main__":
    main()
