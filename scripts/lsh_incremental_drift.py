"""Incremental-index LSH recall drift (round-6 verdict #5).

LSH_RECALL.json sweeps the ONE-SHOT MinHash path; the daily-ingest path
(`neardup.incremental_neardup_minhash`) instead accumulates its
signature index across batches. This study measures whether that
accumulation loses recall: the planted-dup corpus is split into N=10
deterministic pseudo-daily batches (hash of doc_id, so each dup pair's
two members land in arbitrary — often different — batches), the batches
are ingested in order against one growing index, and pair detection is
scored after EVERY batch against exact-Jaccard ground truth, next to a
full one-shot recompute over the same union.

Detection semantics are the operator's own: a true pair (J >= threshold)
counts as detected iff at most one of its members survives in the union
of the batches' "fresh" outputs — dedup's job is that the corpus keeps
one of the two, regardless of which member arrived first (source-first:
the plant is dropped on arrival; plant-first: the plant enters the index
and the source is dropped later).

Output: merges an "incremental_drift" object into LSH_RECALL.json —
recall-vs-batches table (cumulative, over pairs fully arrived by each
batch), final per-Jaccard-regime recall for incremental vs full
recompute, and index growth per batch.

Run: python scripts/lsh_incremental_drift.py [sf_dir]   (default sf0.1)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO_ROOT)
os.environ["PYTHONPATH"] = _REPO_ROOT + os.pathsep + os.environ.get(
    "PYTHONPATH", ""
)

from pyspark.sql import functions as F  # noqa: E402

from lsh_recall_sweep import PLANT_OFFSET, N_PLANT, planted_docs  # noqa: E402

N_BATCHES = 10
THRESHOLD = 0.5
SEED = 7


def true_pairs(spark, corpus):
    """Exact Jaccard of each (source, plant) pair — 200 targeted pairs,
    no all-pairs work. Pairs where either side cannot shingle are out of
    scope (the operator documents short docs as undedupable)."""
    from realtime_data_pipeline_spark import neardup

    sh = corpus.filter(
        (F.col("doc_id") < N_PLANT) | (F.col("doc_id") >= PLANT_OFFSET)
    ).select(
        "doc_id",
        F.array_distinct(neardup.gram_hashes(F.col("text"), 3)).alias("sh"),
    ).filter(F.size("sh") > 0)
    src = sh.filter(F.col("doc_id") < N_PLANT).select(
        F.col("doc_id").alias("src"), F.col("sh").alias("sh_a")
    )
    pl = sh.filter(F.col("doc_id") >= PLANT_OFFSET).select(
        (F.col("doc_id") - PLANT_OFFSET).alias("src"),
        F.col("doc_id").alias("plant"),
        F.col("sh").alias("sh_b"),
    )
    out = src.join(pl, "src").select(
        "src",
        "plant",
        (
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b"))
        ).alias("j"),
    )
    return {
        (r.src, r.plant): r.j
        for r in out.collect()
        if r.j is not None and r.j >= THRESHOLD
    }


def main() -> None:
    from realtime_data_pipeline_spark import dedup, neardup
    from realtime_data_pipeline_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark(app_name="lsh-incremental-drift")
    corpus = planted_docs(spark, sf_dir).withColumn(
        "__batch",
        F.pmod(F.xxhash64("doc_id", F.lit(SEED)), F.lit(N_BATCHES)).cast(
            "int"
        ),
    ).persist()
    corpus.count()

    pairs = true_pairs(spark, corpus)
    batch_of = {
        r[0]: r[1]
        for r in corpus.select("doc_id", "__batch")
        .filter(
            (F.col("doc_id") < N_PLANT) | (F.col("doc_id") >= PLANT_OFFSET)
        )
        .collect()
    }
    # regime label = the stride band the plant was mutated with
    def regime(src: int) -> str:
        return {1: "j~0.54", 2: "j~0.74", 3: "j~0.86", 4: "j=1.0"}.get(
            src % 5, "j~0.33"
        )

    td = tempfile.mkdtemp(prefix="lsh_drift_")
    idx = os.path.join(td, "nd_index")
    survivors: set[int] = set()
    per_batch = []
    t_incr = 0.0
    try:
        for b in range(N_BATCHES):
            batch = corpus.filter(F.col("__batch") == b).select(
                "doc_id", "text"
            )
            t0 = time.perf_counter()
            fresh, metrics = neardup.incremental_neardup_minhash(
                batch, idx, "doc_id", "text", threshold=THRESHOLD
            )
            fresh_ids = {r.doc_id for r in fresh.select("doc_id").collect()}
            t_incr += time.perf_counter() - t0
            survivors |= fresh_ids
            arrived = [
                (s, p)
                for (s, p) in pairs
                if batch_of[s] <= b and batch_of[p] <= b
            ]
            detected = [
                (s, p)
                for (s, p) in arrived
                if not ({s, p} <= survivors)
            ]
            per_batch.append(
                {
                    "batch": b,
                    "batch_docs": int(metrics.get("batch_rows", len(fresh_ids))),
                    "indexed_total": int(
                        spark.read.parquet(f"{idx}/sigs").count()
                    ),
                    "pairs_arrived": len(arrived),
                    "pairs_detected": len(detected),
                    "recall_cum": round(
                        len(detected) / len(arrived), 4
                    )
                    if arrived
                    else None,
                }
            )
            print(f"# batch {b}: {per_batch[-1]}", file=sys.stderr)

        # full one-shot recompute over the same union
        t0 = time.perf_counter()
        all_pairs = neardup.neardup_pairs_minhash(
            corpus.select("doc_id", "text"), "doc_id", "text",
            threshold=THRESHOLD,
        )
        deduped = dedup.drop_neardups(
            corpus.select("doc_id", "text"), all_pairs, "doc_id"
        )
        full_survivors = {
            r.doc_id for r in deduped.select("doc_id").collect()
        }
        t_full = time.perf_counter() - t0

        def recall_by_regime(surv: set) -> dict:
            out: dict = {}
            for (s, p), j in pairs.items():
                key = regime(s)
                det = not ({s, p} <= surv)
                tot, hit = out.get(key, (0, 0))
                out[key] = (tot + 1, hit + det)
            return {
                k: {"pairs": t, "recall": round(h / t, 4)}
                for k, (t, h) in sorted(out.items())
            }

        result = {
            "sf_dir": sf_dir,
            "n_batches": N_BATCHES,
            "threshold": THRESHOLD,
            "true_pairs": len(pairs),
            "recall_vs_batches": per_batch,
            "final_recall_incremental": recall_by_regime(survivors),
            "final_recall_full_recompute": recall_by_regime(full_survivors),
            "incremental_total_sec": round(t_incr, 2),
            "full_recompute_sec": round(t_full, 2),
        }
    finally:
        corpus.unpersist()
        shutil.rmtree(td, ignore_errors=True)

    art = os.path.join(_REPO_ROOT, "LSH_RECALL.json")
    doc = json.load(open(art)) if os.path.exists(art) else {}
    doc["incremental_drift"] = result
    with open(art, "w") as f:
        json.dump(doc, f, indent=1)
    print(json.dumps({"incremental_drift": result}))
    spark.stop()


if __name__ == "__main__":
    main()
