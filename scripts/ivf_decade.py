#!/usr/bin/env python
"""Second-decade scale ladder for the persisted IVF index LIFECYCLE
(r12 verdict item 5): minhash, embedding-LSH and capped triangles all
carry >=2-decade exponent evidence; the index build + append + search
path had only sf-scale numbers. This script measures build / append /
search wall-clock and recall@k across 20k -> 200k vectors (the vec_d1 /
vec_d2 planted corpora shared with scripts/second_decade.py), with a
data-fitted quantizer (the m=1 pinned Lloyd fit over the base), the
fold assignment kernel, sqrt(n) centroids and a constant probe
FRACTION — the knobs a 100 TB deployment would turn.

    python scripts/ivf_decade.py [OUT_JSON]

Per size, one lifecycle pass per timed run (interleaved across sizes,
N_RUNS medians, warm-up discarded):

- build:  pq_fit_lloyd_pinned(base, m=1) + ivf_index_write(base = 90%
  of the corpus), k = ~sqrt(n) centroids — each Lloyd step and the
  assignment are O(n * k), so the decade
  step grows work ~10x * sqrt(10): sub-linear wall needs the assignment
  to stay map-side and the partitioned write to stay one pass.
- append: ivf_index_append(batch = the remaining 10%) — the delta path
  (ratio 0.111 < rebuild_fraction), one assignment pass over the batch
  plus manifest bookkeeping; must NOT re-read base postings.
- search: 64 queries, k=10, n_probe = ~6% of centroids (constant
  fraction keeps expected scanned-postings share constant across the
  decade); recall@10 against brute_force_knn ground truth on the SAME
  queries. Recall must hold across the decade or the exponent is
  meaningless.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import sys
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from laposte_data_engineering_jedha_spark.operators import caches, similarity  # noqa: E402
from laposte_data_engineering_jedha_spark.session import get_spark  # noqa: E402
from scripts.second_decade import ensure_corpora  # noqa: E402

N_RUNS = 3
N_QUERIES = 64
TOP_K = 10
PROBE_FRACTION = 0.06
SCALE_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scale"
)


def run_lifecycle(spark, path: str) -> dict:
    """One full lifecycle pass: build(90%) -> append(10%) -> search(64
    queries) + recall vs brute force. Fresh scratch index per pass so
    every run times the same cold-index work."""
    emb = spark.read.parquet(path).select("vec_id", "embedding")
    n = emb.count()
    k_centroids = max(16, int(math.sqrt(n)))
    n_probe = max(4, round(PROBE_FRACTION * k_centroids))
    base = emb.where(F.col("vec_id") % 10 != 0)
    batch = emb.where(F.col("vec_id") % 10 == 0)
    queries = emb.where(F.col("vec_id") % 97 == 1).limit(N_QUERIES)
    idx = os.path.join(SCALE_DIR, f"ivf_decade_idx_{os.getpid()}_{uuid.uuid4().hex[:8]}")
    try:
        t0 = time.monotonic()
        centers = similarity.pq_fit_lloyd_pinned(base, m=1, k=k_centroids, dim=64)[0]
        similarity.ivf_index_write(base, idx, centers)
        t_build = time.monotonic() - t0

        t0 = time.monotonic()
        outcome = similarity.ivf_index_append(spark, idx, batch, delta_tag="ladder")
        t_append = time.monotonic() - t0
        assert outcome == "delta", outcome

        t0 = time.monotonic()
        got = (
            similarity.ivf_index_search(spark, idx, queries, k=TOP_K, n_probe=n_probe)
            .select("query_id", "cand_id")
            .collect()
        )
        t_search = time.monotonic() - t0

        truth = (
            similarity.brute_force_knn(emb, queries, k=TOP_K)
            .select("query_id", "cand_id")
            .collect()
        )
        truth_sets: dict[int, set[int]] = {}
        for r in truth:
            truth_sets.setdefault(r["query_id"], set()).add(r["cand_id"])
        hit = sum(1 for r in got if r["cand_id"] in truth_sets.get(r["query_id"], ()))
        recall = hit / sum(len(s) for s in truth_sets.values())
    finally:
        shutil.rmtree(idx, ignore_errors=True)
        caches.release_all()
        spark.catalog.clearCache()
    return {
        "n": n,
        "k_centroids": k_centroids,
        "n_probe": n_probe,
        "build_s": round(t_build, 2),
        "append_s": round(t_append, 2),
        "search_s": round(t_search, 2),
        "recall_at_k": round(recall, 4),
    }


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        SCALE_DIR, "ivf_decade.json"
    )
    spark = get_spark(app_name="ivf_decade")
    paths = ensure_corpora(spark)

    run_lifecycle(spark, paths["vec_d1"])  # warm-up, discarded
    runs: dict[str, list[dict]] = {"d1": [], "d2": []}
    for _ in range(N_RUNS):  # interleaved: host drift hits both sizes alike
        runs["d1"].append(run_lifecycle(spark, paths["vec_d1"]))
        runs["d2"].append(run_lifecycle(spark, paths["vec_d2"]))

    result: dict = {}
    for size, rs in runs.items():
        med = {
            k: statistics.median(r[k] for r in rs)
            for k in ("build_s", "append_s", "search_s", "recall_at_k")
        }
        result[size] = {**{k: rs[0][k] for k in ("n", "k_centroids", "n_probe")}, **med}
    for phase in ("build_s", "append_s", "search_s"):
        ratio = result["d2"][phase] / result["d1"][phase]
        result[f"exp_{phase.removesuffix('_s')}"] = round(math.log10(ratio), 3)
    print(json.dumps(result))
    with open(out_path, "w") as fh:
        fh.write(json.dumps(result) + "\n")


if __name__ == "__main__":
    main()
