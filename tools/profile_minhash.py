"""Where do dedup_minhash's seconds go? (VERDICT r10 ask #6 — at 2.24s
sf0.1 / 7.35s sf10 it is the most expensive headline entry and the only
multi-second one never profiled.)

Stage decomposition of ``minhash_dedup(docs, threshold=0.5)`` — the
exact headline-entry call — measured best-of-RUNS per stage with the
pipeline's own materialize barriers as the stage boundaries:

  1. ``signatures``  — shingle xxhash build + explode + 64-way min-agg
                       (the one corpus shuffle: num_perm longs/doc)
  2. ``banding``     — band-hash fold + posexplode + eager materialize
                       (measured as banded_total - signatures)
  3. ``candidates``  — banded self-equi-join + dropDuplicates
                       (measured as lsh_total - banded_total, where
                       lsh_total times ``minhash_lsh_candidates`` itself)
  4. ``verify``      — exact-Jaccard scoring of the candidate pairs +
                       threshold filter

plus a ``full_pipeline`` cross-check (stages should roughly sum to it;
the delta is re-run noise + the final filter) and a ``num_perm`` sweep
(32/64/128 at fixed bands ratio) answering "is num_perm the knob".

Writes PROFILE_MINHASH.json at the repo root and prints one JSON line.

Usage: python tools/profile_minhash.py [sf_dir] (default /root/testdata/sf0.1)
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from bench import best_of  # noqa: E402 — min-of-3, shared with profile_ivf


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"

    from pyspark.sql import functions as F

    from bench import _cpu_jiffies, _jit_probe, warmup
    from mortar_parquet_support_spark.operators.dedup import (
        _banded_frame,
        jaccard_pairs,
        minhash_dedup,
        minhash_lsh_candidates,
        minhash_signatures,
    )
    from mortar_parquet_support_spark.functions import materialize
    from mortar_parquet_support_spark.session import get_spark

    spark = get_spark("mortar-profile-minhash")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    warmup(spark, cpus)
    jit_before = _jit_probe(spark, 11_000)
    jif0, steal0 = _cpu_jiffies()

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    n_docs = docs.count()
    kw = dict(id_col="doc_id", text_col="text")

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    t_sig = best_of(lambda: noop(minhash_signatures(docs, **kw)))
    t_banded_total = best_of(lambda: _banded_frame(
        docs, num_perm=64, bands=16, shingle_words=3, seed=42, **kw,
    ))
    t_lsh_total = best_of(lambda: noop(minhash_lsh_candidates(docs, **kw)))
    cands = materialize(minhash_lsh_candidates(docs, **kw))
    n_cands = cands.count()
    t_verify = best_of(lambda: noop(
        jaccard_pairs(docs, cands, **kw).filter(F.col("jaccard") >= 0.5)
    ))
    t_full = best_of(lambda: noop(
        minhash_dedup(docs, threshold=0.5, **kw)
    ))
    sweep = {
        str(np): best_of(lambda np=np: noop(minhash_dedup(
            docs, threshold=0.5, num_perm=np, bands=np // 4, **kw
        )))
        for np in (32, 64, 128)
    }

    jit_after = _jit_probe(spark, 11_500)
    jif1, steal1 = _cpu_jiffies()
    out = {
        "sf_dir": sf_dir,
        "n_docs": n_docs,
        "n_candidate_pairs": n_cands,
        "stages": {
            "signatures": t_sig,
            "banding": round(max(t_banded_total - t_sig, 0.0), 3),
            "candidates": round(max(t_lsh_total - t_banded_total, 0.0), 3),
            "verify": t_verify,
        },
        "banded_total_sec": t_banded_total,
        "lsh_total_sec": t_lsh_total,
        "full_pipeline_sec": t_full,
        "num_perm_sweep_sec": sweep,
        "jit_sentinel_before_sec": jit_before,
        "jit_sentinel_after_sec": jit_after,
        "steal_pct": round(100.0 * (steal1 - steal0) / (jif1 - jif0), 2)
        if jif1 > jif0
        else None,
    }
    with open(os.path.join(ROOT, "PROFILE_MINHASH.json"), "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
