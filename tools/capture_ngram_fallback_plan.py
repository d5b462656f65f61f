"""Capture the witness-grouped (beyond-broadcast-budget) verify branch's
full distributed plan for dedup_ngram_jaccard.

The registered query at bench scales stays under the verify broadcast
budget, and its final frame is checkpointed, so a plain explain shows a
stub over Scan ExistingRDD. For the plans/ evidence we (a) force the
budget to 0 so the witness branch is taken, and (b) patch the operator
module's checkpoint to identity so the whole distributed plan stays
visible. Analysis-only: nothing is executed.

Usage:
  python tools/capture_ngram_fallback_plan.py --sf-dir /root/testdata/sf0.1 \
      --out plans/r11/dedup_ngram_jaccard_forcedfallback_sf01_before.txt
"""
from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.capture_plans import explain_str  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    from esco_neo4j_spark.operators import dedup as dmod
    from esco_neo4j_spark.session import get_spark

    # the operator imports _checkpoint at call time, so patching the graph
    # module is enough to keep the whole plan visible
    import esco_neo4j_spark.operators.graph as gmod

    orig_ck = gmod._checkpoint
    gmod._checkpoint = lambda df: df
    spark = None
    try:
        spark = get_spark("capture_ngram_fallback")
        df = dmod.ngram_jaccard_pairs(
            spark.read.parquet(
                os.path.join(args.sf_dir, "documents.parquet")
            ),
            "text",
            "doc_id",
            threshold=0.7,
            verify_broadcast_bytes=0,
        ).orderBy("id_a", "id_b")
        header = (
            f"== dedup_ngram_jaccard operator @ {args.sf_dir}, verify "
            "budget forced 0 (witness-grouped branch), checkpoints patched "
            "to identity so the full distributed plan is visible ==\n"
        )
        os.makedirs(os.path.dirname(args.out) or ".", exist_ok=True)
        with open(args.out, "w") as f:
            f.write(header + explain_str(df) + "\n")
        print(f"wrote {args.out}")
    finally:
        gmod._checkpoint = orig_ck
        if spark is not None:
            spark.stop()


if __name__ == "__main__":
    main()
