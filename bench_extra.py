"""Extra benchmarks (NOT the frozen driver bench — see bench.py).

Currently: interleaved A/B of the boolean-search decode paths (r9 lean
``_decode_ids`` vs the previous full ``_decode``) on the 1M-turn bench
corpus, guide §1.1/§4.1 methodology: same built index, alternating
executions, min-of-N, collect() parity asserted every round.

Usage: python bench_extra.py [--turns 1000000] [--rounds 5]
"""
from __future__ import annotations

import argparse
import json
import time

from pyspark.sql import functions as F


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--turns", type=int, default=1_000_000)
    ap.add_argument("--rounds", type=int, default=5)
    ap.add_argument("--cores", type=int, default=32)
    args = ap.parse_args()

    import os
    import shutil

    from konlspark import build, corpus
    from konlspark.query import SearchEngine
    from konlspark.session import get_spark

    parts = max(8, min(3 * args.cores,
                       max(args.cores, args.turns // 3000)))
    spark = get_spark("konlspark-bench-extra", cores=args.cores,
                      shuffle_partitions=parts)
    root = f"/tmp/konlspark_abx_{os.getpid()}"
    shutil.rmtree(root, ignore_errors=True)
    try:
        cluster_rows = min(2000, max(1300, args.turns // 50))
        tdf = corpus.spark_make_transcripts(
            spark, args.turns, turns_per_conv=20, seed=42,
            min_words=3, max_words=60,
            num_partitions=max(8, args.cores),
            cluster_rows=cluster_rows).cache()
        tdf.count()
        # warm-up (python worker spin-up), same as bench.py
        warm = corpus.spark_transcripts(
            spark, corpus.make_transcripts(5000, seed=1))
        build.build_index(spark, warm, root + "_warm")
        shutil.rmtree(root + "_warm", ignore_errors=True)
        build.build_index(spark, tdf, root)
        eng = SearchEngine(spark, root)

        AND_Q = ["마법", "특별"]
        OR_Q = ["같은", "비스크"]

        def lean_and():
            return eng.search(AND_Q, "and", log=False).collect()

        def full_and():
            meta = eng._term_meta(list(dict.fromkeys(AND_Q)))
            decoded = eng._decode(eng._blocks_for(meta))
            return (decoded.groupBy("doc_id")
                    .agg(F.count(F.lit(1)).alias("_nt"))
                    .filter(F.col("_nt") == len(meta))
                    .select("doc_id").orderBy("doc_id").collect())

        def lean_or():
            return eng.search(OR_Q, "or", log=False).collect()

        def full_or():
            meta = eng._term_meta(list(dict.fromkeys(OR_Q)))
            decoded = eng._decode(eng._blocks_for(meta))
            return (decoded.select("doc_id").distinct()
                    .orderBy("doc_id").collect())

        results = {}
        for name, fa, fb in [("and", lean_and, full_and),
                             ("or", lean_or, full_or)]:
            la, lb = [], []
            for i in range(args.rounds):
                spark.sparkContext.setJobDescription(f"ab {name} lean #{i}")
                t0 = time.time(); ra = fa(); la.append(time.time() - t0)
                spark.sparkContext.setJobDescription(f"ab {name} full #{i}")
                t0 = time.time(); rb = fb(); lb.append(time.time() - t0)
                assert [r["doc_id"] for r in ra] == [r["doc_id"] for r in rb], \
                    f"parity FAIL on {name} round {i}"
            results[name] = {
                "lean_min": round(min(la), 3), "full_min": round(min(lb), 3),
                "lean_all": [round(x, 3) for x in la],
                "full_all": [round(x, 3) for x in lb],
                "rows": len(ra), "parity": "ok",
            }
            print(name, results[name], flush=True)

        results["turns"] = args.turns
        print(json.dumps(results))
    finally:
        spark.stop()
        shutil.rmtree(root, ignore_errors=True)
        shutil.rmtree(root + "_warm", ignore_errors=True)


if __name__ == "__main__":
    main()
