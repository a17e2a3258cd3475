"""Micro-bench: naive inverted-index vs PPJoin prefix-filtered n-gram
Jaccard pairs, at a low and a high threshold, on the documents fixture.

Evidence for the threshold-adaptive selection in
operators/dedup.ngram_jaccard_pairs (prefix at t >= 0.6): at low
thresholds the prefix is ~(1-t)·|grams| of each doc — nearly the whole
gram set — so the filter can't pay for its extra shuffles; at high
thresholds the short prefix prunes hot-gram posting lists and wins, and
its advantage GROWS with posting-list length (the 100 TB regime).

    python tools/bench_ngram_paths.py [sf_dir] [repeats]
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, "/root/repo")

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
REPEATS = int(sys.argv[2]) if len(sys.argv) > 2 else 3


def main() -> None:
    from uma_etl_iis_loader_spark.io import read_fixture
    from uma_etl_iis_loader_spark.operators.dedup import (
        _df_ordered_grams,
        _gram_table,
        _naive_pairs,
        _prefix_pairs,
    )
    from uma_etl_iis_loader_spark.operators.lifetime import persisted
    from uma_etl_iis_loader_spark.session import build_session

    spark = build_session("bench-ngram")
    spark.sparkContext.setLogLevel("ERROR")
    docs = read_fixture(spark, SF_DIR, "documents").cache()
    docs.count()

    def run(threshold: float, prefix: bool) -> int:
        # the same hold/materialize discipline ngram_jaccard_pairs
        # applies to the path its threshold selects
        g = _gram_table(docs, "doc_id", "text", 3, False)
        held = _df_ordered_grams(g) if prefix else g
        build = _prefix_pairs if prefix else _naive_pairs
        with persisted(held):
            return build(held, threshold).localCheckpoint(eager=True).count()

    for threshold in (0.35, 0.7):
        for prefix in (False, True):
            # warm-up run, then timed repeats (cold plan each time: the
            # input is cached, the pair plan is rebuilt per run)
            times = []
            n = None
            for r in range(REPEATS + 1):
                t0 = time.time()
                n = run(threshold, prefix)
                if r > 0:
                    times.append(time.time() - t0)
            label = "prefix" if prefix else "naive "
            print(
                f"t={threshold} {label} pairs={n:>5} "
                f"median={sorted(times)[len(times)//2]:.2f}s "
                f"runs={[round(t,2) for t in times]}"
            )


if __name__ == "__main__":
    main()
