"""Same-session A/B harness for the shared resolved-entity frame
(VERDICT r9 item 5). One rep = clear_shared() + run the three er_* QA
entries (what one gate pass costs); reports per-rep totals and the
median. Run once on the old code and once on the new, same session
discipline as the r9 streaming-floor measurement."""

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from xova_spark.session import get_spark  # noqa: E402
from xova_spark.sharedframes import clear_shared  # noqa: E402

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
REPS = 5


def main():
    spark = get_spark("ab-er-shared")
    from xova_spark.queries.erq import (
        er_cluster_conflict_rate,
        er_entity_clusters,
        er_survivorship,
    )

    fns = [er_entity_clusters, er_survivorship, er_cluster_conflict_rate]
    # warm-up: JIT/scan caches, not counted
    for fn in fns:
        fn(spark, SF).collect()
    clear_shared()
    totals = []
    for rep in range(REPS):
        clear_shared()
        t0 = time.monotonic()
        per = []
        for fn in fns:
            q0 = time.monotonic()
            fn(spark, SF).collect()
            per.append(round(time.monotonic() - q0, 3))
        total = round(time.monotonic() - t0, 3)
        totals.append(total)
        print(f"rep{rep}: total={total}s per={per}", flush=True)
    totals.sort()
    print(f"MEDIAN total={totals[REPS // 2]}s over {REPS} reps")


if __name__ == "__main__":
    main()
