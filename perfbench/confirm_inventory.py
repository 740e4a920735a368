"""Regenerate ``inventory_expected.json``: build the inventory tables
from their fixed seed, check every ``plans.registry`` query against
its DuckDB oracle (``plans/oracle.py``, the same compare as
``scripts/local_correctness.py``), and record each query's
hash-collect digest. Refuses to write if any query mismatches.

    python3 perfbench/confirm_inventory.py
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import run as bench  # noqa: E402


def main() -> int:
    os.environ.update(bench.launch_env())
    os.makedirs(os.environ["SPARK_LOCAL_DIRS"], exist_ok=True)
    from odsc_agentic_ai_summit_2025_spark.cache import sweep_blocks
    from odsc_agentic_ai_summit_2025_spark.plans.oracle import run_inventory
    from odsc_agentic_ai_summit_2025_spark.plans.registry import all_queries
    from odsc_agentic_ai_summit_2025_spark.session import get_spark

    data = bench.inventory_tables()
    spark = get_spark(app_name="perfbench-confirm")
    try:
        results = run_inventory(spark, data)
        bad = {n: d for n, (ok, d) in results.items() if not ok}
        print(f"oracle: {len(results) - len(bad)}/{len(results)} match")
        if bad:
            for n, d in bad.items():
                print(f"  {n}: {d}")
            return 1
        digests = {}
        for name, q in all_queries().items():
            digests[name] = bench._hash_collect(q.spark(spark, data))
            sweep_blocks(spark)
    finally:
        bench._stop_spark(spark)
    out = {
        "data_seed": bench.INVENTORY_DATA_SEED,
        "oracle": f"{len(results)}/{len(results)} queries match DuckDB",
        "digests": digests,
    }
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "inventory_expected.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(f"wrote {path}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
