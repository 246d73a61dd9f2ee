"""Physical-plan audit: prints a markdown table of scale-relevant plan
facts for bench.py's headline queries, or for the named queries.

Usage: python tools/audit_plans.py [sf_dir] [names...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import minefields_kafka_streams_deduplication_spark as engine
from bench import HEADLINE
from minefields_kafka_streams_deduplication_spark.plans import audit_plan


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    names = sys.argv[2:] or HEADLINE  # extra args: audit a specific subset
    spark = engine.get_spark("plan-audit")
    queries = engine.get_queries()
    print("| query | pushed filters | shuffles | broadcasts | codegen stages | topk-pushdown |")
    print("| --- | --- | --- | --- | --- | --- |")
    for name in names:
        df = queries[name](spark, sf_dir)
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            a = audit_plan(df)
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", "true")
        pf = "; ".join(a.pushed_filters)[:60] or "-"
        print(
            f"| {name} | {pf} | {a.n_exchanges} | {a.n_broadcasts} "
            f"| {a.n_codegen_stages} | {'yes' if a.has_take_ordered else '-'} |"
        )
    spark.stop()


if __name__ == "__main__":
    main()
