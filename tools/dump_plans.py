"""Dump formatted physical plans of representative driver queries to
BENCH/PLANS_r4.md — reviewer-facing evidence that the headline plans
are the ones you'd want at 100x (codegen spans, pushed filters,
broadcast vs shuffle joins, no Python in hot paths).

Usage: python tools/dump_plans.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

QUERIES = [
    ("q_pip_join", "two-stage PIP: broadcast multi-level cell cover -> "
     "full-cell JVM bypass -> ONE boundary-band Python stage"),
    ("q_pip_shuffle", "shuffle-strategy PIP: the pip_join_rings plan fed a "
     "driver polygon list -> ONE salted shuffle join, cover and Arrow "
     "refine once each"),
    ("q01_pricing", "TPC-H 1: pushed filter + partial agg, pure codegen"),
    ("q_minhash_pairs", "MinHash LSH: exact-collapse -> band self-join "
     "(shuffle-pinned, ReuseExchange) -> single verify stage"),
    ("q_rank_metrics", "two ranking windows over ONE query-key exchange"),
    ("q_tile_pyramid", "tile assign + pyramid rollup: parent bit-shift "
     "rollup, partial aggs, no Python"),
    ("q_bloom_join", "Bloom runtime-filter join reduction: broadcast "
     "word probes, NO probe-side shuffle"),
    # r4 additions
    ("q_hillshade", "Horn scatter -> ONE hash agg -> join back -> "
     "fixed-IEEE shade chain, all codegen, no Python"),
    ("q_nearest_event", "abs-nearest join: ONE key exchange feeding two "
     "stacked windows (backward+forward carry), zero Join nodes"),
    ("q_cidr", "CIDR LPM: bucket-explode Generate + distinct-ip "
     "equi-join + BETWEEN refine + min-struct argmax"),
    ("q_winnow", "winnowing: Generate + lead chain + sliding min over "
     "ONE doc partition (no second Exchange), distinct"),
]


def main() -> None:
    import __spark_entry__ as entry
    from osm_pbf_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("plandump", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()
    out = [
        "# Formatted physical plans (representative queries)",
        "",
        f"Generated by tools/dump_plans.py at sf_dir={sf_dir}. These are",
        "the plans the repo's plan-pin tests assert properties of; kept",
        "here so a reviewer can read them without running Spark.",
        "",
    ]
    for name, note in QUERIES:
        df = qs[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        out.append(f"## {name}")
        out.append("")
        out.append(note)
        out.append("")
        out.append("```")
        out.append(plan.rstrip())
        out.append("```")
        out.append("")
    dest = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "BENCH",
        "PLANS_r4.md",
    )
    with open(dest, "w") as f:
        f.write("\n".join(out))
    print(f"wrote {dest} ({len(out)} lines)")


if __name__ == "__main__":
    main()
