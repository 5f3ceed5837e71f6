"""Physical-plan audit: assert the plans we want, not just plans that pass.

For each audited query the script prints the formatted physical plan and
checks structural expectations: filter/column pushdown into the parquet
scan, broadcast vs shuffle join choice, whole-stage codegen coverage, and
absence of accidental cartesian products. Run:

    python scripts/plan_audit.py [sf_dir] > PLANS.md
"""

from __future__ import annotations

import io
import sys
from contextlib import redirect_stdout

sys.path.insert(0, ".")

from pyspark.sql import functions as F

import __spark_entry__ as E
from no_fasel_scrapers_spark.session import get_spark

# query name → list of (substring, must_be_present, why)
EXPECTATIONS = {
    "pricing_summary": [
        ("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate",
         True, "date filter reaches the parquet scan"),
        ("partial_sum", True, "map-side partial aggregation before shuffle"),
        ("ReadSchema: struct<l_quantity:double,l_extendedprice:double,"
         "l_discount:double,l_returnflag:string,l_linestatus:string,"
         "l_shipdate:timestamp", True,
         "column pruning: 6 of 11 lineitem columns read"),
    ],
    "revenue_by_nation": [
        ("BroadcastHashJoin", True, "nation dim joined via broadcast"),
        ("partial_sum", True, "partial agg before the groupBy shuffle"),
    ],
    "customers_without_orders": [
        ("LeftAnti", True, "anti-join physical strategy"),
        ("ReadSchema: struct<o_custkey:bigint>", True,
         "orders scan pruned to the single join column"),
    ],
    "top_orders_per_customer": [
        ("RunningWindowFunction", False,
         "plain window, rank filter applied after"),
        ("Window", True, "window operator present"),
        ("ReadSchema: struct<o_orderkey:bigint,o_custkey:bigint,"
         "o_totalprice:double>", True,
         "orders scan pruned to the 3 needed columns"),
    ],
    "frontier_take_wave": [
        ("TakeOrderedAndProject", True,
         "wave budget = top-K, not a global sort"),
    ],
    "robots_gate": [
        ("BroadcastHashJoin", True, "robots table broadcast to the frontier"),
    ],
    "ann_bruteforce": [
        ("BroadcastNestedLoopJoin", True,
         "query batch broadcast for the corpus pass"),
        ("CartesianProduct", False, "no unbroadcast cartesian product"),
    ],
    "events_hourly": [
        ("partial_sum", True, "partial agg"),
        ("ReadSchema: struct<ts:timestamp_ntz,event_type:string,value:double>",
         True, "column pruning: 3 of 6 event columns read"),
        ("ENSURE_REQUIREMENTS", True,
         "exactly the one groupBy shuffle, nothing extra"),
    ],
    "rollup_status_priority": [
        ("Expand", True, "rollup grouping sets via Expand, single pass"),
        ("partial_sum", True, "partial agg before the grouping shuffle"),
        ("ReadSchema: struct<o_orderstatus:string,o_totalprice:double,"
         "o_orderpriority:string>", True,
         "orders scan pruned to the 3 needed columns"),
    ],
    "intersect_keys": [
        ("LeftSemi", True, "intersect lowered to distinct + left-semi join"),
        ("ReadSchema: struct<l_orderkey:bigint>", True,
         "lineitem scan pruned to the single key column"),
    ],
    "seen_filter_dedup": [
        ("BroadcastHashJoin LeftAnti", True,
         "exact backstop anti-join runs against a broadcast hit set"),
        ("SortMergeJoin", False,
         "no sort-merge join anywhere: the seen set must not shuffle"),
    ],
    "chunk_documents": [
        ("Exchange", False,
         "chunking is a narrow map — zero shuffle end to end"),
        ("posexplode", True, "windows exploded row-parallel"),
    ],
    "asof_join": [
        ("hashpartitioning(user_id", True,
         "one shuffle on the key serves the carry-forward window"),
        ("BroadcastNestedLoopJoin", False, "no nested-loop join"),
        ("SortMergeJoin", False,
         "no join at all — union + window replaces the inequality join"),
    ],
    "range_join": [
        ("BroadcastNestedLoopJoin", False,
         "BETWEEN resolved by bucket equi-join, not a nested loop"),
        ("CartesianProduct", False, "no cartesian product"),
        ("posexplode", False, "buckets via explode(sequence), narrow"),
    ],
    "sessionize_events": [
        ("Window", True, "lag + running sum stay in one window operator"),
        ("ReadSchema: struct<event_id:bigint,ts:timestamp_ntz,"
         "user_id:bigint>", True,
         "events scan pruned to the 3 needed columns"),
        ("hashpartitioning(user_id", True,
         "one shuffle on user_id serves both windows and the final rollup"),
    ],
    "decontaminate": [
        ("BroadcastHashJoin", True,
         "test gram-hash set broadcast — the training side never shuffles "
         "for the hit join"),
        ("CartesianProduct", False, "no cartesian product"),
    ],
    "sample_stratified": [
        ("Exchange", False,
         "deterministic hash sampling is a pure predicate — zero shuffle"),
        ("ReadSchema: struct<doc_id:bigint,lang:string>", True,
         "documents scan pruned to the 2 needed columns"),
    ],
    "vocab_top_terms": [
        ("TakeOrderedAndProject", True,
         "deterministic top-k, not a global sort materialization"),
        ("partial_count", True,
         "map-side combine before the single term shuffle"),
        ("ReadSchema: struct<text:string>", True,
         "documents scan pruned to the text column"),
    ],
    "repetition_stats": [
        ("Exchange", False,
         "repetition signals are a pure map — zero shuffle at any scale"),
        ("ReadSchema: struct<doc_id:bigint,text:string>", True,
         "documents scan pruned to the 2 needed columns"),
    ],
    "line_dedup": [
        ("CartesianProduct", False, "no accidental cartesian product"),
        ("partial_count", True,
         "boilerplate count is map-side combined — a mega-hot line "
         "skews only the partial agg, never a raw-line shuffle join"),
        ("ReadSchema: struct<doc_id:bigint,text:string>", True,
         "documents scan pruned to the 2 needed columns"),
    ],
    "substring_dedup": [
        ("CartesianProduct", False, "no accidental cartesian product"),
        ("partial_min", True,
         "canonical-occurrence agg is map-side combined — a boilerplate "
         "window shared by millions of docs arrives pre-combined, never "
         "a raw occurrence shuffle to one reducer"),
        ("partial_collect_set", True,
         "per-doc span rollup partial-aggregates too"),
        ("BatchEvalPython", False, "zero Python anywhere"),
        ("MapInPandas", False, "window hashing is pure codegen"),
        ("ReadSchema: struct<doc_id:bigint,text:string>", True,
         "documents scan pruned to the 2 needed columns"),
    ],
    "audio_features": [
        ("Exchange", False,
         "payload synth + WAV decode + feature project: zero shuffle"),
        ("MapInPandas", True,
         "binary decode runs Arrow-batched (the sanctioned Python path)"),
        ("BatchEvalPython", False,
         "no row-at-a-time Python UDF anywhere in the chain (the synth "
         "stage alone would satisfy the MapInPandas check, so pin the "
         "absence of the slow path explicitly)"),
    ],
    "pii_scrub": [
        ("Exchange", False, "pure narrow map: zero shuffle"),
        ("MapInPandas", False,
         "zero Python: the regexp count+redact chain stays JVM-side"),
        ("codegen id", True,
         "whole operator inside a codegen span (formatted plans mark "
         "codegen nodes with [codegen id : N])"),
        ("ReadSchema: struct<doc_id:bigint,text:string>", True,
         "documents scan pruned to the 2 needed columns"),
    ],
    "charset_decode": [
        ("MapInPandas", True,
         "synth + sniff/decode run Arrow-batched (narrow maps)"),
        ("BatchEvalPython", False,
         "no row-at-a-time Python UDF in the chain"),
        ("partial_count", True,
         "the 5-group rollup partial-aggregates before its one shuffle"),
        ("ReadSchema: struct<doc_id:bigint,text:string>", True,
         "documents scan pruned to the 2 needed columns"),
        ("CartesianProduct", False, "no accidental cartesian product"),
    ],
}


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(app_name="plan_audit", master="local[4]")
    failures = 0
    print("# PLANS — physical-plan audit (generated by scripts/plan_audit.py)\n")
    print(f"Input: {sf_dir}; AQE on (final plans may re-optimize at runtime; "
          "assertions target the static physical plan).\n")
    for name, checks in EXPECTATIONS.items():
        df = E.REGISTRY[name].build(spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        print(f"\n## {name}\n")
        for needle, want, why in checks:
            got = needle in plan
            ok = got == want
            failures += 0 if ok else 1
            mark = "OK " if ok else "FAIL"
            polarity = "present" if want else "absent"
            print(f"- {mark}: `{needle.split(':')[0]}` {polarity} — {why}")
        # keep PLANS.md readable: plan header + first 40 lines
        head = "\n".join(plan.splitlines()[:40])
        print(f"\n```\n{head}\n```")
    print(f"\n---\n{failures} failed expectations" if failures
          else "\n---\nall plan expectations hold")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
