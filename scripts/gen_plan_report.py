"""Regenerate PLANS.md: physical-plan quality stats for the bench set.

Usage: python scripts/gen_plan_report.py  [sf_dir]

For every bench-tagged query, counts the plan features the 100 TB story
depends on (exchanges, broadcast vs sort-merge joins, whole-stage
codegen spans, pushed filters, Python evaluation nodes) straight from
the executed plan, so reviewers can audit plan quality without running
anything.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from nrg_etl_airflow_spark_emr_spark.plans.catalog import all_specs  # noqa: E402
from nrg_etl_airflow_spark_emr_spark.plans.inspect import audit  # noqa: E402
from nrg_etl_airflow_spark_emr_spark.session import get_spark  # noqa: E402

HEADER = """# PLANS — physical-plan audit of the bench headline set

Auto-generated by `scripts/gen_plan_report.py`; do not edit by hand.
Counts are over the initial adaptive physical plan at {sf_dir}
(AQE may further coalesce at runtime). Columns: shuffle Exchanges
(hash/range/round-robin), BroadcastHashJoins, SortMergeJoins,
BroadcastNestedLoopJoins, whether any parquet scan has non-empty
PushedFilters, and Python-eval nodes (Arrow-batched only —
row-at-a-time BatchEvalPython is banned by tests/test_plans.py).

Caveat: the audit sees the RETURNED frame's plan. Iterative trainers
that collect bounded scalars per round (text_bpe_train_merges returns
the learned merges as literal rows) do their distributed work in the
builder, so their row here under-counts — bench.py timings include the
builder and are the authoritative cost for those. Same for queries
whose stage boundaries are eager localCheckpoints since r15
(corpus_pipeline_e2e*, the MMR rerank rows): the upstream stages
execute at build time and the returned plan starts from the
checkpointed LogicalRDD, so their visible operator counts cover only
the post-boundary tail — `scripts/capture_plans.py` dumps the full
plans.
"""


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark(app_name="plan-report")
    spark.sparkContext.setLogLevel("ERROR")

    lines = [HEADER.format(sf_dir=sf_dir)]
    lines.append(
        "| query | shuffles | bcast joins | SMJ | BNLJ | pushdown | python nodes |"
    )
    lines.append("|---|---|---|---|---|---|---|")
    for name, s in sorted(all_specs().items()):
        if not s.bench:
            continue
        a = audit(s.builder(spark, sf_dir))
        lines.append(
            f"| `{name}` | {a.shuffles} "
            f"| {a.broadcast_hash_joins} "
            f"| {a.sort_merge_joins} "
            f"| {a.nested_loop_joins} "
            f"| {'yes' if a.pushed_filters else '—'} "
            f"| {a.python_nodes} |"
        )
    out = os.path.join(os.path.dirname(__file__), "..", "PLANS.md")
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {os.path.normpath(out)}")


if __name__ == "__main__":
    main()
