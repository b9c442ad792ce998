"""The benchmark's workloads and the public layer functions it traces.

See README.md beside this file for why each workload was chosen.
"""

from __future__ import annotations

import random

PACKAGE = "nrg_etl_airflow_spark_emr_spark"

#: Catalog rows per catalog workload. One operation is the row's builder
#: call plus a full noop consume of the DataFrame it returns. Each list keeps
#: a run (set-up, a cold pass and a warm pass) within about 40 s on 4 cores.
#: catalog-sql leaves out its four costliest rows (qc_fk_orphans, q8, q21,
#: q7) and two temporal rows that w5_sessionize and j5_asof_join stand for.
#: llm-iterative keeps the rows with 48, 19 and 13 builder jobs and leaves
#: out text_bpe_train_merges, whose cold operation alone takes about 13 s.
CATALOG_ROWS: dict[str, tuple[str, ...]] = {
    "catalog-sql": (
        "flagship_revenue_by_month",
        "q1_pricing_summary",
        "q3_shipping_priority",
        "q5_region_revenue",
        "q9_profit_by_nation_year",
        "q10_returned_items",
        "q18_large_volume_customers",
        "j5_asof_join",
        "w5_sessionize",
        "qc_documents_audit",
    ),
    "llm-iterative": (
        "corpus_pipeline_e2e_lsh",
        "graph_pagerank",
        "sim_knn_ivf_trained",
    ),
}

#: The pipeline workload: one operation is one ``run_pipeline`` call.
NRG_WORKLOAD = "nrg-etl"

WORKLOADS = (*CATALOG_ROWS, NRG_WORKLOAD)

#: Wrapped public layer functions: span name -> (defining module, attribute).
LAYER_FUNCTIONS: dict[str, tuple[str, str]] = {
    "load_table": (f"{PACKAGE}.sources.tables", "load_table"),
    "read_csv_table": (f"{PACKAGE}.sources.readers", "read_csv_table"),
    "write_partitioned_parquet": (f"{PACKAGE}.sources.readers", "write_partitioned_parquet"),
    "read_parquet_table": (f"{PACKAGE}.sources.readers", "read_parquet_table"),
    "qc.evaluate": (f"{PACKAGE}.qc", "evaluate"),
    "qc.write_report": (f"{PACKAGE}.qc", "write_report"),
}

#: Span layer of each wrapped function: its module, relative to the package.
LAYER_OF = {name: mod.removeprefix(PACKAGE + ".") for name, (mod, _attr) in LAYER_FUNCTIONS.items()}


def pass_orders(workload: str, seed: int):
    """Yield the operation order of each successive pass. The seed sets
    the order of every pass of a catalog workload; nrg-etl has one
    operation per pass."""
    rng = random.Random(seed)
    rows = CATALOG_ROWS.get(workload, (NRG_WORKLOAD,))
    while True:
        yield rng.sample(rows, len(rows))
