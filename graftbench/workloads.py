"""The benchmark's workloads: op lists, op -> layer map, input sizes.

Each op is mapped to the repository module (layer) whose public
function its `SparkEntry.queries` entry calls. `etl_*` ops write their
frame as parquet (the load); every other op writes to Spark's `noop`
sink, which still computes every output column. README.md says why
each workload has the ops and sizes it has.
"""

WORKLOADS = {
    # reference-parity relational ETL and QA: execute-bound
    "etl_qa": {
        "ops": [
            ("etl_load_select", "etl"),
            ("etl_upsert", "etl"),
            ("qa_report", "qa"),
            ("q_join_large", "analytics"),
        ],
        # lineitem comes with orders, about 4 lines per order
        "rows": {"customer": 7_500, "orders": 75_000, "events": 50_000},
    },
    # LLM-corpus curation on a small corpus: job-bound
    "curate": {
        "ops": [
            ("corpus_curate", "dedup"),
            ("text_corpus_filter", "text"),
            ("sim_mmr_rerank", "similarity"),
        ],
        "rows": {"documents": 250, "embeddings": 250},
    },
    # AvailableNow streaming replays: micro-batch-bound
    "stream_replay": {
        "ops": [
            ("stream_asof_enrich", "streaming"),
            ("stream_benford", "streaming"),
        ],
        "rows": {"events": 10_000, "documents": 500},
    },
}

LAYERS = ["etl", "qa", "dedup", "text", "similarity", "analytics",
          "streaming"]


def sink(op):
    return "parquet" if op.startswith("etl_") else "noop"
