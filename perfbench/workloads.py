"""The benchmark's workloads: named subsets of the repo's own item lists.

Items are picked by name out of ``bench.HEADLINE`` (operator queries) and
``bench.PIPELINES`` (YAML flows under ``examples/``), never copied, and
keep the order those lists give them; ``item_order`` then permutes them
by the workload seed. ``test_perfbench.py`` checks every query name
against ``collect_all()``.

Every workload runs on the same generated sf0.01 tables (``datagen``,
about 2 MB of parquet), far below the Spark driver's block-manager memory.
The query workload keeps the shape the full headline battery has at sf0.1,
at a cost of seconds instead of minutes. On a 4-core host, one pass of its
six queries ran 56 Spark jobs (about 9 per query). Its summed executor time
was 0.84 of its wall time. A full sf0.1 headline pass ran 1,035 jobs over
115 queries, also about 9 per query, with executor time 0.86 of wall.
"""

from __future__ import annotations

import random

import bench

# Read-only operator queries: the timed call writes no files, so a change
# to sinks or commits must read flat here. s01/s02 are job-count targets
# the roadmap names, d02 builds the shared dedup relations, q60 is a
# multi-aggregate profile, and q01/ts02 are the relational and
# time-series staples. Each added query costs about 1 s in every warm pass
# and 3 s in the cold check pass, on top of about 20 s of JVM start and
# set-up per run; six keep a run near one minute.
QUERIES_SF001 = (
    "q01_pricing_summary",
    "ts02_sessionization",
    "d02_minhash_lsh_pairs",
    "s01_cosine_topk",
    "s02_lsh_ann",
    "q60_column_profile",
)

# YAML flows run through Flow.run: templating, the stage registry, taps
# that cache and count, registry operator stages (curation_quality), a
# parquet sink with read-back (training_data_pipeline), and two
# micro-batch stream stages (streaming_pipeline).
FLOWS_SF001 = (
    "training_data_pipeline",
    "curation_quality",
    "streaming_pipeline",
)

WORKLOADS = {
    "queries_sf001": ("query", QUERIES_SF001),
    "flows_sf001": ("flow", FLOWS_SF001),
}

# Flows that are not in bench.PIPELINES but ship under examples/.
EXTRA_FLOWS = ("streaming_pipeline",)


def items(workload: str) -> tuple:
    """The workload's items in the order of the repo list they come from."""
    kind, names = WORKLOADS[workload]
    source = bench.HEADLINE if kind == "query" else tuple(bench.PIPELINES) + EXTRA_FLOWS
    missing = [n for n in names if n not in source]
    if missing:
        raise KeyError(f"{workload}: not in the repo's item list: {missing}")
    return tuple(n for n in source if n in names)


def item_order(workload: str, seed: int) -> list:
    order = list(items(workload))
    random.Random(seed).shuffle(order)
    return order
