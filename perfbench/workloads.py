"""The workloads: input multiple of sf0.1, tables read, jobs.

Job ids are ``__spark_entry__.queries()`` ids, run in the order listed.
``BENCHMARK.json`` lists tpch, dedup and mapreduce; graph runs on request
but is not part of the benchmark (NOTES.md says why).
``sinks`` names the jobs whose output goes through
``p2_mapreduce_spark.sources.writers`` (``tsv`` or ``parquet``); every
other job's action is ``toPandas()``.  NOTES.md says why each workload
and each job list was chosen.
"""

from __future__ import annotations

from dataclasses import dataclass, field

#: The reference's golden job: smallt.txt -> run_mapreduce_by_name("wordcount",
#: "wordcount") -> write_tsv(single_file=True), byte-compared to smallt_out.txt.
GOLDEN_JOB = "golden_wordcount"

TPCH_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")


@dataclass(frozen=True)
class Workload:
    mult: float
    tables: tuple
    jobs: tuple
    sinks: dict = field(default_factory=dict)

    @property
    def golden(self) -> bool:
        return GOLDEN_JOB in self.jobs


WORKLOADS = {
    "tpch": Workload(
        mult=0.5,
        tables=TPCH_TABLES,
        jobs=("agg_pricing", "price_index"),
    ),
    "dedup": Workload(
        mult=0.1,
        tables=("documents",),
        jobs=("dedup_ngram", "golden_record", "dedup_containment"),
    ),
    "graph": Workload(
        mult=0.02,
        tables=("orders", "lineitem"),
        jobs=("bfs_trade", "pagerank_trade"),
    ),
    "mapreduce": Workload(
        mult=0.2,
        tables=("documents",),
        jobs=("udf_roundtrip", "media_jpeg", GOLDEN_JOB),
        sinks={"udf_roundtrip": "tsv", "media_jpeg": "parquet", GOLDEN_JOB: "tsv"},
    ),
}
