"""The perfbench workloads: what one timed iteration runs, and how
its outputs are checked outside the timed region.

An operation is one pipeline ``go()`` or one catalog query. ``run``
returns the operations of one iteration; ``check`` returns a list of
problems per operation, empty when its output matches the reference.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field

CATALOG = {
    "corpus_curation": ("pipeline_curation", "dedup_minhash_verified", "pipeline_pretraining"),
}
# The spans each workload opens in a traced run. A per-layer metric of a
# layer that a workload never calls is reported as 0 for it; every other
# per-layer metric must be measured.
SPANS = {
    "etl_csv": ("sources.build", "pipeline.build", "sinks.save", "pipeline.go"),
    "corpus_curation": ("plans.build", "sources.build", "plans.exec"),
}


@dataclass
class Op:
    name: str
    result: object
    out_dir: str | None = None
    expected: dict = field(default_factory=dict)


def oracle_sql(workload: str) -> dict[str, str]:
    """The DuckDB oracle SQL of each catalog query of ``workload``; the
    ETL workloads' references come from gen.py."""
    if workload not in CATALOG:
        return {}
    from gratum_spark.plans.queries import QUERIES

    return {q: QUERIES[q][1] for q in CATALOG[workload]}


def _etl(spark, tr, meta: dict, out_dir: str) -> Op:
    from pyspark.sql import functions as F

    from gratum_spark import sources

    from perfbench.gen import DATE_FORMATS, STATUS_KEPT

    with tr.span("sources.build"):
        p = sources.csv(spark, meta["csv"], name="people")
    with tr.span("pipeline.build"):
        p = (
            p.trim()
            .filter({"status": list(STATUS_KEPT)}, name="status")
            .as_int("age")
            .as_double("score")
            .as_date("signup", *DATE_FORMATS)
            .add_field("age_band", (F.col("age") / 10).cast("long"))
            .unique("id")
        )
    with tr.span("sinks.save"):
        saved = p.save(out_dir)
    with tr.span("pipeline.go"):
        stat = saved.go()
    return Op("people", stat, out_dir, meta["expected"])


def run(workload: str, spark, inputs: str, meta: dict, scratch: str, tr) -> list[Op]:
    if workload in CATALOG:
        from gratum_spark.plans import queries

        table = queries.table

        def traced_table(*args):
            with tr.span("sources.build"):
                return table(*args)

        # the catalog reads its inputs through queries.table; wrap it so
        # source builds show as child spans of plans.build
        if tr.active:
            queries.table = traced_table
        try:
            ops = []
            for q in CATALOG[workload]:
                with tr.span("plans.build"):
                    df = queries.QUERIES[q][0](spark, inputs)
                with tr.span("plans.exec"):
                    ops.append(Op(q, df.toPandas()))
            return ops
        finally:
            queries.table = table
    return [_etl(spark, tr, meta, os.path.join(scratch, "out"))]


def output_files(out_dir: str) -> list[str]:
    return sorted(
        os.path.join(out_dir, f) for f in os.listdir(out_dir)
        if f.startswith("part-") and f.endswith(".csv")
    )


def check(workload: str, op: Op, inputs: str) -> list[str]:
    if workload in CATALOG:
        from tools.check_correctness import compare

        from perfbench.gen import oracle_frame

        return compare(op.name, op.result, oracle_frame(inputs, op.name))
    stat, exp = op.result, op.expected
    problems = []
    if stat.loaded != exp["loaded"]:
        problems.append(f"loaded: spark={stat.loaded} expected={exp['loaded']}")
    if stat.rejections != exp["rejections"]:
        problems.append(f"rejections: spark={stat.rejections} expected={exp['rejections']}")
    rows = 0
    for path in output_files(op.out_dir):
        with open(path) as f:
            rows += max(sum(1 for _ in f) - 1, 0)  # minus the header line
    if rows != exp["loaded"]:
        problems.append(f"output rows: file={rows} expected={exp['loaded']}")
    return problems


def output_size(op: Op) -> tuple[int, int]:
    """(files, bytes) the sink wrote for an ETL operation."""
    files = output_files(op.out_dir)
    return len(files), sum(os.path.getsize(f) for f in files)


def clear(scratch: str) -> None:
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch, exist_ok=True)
