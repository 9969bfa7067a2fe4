"""One-pass reject accounting: go() and the file sinks count every reject
step in the pass that produces the kept rows, and agree exactly with
counting each lazy reject branch by its own scan."""

from __future__ import annotations

import itertools

from pyspark.sql import functions as F

from conftest import plan_of
from gratum_spark import sources

_groups = itertools.count()


def branch_counts(p):
    """(loaded, rejections) by scanning the kept plan and every reject
    branch separately — the reference the accounted pass must match."""
    rejections: dict[str, dict[str, int]] = {}
    rej = p.rejections_df()
    if rej is not None:
        for r in rej.groupBy("rejectionCategory", "rejectionStep").count().collect():
            rejections.setdefault(r[0], {})[r[1]] = r[2]
    return p.df.count(), rejections


def counts(stat):
    return stat.loaded, stat.rejections


def jobs_of(spark, fn):
    """(fn(), number of Spark jobs fn launched)."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    group = f"reject-accounting-{next(_groups)}"
    bus.waitUntilEmpty(60_000)
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    bus.waitUntilEmpty(60_000)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _people_csv(path, n):
    with open(path, "w") as f:
        f.write("id,s,age\n")
        for i in range(n):
            age = "x" if i % 97 == 0 else str(i % 80)
            f.write(f"{i % (n - n // 20)},{'b' if i % 3 == 0 else 'a'},{age}\n")
    return str(path)


def test_go_after_save_launches_no_job(spark, tmp_path):
    csv = _people_csv(tmp_path / "people.csv", 3000)
    p = (
        sources.csv(spark, csv, name="people")
        .filter({"s": "a"}, name="status")
        .as_int("age")
        .unique("id")
    )
    expected = branch_counts(p)
    assert set(expected[1]) == {"IGNORE_ROW", "INVALID_FORMAT"}
    saved, save_jobs = jobs_of(spark, lambda: p.save(str(tmp_path / "out")))
    assert save_jobs > 0  # the job probe sees the write's jobs
    stat, go_jobs = jobs_of(spark, saved.go)
    assert go_jobs == 0
    assert counts(stat) == expected
    # go() on its own: one pass, same counts
    assert counts(p.go()) == expected


def test_accounting_leaves_pipeline_plan_alone(spark, tmp_path):
    # the Observations live only in the plan an action runs: p.df keeps
    # no CollectMetrics node, which would block filter pushdown
    csv = _people_csv(tmp_path / "people.csv", 500)
    p = sources.csv(spark, csv, name="people").filter({"s": "a"}).as_int("age")
    before = plan_of(p.df)
    p.save(str(tmp_path / "out")).go()
    p.go()
    assert plan_of(p.df) == before
    assert "CollectMetrics" not in before


def test_halting_limit_counts_every_reject(spark, tmp_path):
    # a halting limit stops upstream tasks early, so a reject step before
    # it must not be counted on the kept path: 200k rows in many splits
    csv = _people_csv(tmp_path / "big.csv", 200_000)
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(64 * 1024))
        assert spark.read.csv(csv).rdd.getNumPartitions() > 20
        p = sources.csv(spark, csv, name="big").filter({"s": "a"}, name="s").limit(5, halt=True)
        stat = p.save(str(tmp_path / "out")).go()
        assert stat.loaded == 5
        assert stat.rejections == {"IGNORE_ROW": {"s": 66_667}}
        assert p.go().rejections == {"IGNORE_ROW": {"s": 66_667}}
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_reject_upstream_of_runtime_empty_join(spark, tmp_path):
    # AQE prunes the join's left input once it finds the right side
    # empty at runtime; the reject steps there still count every row
    csv = _people_csv(tmp_path / "people.csv", 2000)
    right = sources.csv(spark, csv, name="r").filter({"s": "none"}).clip("id")
    p = (
        sources.csv(spark, csv, name="people")
        .filter({"s": "a"}, name="status")
        .as_int("age")
        .join(right, on="id")
        .as_int("id")
    )
    expected = branch_counts(p)
    assert expected[0] == 0
    assert sum(n for by_step in expected[1].values() for n in by_step.values()) == 2000
    assert counts(p.go()) == expected
    assert counts(p.save(str(tmp_path / "out")).go()) == expected


def test_observation_pruned_at_runtime_falls_back_to_scan(spark, tmp_path):
    # every row rejects before an aggregate: AQE drops the empty input
    # stage and its Observation reports nothing, so the step's reject
    # branch is scanned instead
    csv = _people_csv(tmp_path / "people.csv", 2000)
    p = (
        sources.csv(spark, csv, name="people")
        .filter({"s": "none"}, name="nothing")
        .as_int("age")
        .group_by("s")
        .agg(n=F.count("*"))
    )
    expected = branch_counts(p)
    assert expected == (0, {"IGNORE_ROW": {"nothing": 2000}})
    assert counts(p.go()) == expected
    assert counts(p.save(str(tmp_path / "out")).go()) == expected


def test_closure_step_runs_once_per_row(spark, tmp_path):
    # kept rows and rejects come out of one evaluation of the closure
    calls = spark.sparkContext.accumulator(0)

    def step(r):
        calls.add(1)
        return None if r["v"] % 4 == 0 else r

    rows = [{"v": i} for i in range(400)]
    p = sources.from_collection(spark, rows, name="c").add_step("quarter", step, schema="v long")
    stat = p.save(str(tmp_path / "out")).go()
    assert stat.loaded == 300
    assert stat.rejections == {"REJECTION": {"quarter": 100}}
    assert calls.value == 400
    assert "quarter" in stat.step_timings
