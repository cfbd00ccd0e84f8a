"""Tests of the benchmark itself: `python3 -m pytest perfbench -q` from the
root of a checkout."""

from __future__ import annotations

import datetime

import pandas as pd
import pytest

import checks
import gen
import report
from eventlog import read_events, rollup


def test_generators_repeat_for_a_seed_and_differ_across_seeds():
    a, b, c = (gen.person_records(s, 300) for s in (1, 1, 2))
    pd.testing.assert_frame_equal(a, b)
    assert not a.equals(c)
    assert a["dob"].map(type).eq(datetime.date).all()
    d1, d2, d3 = (gen.documents(s, 50) for s in (1, 1, 2))
    pd.testing.assert_frame_equal(d1, d2)
    assert not d1.equals(d3)
    assert (d1["doc_id"].diff().dropna() == 1).all()
    assert len(gen.documents(1, None)) == 5000
    r1, r2 = (gen.new_person_requests(1, a, 3, 5) for _ in range(2))
    for x, y in zip(r1, r2):
        pd.testing.assert_frame_equal(x, y)
    assert gen.record_pairs(1, a, 20) == gen.record_pairs(1, a, 20)
    assert gen.record_pairs(1, a, 20) != gen.record_pairs(2, a, 20)


def test_record_pairs_have_the_same_kind_mix_for_every_seed():
    people = gen.person_records(1, 300)
    cols = ("first_name", "surname", "dob", "email", "city")
    for seed in (1, 2):
        pairs = gen.record_pairs(seed, people, 56)
        edited = [(a, b) for k, (a, b) in enumerate(pairs) if k % 4 != 3]
        for n, (a, b) in enumerate(edited):
            kind = gen._EDITS[n % len(gen._EDITS)]
            changed = {c for c in cols if a[c] != b[c]}
            # a null edit of a value that is already null changes nothing
            assert changed <= {kind.rsplit("_", 1)[0]}
            assert b["unique_id"].startswith("p")
            if kind in ("first_name_typo", "surname_typo"):
                assert changed == {kind.rsplit("_", 1)[0]}


@pytest.mark.parametrize("n, expected", [
    (39, None),            # p75 would leave only 9 beyond
    (40, (75.0, 30)),      # nearest rank 30, 10 beyond
    (100, (90.0, 90)),
    (1000, (99.0, 990)),   # p99.9 would leave 1 beyond
    (10_000, (99.9, 9990)),
])
def test_tail_is_highest_percentile_with_ten_samples_beyond(n, expected):
    values = [float(v) for v in range(n, 0, -1)]  # unsorted input
    assert report.tail(values) == (None if expected is None
                                   else (expected[0], float(expected[1])))


@pytest.fixture(scope="module")
def traced_session(tmp_path_factory):
    from pyspark.sql import SparkSession

    events = tmp_path_factory.mktemp("events")
    spark = (SparkSession.builder.master("local[2]")
             .config("spark.ui.enabled", "false")
             .config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", str(events))
             .config("spark.eventLog.compress", "false")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .getOrCreate())
    yield spark, str(events)
    spark.stop()


def test_rollup_attributes_tasks_to_their_job_group(traced_session):
    from pyspark.sql import functions as F

    spark, events = traced_session
    sc = spark.sparkContext

    @F.pandas_udf("long")
    def plus_one(s: pd.Series) -> pd.Series:
        return s + 1

    sc.setJobGroup("jvm", "jvm")
    assert sc.parallelize(range(10), 3).count() == 10
    sc.setJobGroup("python", "python")
    assert spark.range(10).repartition(2).select(
        F.sum(plus_one("id"))).collect()[0][0] == 55
    sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.parallelize(range(10), 5).count() == 10  # in no group
    spark.stop()

    rows = rollup(read_events(events), {"jvm": 2.0, "python": 1.0}, 2)
    assert rows["jvm"]["jobs"] == 1 and rows["jvm"]["tasks"] == 3
    assert rows["jvm"]["python_bytes"] == 0
    assert rows["python"]["jobs"] >= 1
    assert rows["python"]["python_bytes"] > 0
    assert rows["jvm"]["busy_frac"] == pytest.approx(
        rows["jvm"]["run_s"] / (2.0 * 2))


def _people():
    from workloads import person_settings

    return person_settings(), gen.person_records(3, 400)


def test_histogram_check_fails_on_corrupted_output():
    settings, people = _people()
    hist = checks.oracle_histogram(settings, people)
    assert sum(hist.values()) > 0
    assert checks.compare_histograms("predict", hist, dict(hist)) == []
    pattern = next(iter(hist))
    moved = dict(hist)
    moved[pattern] -= 1
    moved[(0,) * len(pattern)] = moved.get((0,) * len(pattern), 0) + 1
    assert checks.compare_histograms("predict", hist, moved)
    dropped = dict(hist)
    dropped[pattern] -= 1
    assert checks.compare_histograms("predict", hist, dropped)


def test_cluster_check_fails_on_corrupted_output():
    edges = [("a", "b"), ("b", "c"), ("d", "e")]
    good = {"a": 1, "b": 1, "c": 1, "d": 2, "e": 2, "f": 3}
    assert checks.check_clusters(good, edges) == []
    merged = dict(good, f=2)
    assert checks.check_clusters(merged, edges)
    swapped = dict(good, c=2, d=1)
    assert checks.check_clusters(swapped, edges)


def test_pairwise_f1():
    truth = {"a": 1, "b": 1, "c": 2}
    assert checks.pairwise_f1({"a": 7, "b": 7, "c": 8}, truth) == 1.0
    assert checks.pairwise_f1({"a": 7, "b": 7, "c": 7}, truth) == 0.5
