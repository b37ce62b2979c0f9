"""The status-store capture helper on tiny frames."""

from __future__ import annotations

import pytest

from capture import WINDOW_KEYS, StatusCapture, parse_duration_s
from harness import _covered, tail


def _call(cap, build, force):
    j0 = cap.mark()
    obj = build()
    j1 = cap.mark()
    force(obj)
    return cap.window(j0, j1, cap.mark())


def test_window_schema(spark):
    cap = StatusCapture(spark)
    w = _call(cap, lambda: spark.range(100), lambda df: df.count())
    assert tuple(w) == WINDOW_KEYS
    for key in ("jobs", "eager_jobs", "stages", "tasks"):
        assert isinstance(w[key], int)
    for key in ("exec_run_s", "exec_cpu_s", "shuffle_mb", "pyworker_s"):
        assert isinstance(w[key], float) and w[key] >= 0.0
    assert w["jobs"] == len(w["job_spans"]) >= 1
    for span in w["job_spans"]:
        assert set(span) == {"job_id", "start", "end", "status"}
        assert span["start"] <= span["end"]


def test_plain_count_has_no_eager_jobs(spark):
    cap = StatusCapture(spark)
    w = _call(cap, lambda: spark.range(1000).filter("id % 3 = 0"), lambda df: df.count())
    assert w["eager_jobs"] == 0
    assert w["jobs"] >= 1 and w["tasks"] >= 1
    assert w["pyworker_s"] == 0.0


def test_eager_build_is_counted(spark):
    cap = StatusCapture(spark)

    def build():
        df = spark.range(50)
        df.count()  # a job inside the call that returns the frame
        return df

    w = _call(cap, build, lambda df: df.collect())
    assert w["eager_jobs"] >= 1
    assert w["jobs"] > w["eager_jobs"]


def test_map_in_arrow_reports_python_worker_time(spark):
    def slow(batches):
        import time

        for b in batches:
            time.sleep(0.05)
            yield b

    cap = StatusCapture(spark)
    w = _call(
        cap,
        lambda: spark.range(0, 4000, numPartitions=2).mapInArrow(slow, "id long"),
        lambda df: df.count(),
    )
    assert w["pyworker_s"] > 0.0


def test_stage_counted_once_per_capture(spark):
    cap = StatusCapture(spark)
    df = spark.range(200).selectExpr("id % 7 AS k").groupBy("k").count()
    first = _call(cap, lambda: df, lambda d: d.collect())
    again = _call(cap, lambda: df, lambda d: d.collect())
    assert first["stages"] >= 1
    # the second action reuses (skips) the shuffle-map stage of the first
    assert again["stages"] <= first["stages"]


def test_cache_entries(spark):
    cap = StatusCapture(spark)
    before = cap.cache_entries()
    df = spark.range(10).cache()
    df.count()
    added = cap.cache_entries() - before
    assert len(added) == 1
    df.unpersist()
    assert cap.cache_entries() == before


@pytest.mark.parametrize(
    "text, seconds",
    [
        ("12 ms", 0.012),
        ("0 ms", 0.0),
        ("total (min, med, max (stageId: taskId))\n9.7 s (2.4 s, 2.4 s, 2.5 s (stage 0.0: task 0))", 9.7),
        ("total (min, med, max (stageId: taskId))\n1.5 m (20.0 s, 30.0 s, 40.0 s (stage 3.0: task 9))", 90.0),
        ("1,234 ms", 1.234),
    ],
)
def test_parse_duration(text, seconds):
    assert parse_duration_s(text) == pytest.approx(seconds)


def test_parse_duration_rejects_other_metrics():
    with pytest.raises(ValueError):
        parse_duration_s("783.3 KiB")


def test_tail_percentile():
    values = [float(i) for i in range(1, 41)]
    v, pct = tail(values)
    assert (v, pct) == (30.0, 75.0)  # ten samples lie above 30
    assert tail([1.0, 2.0, 3.0]) == (3.0, 100.0)


def test_covered_union():
    assert _covered([(0, 2), (1, 3), (5, 6)], 0, 10) == pytest.approx(4.0)
    assert _covered([(0, 2)], 1, 1.5) == pytest.approx(0.5)
    assert _covered([], 0, 1) == 0.0
