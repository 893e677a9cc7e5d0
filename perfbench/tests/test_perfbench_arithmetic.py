"""Unit tests for the benchmark's own arithmetic (no Spark session).

    python -m pytest perfbench/tests -q
"""

import datetime
import decimal
import math

import pyarrow as pa
import pytest

from perfbench.digest import table_digest
from perfbench.layers import (
    Span,
    count_exchanges,
    interval_union,
    parse_phases,
    parse_sql_metric,
    self_times,
)


@pytest.mark.parametrize(
    "text, value",
    [
        ("2.3 MiB", 2.3 * 1024**2),
        ("0.0 B", 0.0),
        ("1991.5 KiB", 1991.5 * 1024),
        ("1.2 s", 1.2),
        ("670 ms", 0.670),
        ("1.5 m", 90.0),
        ("0.25 h", 900.0),
        ("400,000", 400_000.0),
        ("7", 7.0),
        (
            "total (min, med, max (stageId: taskId))\n"
            "1.3 s (286 ms, 323 ms, 334 ms (stage 12.0: task 23))",
            1.3,
        ),
        (
            "total (min, med, max (stageId: taskId))\n"
            "9.2 MiB (2.3 MiB, 2.3 MiB, 2.3 MiB (stage 12.0: task 22))",
            9.2 * 1024**2,
        ),
        (
            "total (min, med, max (stageId: taskId))\n"
            "2.1 MiB (1060.4 KiB, 1060.4 KiB, 1060.4 KiB (driver))",
            2.1 * 1024**2,
        ),
    ],
)
def test_parse_sql_metric(text, value):
    assert math.isclose(parse_sql_metric(text), value, rel_tol=1e-12)


@pytest.mark.parametrize(
    "text",
    [
        "(min, med, max (stageId: taskId)):\n(1.2, 1.2, 1.2 (stage 12.0: task 22))",
        "3 parsecs",
        "",
    ],
)
def test_parse_sql_metric_rejects_non_totals(text):
    with pytest.raises(ValueError):
        parse_sql_metric(text)


def test_interval_union_counts_overlap_once():
    assert interval_union([(0, 2), (1, 3), (5, 6)]) == 4
    assert interval_union([(5, 6), (0, 2), (1, 3)]) == 4
    assert interval_union([(0, 10), (2, 3)]) == 10
    assert interval_union([]) == 0


def test_interval_union_touching_and_empty_intervals():
    assert interval_union([(0, 1), (1, 2)]) == 2
    assert interval_union([(1, 1), (2, 1)]) == 0


def test_interval_union_clips_to_window():
    # a job that started before the query window or ended after it
    assert interval_union([(-1, 2), (8, 12)], 0, 10) == 4
    assert interval_union([(11, 12)], 0, 10) == 0


def test_driver_self_time_plus_job_time_is_wall():
    q_start, q_end = 100.0, 110.0
    jobs = [(101.0, 104.0), (103.0, 105.0), (108.0, 112.0)]
    active = interval_union(jobs, q_start, q_end)
    self_s = (q_end - q_start) - active
    assert active == 6.0
    assert self_s == 4.0
    assert self_s + active == q_end - q_start


def test_span_self_time():
    spans = [
        Span("query", 0.0, 10.0),
        Span("build", 0.0, 4.0, 0),
        Span("exec", 4.0, 10.0, 0),
        Span("job 1", 1.0, 2.0, 1),
        Span("job 2", 5.0, 9.0, 2),
        Span("job 3", 8.0, 11.0, 2),  # runs past its parent's end
    ]
    assert self_times(spans) == [0.0, 3.0, 1.0, 1.0, 4.0, 3.0]


def test_span_self_time_ignores_grandchildren():
    spans = [Span("pass", 0.0, 10.0), Span("query", 2.0, 6.0, 0), Span("job", 0.0, 10.0, 1)]
    assert self_times(spans)[0] == 6.0


def test_parse_phases():
    text = (
        "planning -> PhaseSummary(1792220916611, 1792220916716) | "
        "optimization -> PhaseSummary(1792220916215, 1792220916573) | "
        "analysis -> PhaseSummary(1792220916214, 1792220916214)"
    )
    phases = parse_phases(text)
    assert set(phases) == {"planning", "optimization", "analysis"}
    start, end = phases["planning"]
    assert math.isclose(end - start, 0.105, abs_tol=1e-6)
    assert phases["analysis"][0] == phases["analysis"][1] == 1792220916.214
    assert parse_phases("") == {}


_AQE_PLAN = """== Physical Plan ==
OverwriteByExpression (12)
+- AdaptiveSparkPlan (11)
   +- == Final Plan ==
      ResultQueryStage (8), Statistics(sizeInBytes=8.0 EiB)
      +- * SortMergeJoin Inner (7)
         :- ShuffleQueryStage (5), Statistics(sizeInBytes=9.2 MiB)
         :  +- Exchange (4)
         :     +- * Range (1)
         +- BroadcastQueryStage (6)
            +- BroadcastExchange (3)
               +- ReusedExchange (2)
   +- == Initial Plan ==
      SortMergeJoin (10)
      :- Exchange (9)
      +- Exchange (13)


(1) Range [codegen id : 1]
Output [1]: [id#12L]
(4) Exchange
Arguments: hashpartitioning(k#13L, 4), ENSURE_REQUIREMENTS, [plan_id=96]
"""


def test_count_exchanges_final_plan_only():
    assert count_exchanges(_AQE_PLAN) == 2


def test_count_exchanges_non_adaptive_plan():
    plan = "== Physical Plan ==\n* HashAggregate (3)\n+- Exchange (2)\n   +- * Range (1)\n\n\n(2) Exchange\n"
    assert count_exchanges(plan) == 1


def _table(**cols):
    return pa.table(cols)


def test_digest_is_order_insensitive():
    base = table_digest(_table(b=[1.0, 0.0], a=["x", "y"]))
    assert table_digest(_table(b=[0.0, 1.0], a=["y", "x"])) == base
    assert table_digest(_table(a=["x", "y"], b=[1.0, 0.0])) == base


def test_digest_fails_on_a_wrong_row():
    base = table_digest(_table(b=[1.0, 0.0], a=["x", "y"]))
    assert table_digest(_table(b=[1.0, -0.0], a=["x", "y"])) != base  # signed zero
    assert table_digest(_table(b=[1.0, 0.0], a=["x", "z"])) != base
    assert table_digest(_table(b=[1.0, None], a=["x", "y"])) != base  # null vs 0.0
    assert table_digest(_table(b=[1.0], a=["x"])) != base
    assert table_digest(_table(b=[1.0, 0.0, 0.0], a=["x", "y", "y"])) != base  # duplicate
    assert table_digest(_table(b=[1, 0], a=["x", "y"])) != base  # long vs double
    # swapping values between rows keeps every column's multiset
    assert table_digest(_table(b=[0.0, 1.0], a=["x", "y"])) != base


def test_digest_hashes_times_and_decimals_exactly():
    ts = pa.array([datetime.datetime(2020, 1, 1), None], pa.timestamp("us", tz="UTC"))
    later = pa.array([datetime.datetime(2020, 1, 1, 0, 0, 0, 1), None], pa.timestamp("us", tz="UTC"))
    assert table_digest(_table(t=ts)) != table_digest(_table(t=later))
    dec = pa.array([decimal.Decimal("1.10"), decimal.Decimal("2.00")], pa.decimal128(5, 2))
    dec2 = pa.array([decimal.Decimal("1.10"), decimal.Decimal("2.01")], pa.decimal128(5, 2))
    assert table_digest(_table(d=dec)) != table_digest(_table(d=dec2))
