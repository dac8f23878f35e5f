"""Parsing of Spark SQL metric strings as the SQL status store formats them.

The strings below were recorded from ``executionMetrics`` on Spark 4.1
(``pricing_summary`` and ``minhash_lsh`` plans)."""

import pytest

from perfbench.statusstore import _interval_union, parse_metric

TOTAL = "total (min, med, max (stageId: taskId))\n"


@pytest.mark.parametrize(
    ("text", "kind", "expected"),
    [
        ("3,087", "sum", 3087.0),
        ("600,000", "sum", 600000.0),
        ("186 ms", "timing", 0.186),
        ("1.4 s", "timing", 1.4),
        ("2.0 m", "timing", 120.0),
        ("0 ms", "timing", 0.0),
        ("64.2 MiB", "size", 64.2 * 2**20),
        ("0.0 B", "size", 0.0),
        ("1027.9 KiB", "size", 1027.9 * 2**10),
        (TOTAL + "72.4 KiB (17.5 KiB, 17.8 KiB, 19.4 KiB (stage 17.0: task 33))", "size", 72.4 * 2**10),
        (TOTAL + "39 ms (1 ms, 16 ms, 17 ms (stage 17.0: task 33))", "nsTiming", 0.039),
        (TOTAL + "6.1 s (1.5 s, 1.5 s, 1.6 s (stage 7.0: task 7))", "timing", 6.1),
        (TOTAL + "3.7 s (910 ms, 924 ms, 929 ms (stage 7.0: task 8))", "timing", 3.7),
    ],
)
def test_parse_recorded_metric_strings(text, kind, expected):
    assert parse_metric(text, kind) == pytest.approx(expected)


@pytest.mark.parametrize(
    ("text", "kind"),
    [
        ("(min, med, max (stageId: taskId)):\n(1, 1, 1 (stage 17.0: task 35))", "average"),
        ("1", "average"),
        ("", "sum"),
        ("n/a", "timing"),
        ("12 parsecs", "size"),
    ],
)
def test_averages_and_unknown_strings_give_none(text, kind):
    assert parse_metric(text, kind) is None


def test_interval_union_counts_overlap_once():
    assert _interval_union([]) == 0.0
    assert _interval_union([(0.0, 1.0), (0.5, 2.0), (3.0, 4.0)]) == pytest.approx(3.0)
    assert _interval_union([(0.0, 5.0), (1.0, 2.0)]) == pytest.approx(5.0)
