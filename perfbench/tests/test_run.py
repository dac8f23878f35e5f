from perfbench.run import _steal_share, slowest_op


def test_slowest_op_is_the_highest_median():
    assert slowest_op({"a": 0.5, "b": 2.0, "c": 1.0}) == ("b", 2.0)


def test_steal_share_from_two_proc_stat_readings():
    before = [100, 0, 10, 880, 0, 0, 0, 10, 0, 0]
    after = [150, 0, 20, 900, 0, 0, 0, 30, 0, 0]
    assert _steal_share(before, after) == 0.2
    assert _steal_share([], after) is None
