from __future__ import annotations

from perfbench.run import STEAL_LIMIT, median_of
from perfbench.workloads import Op


def op(seconds: float, steal: float, kind: str = "moments", traced: bool = False) -> Op:
    return Op(kind, seconds, traced, steal_frac=steal)


def test_median_leaves_out_ops_with_steal():
    ops = [op(2.0, 0.0), op(2.2, 0.005), op(5.0, 0.1), op(2.4, STEAL_LIMIT), op(9.0, 0.0, traced=True)]
    assert median_of(ops, "moments", False) == 2.2


def test_median_falls_back_to_every_op_when_none_is_quiet():
    ops = [op(4.0, 0.05), op(6.0, 0.2), op(5.0, 0.1)]
    assert median_of(ops, "moments", False) == 5.0
