"""scripts/dump_plans.py id normalizer: plans that differ only in
per-session expression, RDD and exchange ids compare equal after
normalizing."""

from __future__ import annotations

import importlib.util
import os

_HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _normalize():
    spec = importlib.util.spec_from_file_location(
        "dump_plans_under_test", os.path.join(_HERE, "scripts", "dump_plans.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.normalize_ids


_PLAN = """\
(1) Scan ExistingRDD
Output [2]: [media_id#{a}L, px#{b}]
Arguments: [media_id#{a}L, px#{b}], MapPartitionsRDD[{r}] at localCheckpoint at NativeMethodAccessorImpl.java:0, ExistingRDD, UnknownPartitioning(0)

(2) MapInPandas
Input [2]: [media_id#{a}L, px#{b}]
Arguments: build(media_id#{a}L, px#{b})#{c}, [media_id#{d}L, payload#{e}], false

(3) Exchange
Input [2]: [media_id#{d}L, payload#{e}]
Arguments: RoundRobinPartitioning(4), REPARTITION_BY_NUM, [plan_id={p}]
"""


def test_session_ids_are_renumbered_by_first_appearance():
    normalize = _normalize()
    one = _PLAN.format(a=154, b=155, c=160, d=161, e=162, r=39, p=194)
    two = _PLAN.format(a=17, b=3, c=88, d=9, e=1000, r=7, p=12)
    assert normalize(one) == normalize(two)
    out = normalize(one)
    assert "Output [2]: [media_id#1L, px#2]" in out
    assert "MapPartitionsRDD[1] at localCheckpoint" in out
    assert "build(media_id#1L, px#2)#3, [media_id#4L, payload#5]" in out
    assert "[plan_id=1]" in out


def test_rewiring_is_not_hidden():
    """Swapping which id feeds which column is a real plan change."""
    normalize = _normalize()
    one = _PLAN.format(a=1, b=2, c=3, d=4, e=5, r=6, p=7)
    rewired = one.replace("build(media_id#1L, px#2)", "build(media_id#2L, px#1)")
    assert normalize(one) != normalize(rewired)
