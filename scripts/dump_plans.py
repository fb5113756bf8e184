#!/usr/bin/env python
"""Dump `.explain("formatted")` for registry queries to text files.

Used for the committed `plans/r<N>/<query>_{before,after}.txt` evidence:
run once against the current tree for "after", and once with PLAN_REPO
pointing at a git worktree of the pre-round commit for "before".

  PLAN_OUT=plans/r15 PLAN_SUFFIX=_after python scripts/dump_plans.py q1 q2 ...
  PLAN_REPO=/tmp/r14tree PLAN_OUT=plans/r15 PLAN_SUFFIX=_before \
      python scripts/dump_plans.py q1 q2 ...

SPARK_GRAFT_SF_DIR picks the data (default /root/testdata/sf0.1) so the
plan (AQE initial plan, join strategies from estimates) matches what the
bench executes.

Expression ids (``#123``/``#123L``), RDD ids (``MapPartitionsRDD[39]``)
and exchange ``plan_id``s are allocated per JVM session, so the written
plans renumber them in order of first appearance (:func:`normalize_ids`).
Two trees whose plans differ only in those ids then compare equal under
a plain ``diff -r``.
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

REPO = os.environ.get(
    "PLAN_REPO", os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT = os.environ.get("PLAN_OUT", "plans/out")
SUFFIX = os.environ.get("PLAN_SUFFIX", "")

# (pattern with the id as group 1, placeholder format); one namespace each
_ID_PATTERNS = (
    (re.compile(r"#(\d+)"), "#{}"),  # expression ids; an L suffix stays
    (re.compile(r"(?<=RDD)\[(\d+)\]"), "[{}]"),  # not counts like Output [4]
    (re.compile(r"(?<=\[plan_id=)(\d+)"), "{}"),  # exchange ids
)


def normalize_ids(plan: str) -> str:
    """Renumber expression, RDD and plan ids in order of first appearance.

    Each namespace gets its own one-to-one mapping, so plans that differ
    in wiring still differ after renumbering."""
    for pattern, fmt in _ID_PATTERNS:
        seen: dict[str, int] = {}
        plan = pattern.sub(
            lambda m: fmt.format(seen.setdefault(m.group(1), len(seen) + 1)),
            plan,
        )
    return plan


def main() -> None:
    names = sys.argv[1:]
    if not names:
        print("usage: dump_plans.py <query> [<query> ...]", file=sys.stderr)
        sys.exit(2)
    os.makedirs(OUT, exist_ok=True)

    from network_iq_spark.registry import QUERIES  # noqa: E402 — after path pin
    from network_iq_spark.session import get_spark  # noqa: E402

    spark = get_spark(app_name="dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        spark.sparkContext.setJobDescription(f"plan: {name}")
        df = QUERIES[name](spark, SF_DIR)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(OUT, f"{name}{SUFFIX}.txt")
        with open(path, "w") as fh:
            fh.write(normalize_ids(buf.getvalue()))
        print(f"{path}: {len(buf.getvalue())} bytes", flush=True)


if __name__ == "__main__":
    main()
