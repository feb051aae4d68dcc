#!/usr/bin/env python3
"""Diff captured per-round loop plans against a reference set.

`graft.core.PlanTrace` writes `<tag>_r<n>.txt` (formatted physical plan)
for the first two rounds of every loop when SPARK_GRAFT_PLAN_TRACE names
a directory. A loop refactor is behaviour-neutral when those plans match
the reference captures operator for operator. Capture, then compare:

  SPARK_GRAFT_PLAN_TRACE=/tmp/rounds sbt "runMain graft.tools.PlanAudit \
      graph_pagerank graph_ppr graph_pagerank_weighted graph_hits \
      graph_feature_prop graph_walks"
  python3 tools/round_plans.py /tmp/rounds [plans/r14/rounds]

Every file in the capture directory is compared with the reference file
of the same name. Ignored: plan node ids, expression ids (`#123`),
`Statistics(...)` annotations, `plan_id`s, RDD ids and source call sites
(`GraphAnalytics.scala:151`). Every remaining difference is printed as a
unified diff. Exit status 1 when any file differs or has no reference.
"""
import difflib
import os
import re
import sys

RULES = [
    (re.compile(r", Statistics\([^)]*\)"), ""),
    (re.compile(r"^\(\d+\) ", re.M), "(N) "),
    (re.compile(r" \(\d+\)(?=,|$)", re.M), " (N)"),
    (re.compile(r"(operator id:? =?) ?\d+"), r"\1 N"),
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"\w+\.scala:\d+"), "<callsite>"),
]


def normalize(text: str) -> list:
    for pat, rep in RULES:
        text = pat.sub(rep, text)
    return text.splitlines()


def main() -> int:
    if len(sys.argv) not in (2, 3):
        sys.exit(__doc__)
    captured = sys.argv[1]
    reference = sys.argv[2] if len(sys.argv) == 3 else "plans/r14/rounds"
    names = sorted(f for f in os.listdir(captured) if f.endswith(".txt"))
    if not names:
        sys.exit(f"no captured plans in {captured}")
    differing = 0
    for name in names:
        ref = os.path.join(reference, name)
        if not os.path.exists(ref):
            print(f"NO REFERENCE {name}")
            differing += 1
            continue
        with open(ref) as f:
            want = normalize(f.read())
        with open(os.path.join(captured, name)) as f:
            got = normalize(f.read())
        if want == got:
            print(f"SAME {name}")
            continue
        differing += 1
        print(f"DIFF {name}")
        sys.stdout.writelines(line + "\n" for line in difflib.unified_diff(
            want, got, f"{reference}/{name}", f"{captured}/{name}",
            n=2, lineterm=""))
    print(f"{len(names) - differing}/{len(names)} round plans identical")
    return 1 if differing else 0


if __name__ == "__main__":
    sys.exit(main())
