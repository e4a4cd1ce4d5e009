#!/usr/bin/env python3
"""Check that two builds register the same program for every query.

Usage: tools/same_program.py <before_dir> <after_dir>

Each dir holds the `oracle_sql.json` that `graft.Verify` writes and the
`<query>_<suffix>.txt` plan files that `PlanDump` writes (run PlanDump
with the Verify output dir as its out dir; the suffix may differ between
the two dirs). A query differs when
  - its oracle SQL or its plan is on one side only,
  - its oracle SQL differs after collapsing every whitespace run to one
    space, or
  - its formatted plan differs after masking what changes from run to run
    of the same program: expression ids (`#123`), exchange plan ids
    (`plan_id=123`), RDD ids and their call sites (`MapPartitionsRDD[12]
    at localCheckpoint at X.scala:345` — a moved line is the same
    program), JVM identities (`$Lambda$12/0x7f..@1a2b`, `[[D@1a2b3c`)
    and UUIDs.
Plans that Spark itself orders nondeterministically still differ between
two runs of one build: a multi-distinct aggregate orders its expanded
groups by hash (`text_distinct_exact`, `text_distinct_approx`,
`hilbert_curve_contract`), and `feed_components`' two checkpointed scans
swap codegen ids and Exchange arguments. Compare such a query against
repeated `before` runs.
Prints one line per differing query and exits 1 if there is any.
"""
import json
import os
import re
import sys

MASKS = [
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"RDD\[\d+\]"), "RDD[]"),
    (re.compile(r"\.scala:\d+"), ".scala:"),
    (re.compile(r"\$Lambda\$\d+/0x[0-9a-f]+"), "$Lambda"),
    (re.compile(r"(?<=[\w$;\]])@[0-9a-f]{4,8}\b"), "@"),
    (re.compile(r"[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-"
                r"[0-9a-fA-F]{4}-[0-9a-fA-F]{12}"), "<uuid>"),
]
PLAN_FILE = re.compile(r"^(.+)_[^_]+\.txt$")


def oracle_sql(d):
    with open(os.path.join(d, "oracle_sql.json")) as f:
        return {k: " ".join(v.split()) for k, v in json.load(f).items()}


def plans(d):
    out = {}
    for name in os.listdir(d):
        m = PLAN_FILE.match(name)
        if m:
            with open(os.path.join(d, name), encoding="utf-8") as f:
                plan = f.read()
                for pattern, mask in MASKS:
                    plan = pattern.sub(mask, plan)
                out[m.group(1)] = plan
    return out


def main(before, after):
    sql_a, sql_b = oracle_sql(before), oracle_sql(after)
    plan_a, plan_b = plans(before), plans(after)
    diffs = []
    names = set(sql_a) | set(sql_b) | set(plan_a) | set(plan_b)
    for q in sorted(names):
        if (q in sql_a) != (q in sql_b):
            diffs.append(f"{q}: oracle SQL only in "
                         f"{before if q in sql_a else after}")
        elif q in sql_a and sql_a[q] != sql_b[q]:
            diffs.append(f"{q}: oracle SQL differs")
        if (q in plan_a) != (q in plan_b):
            diffs.append(f"{q}: plan dumped only in "
                         f"{before if q in plan_a else after}")
        elif q in plan_a and plan_a[q] != plan_b[q]:
            diffs.append(f"{q}: plan differs")
    for line in diffs:
        print(line)
    n_plans = len(set(plan_a) & set(plan_b))
    print(f"{len(names)} queries, {n_plans} plans compared, "
          f"{len(diffs)} differences")
    return 1 if diffs else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
