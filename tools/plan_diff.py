#!/usr/bin/env python3
"""Diff two directories of `graft.PlanDump` output, query by query.

    python3 tools/plan_diff.py A_DIR B_DIR

`graft.PlanDump` writes one `<query>.txt` per query: the
`explain("formatted")` text of the frame the query returns (set its
output directory with SPARK_GRAFT_PLAN_DIR). Dump the same queries at
two commits, then run this on the two directories to check that a
change left the executed plans alone:

    SPARK_GRAFT_PLAN_DIR=/tmp/a sbt "Test/runMain graft.PlanDump q_x q_y"
    # ... check out the other commit ...
    SPARK_GRAFT_PLAN_DIR=/tmp/b sbt "Test/runMain graft.PlanDump q_x q_y"
    python3 tools/plan_diff.py /tmp/a /tmp/b

Before comparing, each dump is normalized so that only the plan
itself can differ:
  - expression ids (`name#123`, `#123L`) are renumbered in order of
    first appearance, so equal plans compare equal while a column
    that is wired to a different input still shows;
  - `plan_id=N` exchange ids become `plan_id=N`;
  - UUIDs (part files) become `<uuid>`, and graft's write-attempt
    directories (`data/v3-1a2b3c4d`) become `data/v3-<attempt>`;
  - JVM temp paths (`/tmp/spark-…`, `/tmp/<prefix><digits>`, as
    `Files.createTempDirectory` names them) become `<tmp>`.

Prints, per query, either "same" or the unified diff of the normalized
dumps; a query dumped on one side only is a difference. Exits 0 when
every query is the same, 1 on any difference, 2 on bad arguments.
"""
import difflib
import os
import re
import sys

UUID = re.compile(
    r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}")
ATTEMPT = re.compile(r"(/v\d+-)[0-9a-f]{8}(?=/)")
PLAN_ID = re.compile(r"plan_id=\d+")
TMP = re.compile(r"/tmp/(?:spark-[^/\s,\]]+|[A-Za-z_]+\d{6,})")
EXPR_ID = re.compile(r"#(\d+)")


def normalize(text):
    text = UUID.sub("<uuid>", text)
    text = ATTEMPT.sub(r"\1<attempt>", text)
    text = PLAN_ID.sub("plan_id=N", text)
    text = TMP.sub("<tmp>", text)
    ids = {}

    def renumber(m):
        return "#" + str(ids.setdefault(m.group(1), len(ids) + 1))

    return EXPR_ID.sub(renumber, text)


def dumps(d):
    return {n[:-4]: os.path.join(d, n)
            for n in os.listdir(d) if n.endswith(".txt")}


def main(argv):
    if len(argv) != 3 or not all(os.path.isdir(d) for d in argv[1:]):
        sys.stderr.write(__doc__)
        return 2
    a, b = dumps(argv[1]), dumps(argv[2])
    differ = 0
    for q in sorted(set(a) | set(b)):
        if q not in a or q not in b:
            print(f"{q}: only in {argv[1] if q in a else argv[2]}")
            differ += 1
            continue
        with open(a[q]) as fa, open(b[q]) as fb:
            la = normalize(fa.read()).splitlines()
            lb = normalize(fb.read()).splitlines()
        if la == lb:
            print(f"{q}: same")
            continue
        differ += 1
        print(f"{q}: DIFFERS")
        for line in difflib.unified_diff(la, lb, argv[1] + "/" + q,
                                         argv[2] + "/" + q, lineterm=""):
            print("  " + line)
    print(f"{differ} of {len(set(a) | set(b))} queries differ")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
