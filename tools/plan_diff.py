"""Diff two `graft.Explain` dumps query by query.

Usage: python3 tools/plan_diff.py <explain_a.txt> <explain_b.txt> [--initial]

Each dump is the stdout of `sbt "runMain graft.Explain"` (one
`===== <query> =====` header per query). Before comparing, the ids that
change from run to run are normalized: expression ids (`#123`), plan,
subquery, codegen and query-stage ids, RDD ids, source line numbers in
RDD call sites, lambda class names and object hash codes, temp paths and
UUIDs. With `--initial` only the static `== Initial Plan ==` operator
trees are compared; they skip AQE's runtime choices (join strategy,
build side, partition coalescing), which differ between two runs of the
same tree.

Prints one line with counts, then a unified diff per differing query.
"""
import difflib
import re
import sys

SUBS = [
    (r"#\d+L?", "#N"),
    (r"plan_id=\d+", "plan_id=N"),
    (r"id=#?\d+", "id=N"),
    (r"\b[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}\b", "UUID"),
    (r"/tmp/[^\s,\])]*", "/tmp/X"),
    (r"RDD\[\d+\]", "RDD[N]"),
    (r"\.scala:\d+", ".scala:L"),
    (r"Lambda\$\d+/0x[0-9a-f]+@[0-9a-f]+", "Lambda"),
    (r"@[0-9a-f]{5,}\b", "@H"),
    (r"codegen id : \d+", "codegen id : N"),
    (r"\*\(\d+\)", "*(N)"),
    (r"^Arguments: \d+$", "Arguments: N"),
    (r"(QueryStage|ReusedExchange) \d+", r"\1 N"),
]


def load(path):
    plans, cur = {}, None
    for line in open(path, errors="replace"):
        m = re.match(r"^===== (\S+) =====$", line.strip())
        if m and m.group(1) != "Subqueries":
            cur = m.group(1)
            plans[cur] = []
            continue
        if cur is None or re.match(r"^\d\d/\d\d/\d\d \d\d:\d\d:\d\d ", line):
            continue
        text = line.rstrip("\n")
        for pat, rep in SUBS:
            text = re.sub(pat, rep, text)
        plans[cur].append(text)
    return plans


def initial_trees(lines):
    trees, cur = [], None
    for line in lines:
        if line.strip().startswith("+- == Initial Plan =="):
            cur = []
        elif cur is not None:
            if not line.strip():
                trees.append(cur)
                cur = None
            else:
                cur.append(re.sub(r"\(\d+\)", "", line).strip())
    return [line for tree in trees for line in tree]


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    a, b = load(args[0]), load(args[1])
    if "--initial" in sys.argv:
        a = {q: initial_trees(v) for q, v in a.items()}
        b = {q: initial_trees(v) for q, v in b.items()}
    differing = [q for q in sorted(set(a) | set(b)) if a.get(q) != b.get(q)]
    print(f"queries: {len(a)} vs {len(b)}, differing {len(differing)}")
    for q in differing:
        print(f"### {q}")
        diff = difflib.unified_diff(a.get(q, []), b.get(q, []), lineterm="", n=0)
        for line in list(diff)[2:]:
            print(line)


if __name__ == "__main__":
    main()
