#!/usr/bin/env python3
"""Compare two `graft.Explain` outputs row by row.

Usage: python3 tools/plan_diff.py A B

Each input is the captured output of one `graft.Explain` run (for
example `sbt -batch "runMain graft.Explain <sfDir> ALL" > A`). A row's
block runs from its `========== name ==========` header to the next
header or to the streaming-state audit line; it holds the formatted
physical plan and any `!! smells` line. Log lines interleaved with the
plans (Spark's timestamped log, sbt's and the harness's `[...]` lines)
are dropped.

Before comparing, the per-run counters are normalized:
  - expression ids (`#123`, `#123L`);
  - exchange plan ids (`plan_id=123`) and RDD ids (`RDD[123]`);
  - fresh lambda-variable suffixes (`x_12#` from the Column lambda API,
    a global counter that depends on how many lambdas the JVM built);
  - object identity hashes (`TopKAgg@6179af64`) and the JVM's generated
    lambda class names (`$$Lambda$6767/0x00007f1c358c95a0`);
  - the per-JVM write-once artifact root (`/tmp/graft_artifacts_<n>`).

Every row whose normalized block differs, or that is in one output only,
is listed; the exit code is 1 if there is any.
"""
import difflib
import re
import sys

HEADER = re.compile(r"^========== (\S+) ==========$")
END = re.compile(r"^\[streaming-state audit\]")
LOG = re.compile(r"^(\d\d/\d\d/\d\d \d\d:\d\d:\d\d |\[)")
COUNTERS = [
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"RDD\[\d+\]"), "RDD[]"),
    (re.compile(r"\b([A-Za-z]+)_\d+#"), r"\1_#"),
    (re.compile(r"\$Lambda\$\d+/0x[0-9a-f]+"), "$Lambda$"),
    (re.compile(r"([\w$])@[0-9a-f]{1,8}\b"), r"\1@"),
    (re.compile(r"/tmp/graft_artifacts_\d+"), "/tmp/graft_artifacts_"),
]


def normalize(line):
    for pattern, repl in COUNTERS:
        line = pattern.sub(repl, line)
    return line


def blocks(path):
    """Row name -> its normalized plan lines, in file order."""
    out, name = {}, None
    with open(path, encoding="utf-8", errors="replace") as f:
        for raw in f:
            line = raw.rstrip("\n")
            m = HEADER.match(line)
            if m:
                name = m.group(1)
                out[name] = []
            elif END.match(line):
                name = None
            elif name is not None and not LOG.match(line):
                out[name].append(normalize(line))
    # trailing blank lines separate blocks; they are not plan content
    for lines in out.values():
        while lines and not lines[-1].strip():
            lines.pop()
    return out


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    a, b = blocks(sys.argv[1]), blocks(sys.argv[2])
    only_a = sorted(set(a) - set(b))
    only_b = sorted(set(b) - set(a))
    changed = sorted(n for n in set(a) & set(b) if a[n] != b[n])
    for n in changed:
        print(f"[differs] {n}")
        diff = difflib.unified_diff(a[n], b[n], "A", "B", lineterm="", n=1)
        for line in list(diff)[2:]:
            print(f"    {line}")
    for n in only_a:
        print(f"[only in A] {n}")
    for n in only_b:
        print(f"[only in B] {n}")
    same = len(set(a) & set(b)) - len(changed)
    print(f"{same} identical, {len(changed)} differ, "
          f"{len(only_a)} only in A, {len(only_b)} only in B")
    sys.exit(1 if changed or only_a or only_b else 0)


if __name__ == "__main__":
    main()
