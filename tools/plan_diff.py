#!/usr/bin/env python3
"""Compare two graft.tools.Plans dumps query by query, modulo run noise.

Usage: plan_diff.py DIR_A DIR_B [--diff] [query ...]

Each directory holds `<query>_<suffix>.txt` files as written by
`runMain graft.tools.Plans <dir> <suffix>`; files pair up by query name.
Before comparing, every plan is masked so that only the plan itself
counts, not the JVM that printed it:

  - expression ids (`#123`), `plan_id=`s and RDD ids (`RDD[45]`);
  - lambda class numbers and object addresses (`$$Lambda$12/0x...@1f2e`);
  - scratch paths under /tmp and /dev/shm, and Spark's random dir names;
  - the source file and line of an RDD's call site (`at Scope.scala:67`).

An Expand (the distinct-aggregate rewrite) lists its columns in
expression-id order, which depends on how many expressions earlier
queries in the same JVM made. Its columns are compared as a set: each
column (its value in every projection plus its output attribute) is one
unit, and the units are sorted.

Prints one line per query that differs (`DIFF name`), queries present on
one side only (`ONLY_A` / `ONLY_B`), then a summary; `--diff` adds a
unified diff of the masked plans for every DIFF. Exits 1 when any query
differs or is missing on one side.
"""
import difflib
import os
import re
import sys

MASKS = [
    (re.compile(r"Lambda\$\d+/0x[0-9a-f]+"), "Lambda"),
    (re.compile(r"@[0-9a-f]+\b"), "@ADDR"),
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"(/tmp|/dev/shm)/[^\s,\]\)]*"), "SCRATCH"),
    (re.compile(r"spark-[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}"), "spark-UUID"),
    (re.compile(r"\bat [\w$]+\.scala:\d+"), "at SITE"),
]

NODE = re.compile(r"^\(\d+\) (\w+)")


def mask(line):
    for pat, rep in MASKS:
        line = pat.sub(rep, line)
    return line


def split_top(s):
    """Split `a, [b, c], d` at top-level commas."""
    out, depth, cur = [], 0, []
    for ch in s:
        if ch in "[(":
            depth += 1
        elif ch in "])":
            depth -= 1
        if ch == "," and depth == 0:
            out.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    if cur:
        out.append("".join(cur).strip())
    return out


def unbracket(s):
    s = s.strip()
    assert s.startswith("[") and s.endswith("]"), s
    return s[1:-1]


def canon_expand_args(args):
    """`[[p1...], [p2...]], [out...]` -> the same with columns sorted."""
    try:
        projs_s, out_s = split_top(args)
        projs = [split_top(unbracket(p)) for p in split_top(unbracket(projs_s))]
        out = split_top(unbracket(out_s))
        if any(len(p) != len(out) for p in projs):
            return args
    except (AssertionError, ValueError):
        return args
    cols = sorted(zip(*projs, out))
    projs = ["[" + ", ".join(c[i] for c in cols) + "]" for i in range(len(projs))]
    return "[" + ", ".join(projs) + "], [" + ", ".join(c[-1] for c in cols) + "]"


def normalize(text):
    lines, node = [], None
    for raw in text.splitlines():
        line = mask(raw.rstrip())
        m = NODE.match(line)
        if m:
            node = m.group(1)
        elif not line:
            node = None
        if node == "Expand" and line.startswith("Arguments: "):
            line = "Arguments: " + canon_expand_args(line[len("Arguments: "):])
        lines.append(line)
    return lines


def load(d):
    plans = {}
    for f in sorted(os.listdir(d)):
        if f.endswith(".txt") and "_" in f:
            with open(os.path.join(d, f), encoding="utf-8") as fh:
                plans[f[:-4].rsplit("_", 1)[0]] = fh.read()
    return plans


def main(argv):
    show = "--diff" in argv
    args = [a for a in argv if a != "--diff"]
    if len(args) < 2:
        sys.exit(__doc__)
    a, b = load(args[0]), load(args[1])
    only = set(args[2:])
    if only:
        a = {k: v for k, v in a.items() if k in only}
        b = {k: v for k, v in b.items() if k in only}
    same_bytes = same_masked = 0
    bad = []
    for q in sorted(set(a) | set(b)):
        if q not in b:
            print(f"ONLY_A {q}")
            bad.append(q)
        elif q not in a:
            print(f"ONLY_B {q}")
            bad.append(q)
        elif a[q] == b[q]:
            same_bytes += 1
        else:
            na, nb = normalize(a[q]), normalize(b[q])
            if na == nb:
                same_masked += 1
            else:
                print(f"DIFF {q}")
                bad.append(q)
                if show:
                    sys.stdout.writelines(l + "\n" for l in difflib.unified_diff(
                        na, nb, f"a/{q}", f"b/{q}", lineterm="", n=2))
    n = len(set(a) | set(b))
    print(f"{n} plans compared; {same_bytes} identical byte for byte, "
          f"{same_masked} identical after masking, {len(bad)} differ")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
