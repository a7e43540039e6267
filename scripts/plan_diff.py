#!/usr/bin/env python3
"""Compare two ExplainDump directories plan by plan.

    python3 scripts/plan_diff.py <dirA> <dirB>

Pairs the files of the two directories by name, masks the identities a
JVM assigns per run (exchange ``plan_id`` counters, lambda class names,
RDD ids), renumbers expression ids (``col#123``) in order of first
appearance within each file, and prints a unified diff for each pair
that still differs. Expression ids come from one JVM-wide counter, so
any change to what ran earlier in the JVM shifts every later plan's ids;
the renumbering keeps which references name the same attribute.
A file present on one side only counts as a difference. Exit 0 when
every pair is equal after masking, 1 otherwise, 2 on bad usage.
"""
import difflib
import re
import sys
from pathlib import Path

# (pattern, replacement): each field is a counter or a hash code that
# differs between two runs of the same plan.
MASKS = [
    (re.compile(r"\[plan_id=\d+\]"), "[plan_id=#]"),
    (re.compile(r"\$\$Lambda[$/\w]*(@[0-9a-f]+)?"), "$$Lambda#"),
    (re.compile(r"RDD\[\d+\]"), "RDD[#]"),
]


EXPR_ID = re.compile(r"#(\d+)")


def masked(text):
    ids = {}
    text = EXPR_ID.sub(
        lambda m: "#e%d" % ids.setdefault(m.group(1), len(ids)), text)
    for pattern, repl in MASKS:
        text = pattern.sub(repl, text)
    return text.splitlines(keepends=True)


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    a, b = Path(argv[1]), Path(argv[2])
    for d in (a, b):
        if not d.is_dir():
            print(f"not a directory: {d}", file=sys.stderr)
            return 2
    names = sorted({p.name for d in (a, b) for p in d.iterdir() if p.is_file()})
    differ = 0
    for name in names:
        fa, fb = a / name, b / name
        if not (fa.is_file() and fb.is_file()):
            print(f"ONLY {fa if fa.is_file() else fb}")
            differ += 1
            continue
        diff = list(difflib.unified_diff(
            masked(fa.read_text()), masked(fb.read_text()),
            fromfile=str(fa), tofile=str(fb)))
        if diff:
            differ += 1
            sys.stdout.writelines(diff)
            print(f"DIFF {name}")
    print(f"[plan-diff] {len(names) - differ}/{len(names)} equal after masking")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
