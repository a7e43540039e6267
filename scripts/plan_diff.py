#!/usr/bin/env python3
"""Compare two ExplainDump directories plan by plan.

    python3 scripts/plan_diff.py <dirA> <dirB>

Pairs the files of the two directories by name, masks the identities a
JVM assigns per run (exchange ``plan_id`` counters, lambda class names,
RDD ids) and the source line of an RDD's call site, and prints a
unified diff for each pair that still differs.
Three things a JVM-wide counter or an unordered collection decides are
made canonical per file first:

- expression ids (``col#123``) are renumbered in order of first
  appearance, so a change to what ran earlier in the JVM does not
  shift every later plan's ids; which references name the same
  attribute is kept;
- lambda variables (``lambda x_13#…``) are renumbered the same way;
- the projection lists of each ``Expand`` node are sorted. The
  distinct-aggregate rewrite's ``Expand`` numbers its groups (the
  ``gid`` literals) and orders their columns by a hash map's
  iteration order, so those groups are first put in content order,
  in the node and in every later line that names their columns or
  tests their gid.

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
    # an RDD's call-site label (``at localCheckpoint at
    # Materialize.scala:100``) moves with any edit above that line
    (re.compile(r"( at \w+ at [\w$]+\.scala):\d+"), r"\1:#"),
]


EXPR_ID = re.compile(r"#(\d+)")
LAMBDA_VAR = re.compile(r"\blambda ([A-Za-z]\w*?_\d+)#")
NODE_HEADER = re.compile(r"^\(\d+\) (\S+)")
GID = re.compile(r"gid#\d+$")
ARGUMENTS = "Arguments: "


def split_top(text):
    """Split at the ", " that sit outside every bracket and parenthesis."""
    items, depth, start = [], 0, 0
    for i, ch in enumerate(text):
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        elif depth == 0 and text.startswith(", ", i):
            items.append(text[start:i])
            start = i + 2
    items.append(text[start:])
    return items


def distinct_groups(projections, out):
    """The distinct-aggregate rewrite's Expand (an output ``gid``)
    numbers its groups, and orders their columns, by a hash map's
    iteration order. Returns the column permutation (new position ->
    old) and the gid renumbering that order the groups by content
    instead, the positions of the groups' own columns (those before
    ``gid``; a regular aggregate's columns follow it) and the position
    of ``gid``; None for any other Expand."""
    g = next((j for j, o in enumerate(out) if GID.match(o)), None)
    if g is None or any(len(p) != len(out) for p in projections):
        return None
    slots = [j for j in range(g)
             if any(p[j] == "null" for p in projections)]
    owner = {}
    for k, p in enumerate(projections):
        if not p[g].isdigit():
            return None
        for j in slots:
            if p[j] != "null":
                if j in owner:
                    return None
                owner[j] = k

    def content(k):
        own = [projections[k][j] for j in slots if owner.get(j) == k]
        return EXPR_ID.sub("#", ", ".join(own))

    ranked = sorted(range(len(projections)), key=content)
    rank = {k: r for r, k in enumerate(ranked)}
    gids = sorted((p[g] for p in projections), key=int)
    renumber = {p[g]: gids[rank[k]] for k, p in enumerate(projections)}
    perm = list(range(len(out)))
    for j, src in zip(slots, sorted(slots, key=lambda j: (rank.get(owner.get(j), -1), j))):
        perm[j] = src
    return perm, renumber, slots, g


def reorder(line, out, slots, renumber, gid):
    """Apply a distinct_groups result to a line after its Expand: runs
    of the groups' columns take the new order, gid tests the new gids."""
    if slots:
        pos = {out[j]: j for j in slots}
        one = "(?:%s)(?!\\w)" % "|".join(
            map(re.escape, sorted(pos, key=len, reverse=True)))
        line = re.sub(r"%s(?:, %s)+" % (one, one),
                      lambda m: ", ".join(sorted(re.findall(one, m.group(0)),
                                                 key=pos.get)), line)
    return re.sub(re.escape(gid) + r" = (\d+)\b",
                  lambda m: "%s = %s" % (gid, renumber.get(m.group(1), m.group(1))),
                  line)


def canonical_expands(text):
    """Sort each Expand node's projection lists; for the distinct-
    aggregate Expand also put its groups' columns and gids in content
    order, in the node and in every later line that names them."""
    lines, node = text.splitlines(keepends=True), None
    for k, line in enumerate(lines):
        header = NODE_HEADER.match(line)
        if header:
            node = header.group(1)
            continue
        if node != "Expand" or not line.startswith(ARGUMENTS):
            continue
        body = line.rstrip("\n")
        parts = split_top(body[len(ARGUMENTS):])
        if len(parts) != 2 or not parts[0].startswith("[["):
            continue
        projections = [split_top(p[1:-1]) for p in split_top(parts[0][1:-1])]
        out = split_top(parts[1][1:-1])
        groups = distinct_groups(projections, out)
        if groups:
            perm, renumber, slots, g = groups
            projections = [[renumber[p[g]] if j == g else p[src]
                            for j, src in enumerate(perm)]
                           for p in projections]
            out = [out[src] for src in perm]
            lines[k + 1:] = [reorder(l, out, slots, renumber, out[g])
                             for l in lines[k + 1:]]
        listed = sorted("[" + ", ".join(p) + "]" for p in projections)
        lines[k] = (ARGUMENTS + "[" + ", ".join(listed) + "], [" +
                    ", ".join(out) + "]" + line[len(body):])
    return "".join(lines)


def masked(text):
    text = canonical_expands(text)
    lambdas = {}
    for m in LAMBDA_VAR.finditer(text):
        name = m.group(1)
        lambdas.setdefault(
            name, "%s_v%d" % (name.rsplit("_", 1)[0], len(lambdas)))
    if lambdas:
        text = re.sub(r"\b(%s)\b" % "|".join(map(re.escape, lambdas)),
                      lambda m: lambdas[m.group(1)], text)
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
