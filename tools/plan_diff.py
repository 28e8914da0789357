#!/usr/bin/env python3
"""Compare two `graft.Explain` dumps query by query, modulo run noise.

    sbt "runMain graft.Explain <sfDir> q95_column_profile" > a.txt   # one tree
    sbt "runMain graft.Explain <sfDir> q95_column_profile" > b.txt   # the other
    python3 tools/plan_diff.py a.txt b.txt [query ...]

Each dump is split at its `━━━ <query> ━━━` headers. Before comparing,
each plan is normalised for what changes from run to run or checkout to
checkout without the plan changing:

  - expression IDs (`id#149L`), `plan_id=` numbers and lambda-variable
    numbers (`lambda x_15`, `lambdavariable(..., -123)`);
  - RDD ids (`MapPartitionsRDD[64]`) and call sites
    (`localCheckpoint at State.scala:76`);
  - the `graft_<family>_<hex>` state-table fingerprint suffix;
  - the checkout path in front of `target/` and `spark-warehouse/`;
  - the order of the groups an `Expand` lists (q95's four
    `COUNT(DISTINCT ...)` groups come out in a run-dependent order).

Prints SAME or DIFF per query (with a short unified diff of the
normalised text) and exits 1 if any query differs or is missing from
one side, else 0. Standard library only.
"""
import difflib
import re
import sys

SBT_LOG = re.compile(r"^\[(?:success|info|warn|error)\] ")
HEADER = re.compile(r"^(?:━+|\?+) (\S+) (?:━+|\?+)\s*$")

SUBS = [
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"(lambda\s+[A-Za-z]\w*?)_\d+"), r"\1_N"),
    (re.compile(r"(lambdavariable\([^()]*?,\s*)-?\d+\)"), r"\1N)"),
    (re.compile(r"(\w*RDD)\[\d+\]"), r"\1[N]"),
    (re.compile(r"\b(at \w+ at [\w$]+\.(?:scala|java)):\d+"), r"\1:N"),
    (re.compile(r"(graft_[a-z0-9_]+?)_[0-9a-f]{8,16}(?![0-9a-f])"), r"\1_FP"),
    (re.compile(r"(?:file:)?/[^\s\[\](),]*?/(target|spark-warehouse)/"), r"<ROOT>/\1/"),
]


def sections(path):
    """{query: [lines]} for one Explain dump; text before the first
    header (build logs) is ignored."""
    out, cur = {}, None
    with open(path, encoding="utf-8", errors="replace") as f:
        for line in f:
            line = line.rstrip("\n")
            m = HEADER.match(line)
            if m:
                cur = m.group(1)
                out[cur] = []
            elif cur is not None:
                out[cur].append(line)
    return out


def split_top(s):
    """Split `s` at the commas that sit outside any bracket."""
    parts, depth, start = [], 0, 0
    for i, ch in enumerate(s):
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(s[start:i].strip())
            start = i + 1
    parts.append(s[start:].strip())
    return parts


def closer(s, i):
    """Index of the bracket closing the one at `s[i]`, or -1."""
    depth = 0
    for j in range(i, len(s)):
        if s[j] in "([":
            depth += 1
        elif s[j] in ")]":
            depth -= 1
            if depth == 0:
                return j
    return -1


def map_lists(s, fn):
    """`s` with the items of every bracketed list passed through `fn`,
    innermost lists first."""
    out, i = [], 0
    while i < len(s):
        j = closer(s, i) if s[i] in "([" else -1
        if j < 0:
            out.append(s[i])
            i += 1
            continue
        items = fn([map_lists(it, fn) for it in split_top(s[i + 1:j])])
        out.append(s[i] + ", ".join(items) + s[j])
        i = j + 1
    return "".join(out)


def column(item):
    """The column an item names (`l_tax#`, `f(l_tax#) AS l_tax#`), or None."""
    names = re.findall(r"(\w+)#", item)
    return names[-1] if names else None


def canonical_expand(text):
    """Rewrite a plan whose Expand splits distinct aggregates into
    numbered groups (`gid`) so that the groups are ordered and numbered
    by column name instead of by the run-dependent order the planner
    picked: every list that starts with the distinct columns in the
    planner's order is permuted, and every `gid` number is renumbered."""
    m = re.search(r"^Arguments: \[\[.*\]\], \[(.*)\]$", text, re.M)
    if not m or "gid#" not in m.group(1):
        return text
    out_cols = split_top(m.group(1))
    p = out_cols.index("gid#")
    slots = [column(c) for c in out_cols[:p]]
    rank = {c: r for r, c in enumerate(sorted(slots))}
    new_pos = [rank[c] for c in slots]

    def fn(items):
        if len(items) <= p:
            return items
        head = [column(it) for it in items[:p]]
        if not any(head) or any(h and h != slots[i] for i, h in enumerate(head)):
            return items
        out = list(items)
        for i in range(p):
            out[new_pos[i]] = items[i]
        # a projection row of the Expand: [col, null, ..., gid, ...]
        if sum(1 for h in head if h) == 1 and items[p].isdigit():
            out[p] = str(rank[next(h for h in head if h)] + 1)
        return out

    gid = {str(i + 1): str(rank[c] + 1) for i, c in enumerate(slots)}
    text = re.sub(r"gid# = (\d+)", lambda g: "gid# = " + gid.get(g.group(1), g.group(1)), text)
    return "\n".join(map_lists(line, fn) for line in text.split("\n"))


def normalise(lines):
    text = "\n".join(l for l in lines if not SBT_LOG.match(l))
    for pat, rep in SUBS:
        text = pat.sub(rep, text)
    text = canonical_expand(text.strip("\n"))
    # the Expand's projection rows, now renumbered, in a canonical order
    return [re.sub(r"^Arguments: \[(\[.*\])\], ", lambda g: "Arguments: [" + ", ".join(
                sorted(split_top(g.group(1)))) + "], ", l)
            for l in text.split("\n")]


def main(argv):
    if len(argv) < 3:
        print(__doc__.strip().split("\n\n")[1], file=sys.stderr)
        return 2
    a, b = sections(argv[1]), sections(argv[2])
    names = argv[3:] or sorted(set(a) | set(b))
    bad = 0
    for n in names:
        if n not in a or n not in b:
            print(f"MISSING {n} (only in {argv[1] if n in a else argv[2]})"
                  if n in a or n in b else f"MISSING {n} (in neither dump)")
            bad += 1
            continue
        na, nb = normalise(a[n]), normalise(b[n])
        if na == nb:
            print(f"SAME {n}")
        else:
            bad += 1
            print(f"DIFF {n}")
            diff = list(difflib.unified_diff(na, nb, argv[1], argv[2], n=1, lineterm=""))
            print("\n".join(diff[:40]))
            if len(diff) > 40:
                print(f"... {len(diff) - 40} more diff lines")
    print(f"{len(names) - bad}/{len(names)} queries match")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
