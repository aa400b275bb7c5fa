#!/usr/bin/env python3
"""Print the `SparkEntry.queries` entries whose code names an identifier.

    python3 tools/queries_using.py IDENT [IDENT ...]

Prints one comma-separated list of full query names (the `queries` map
order), ready for `SPARK_GRAFT_ONLY`. A query is listed when its body
names any IDENT as a whole word, directly or through a helper: a
private definition in `SparkEntry.scala`, or any definition in
`FleetFamilies.scala` (the fleet-family table the index queries call).
Helpers are followed transitively; comments and string literals are
not read. The scan is textual, so the list may be a superset (a helper
named like an unrelated call counts: `graft.util.Exact` reads as the
`Exact` family), but it never misses a query whose own code or helpers
spell the name.

Example: the queries that reach a MinHash or SimHash index verb

    python3 tools/queries_using.py minhashIndexBuild simhashIndexBuild
"""
import os
import re
import sys

ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..",
                    "src", "main", "scala", "graft")
ENTRY = os.path.join(ROOT, "SparkEntry.scala")
FAMILIES = os.path.join(ROOT, "FleetFamilies.scala")

DEF = re.compile(r"^(\s*)(?:(?:private(?:\[\w+\])?|final|sealed|case|"
                 r"abstract|override|lazy|implicit)\s+)*"
                 r"(def|val|object|class|trait)\s+(\w+)")
ENTRY_ROW = re.compile(r'"(q\w+)"\s*->\s*\(?\s*(\w+)\s+_', re.S)


# comments and string literals, scanned left to right so that a `//`
# inside a string or a quote inside a comment is not misread
NON_CODE = re.compile(r'/\*.*?\*/|//[^\n]*|""".*?"""|"(?:\\.|[^"\\\n])*"',
                      re.S)


def strip_non_code(text):
    """`text` with comments and string literals blanked (newlines kept),
    so a column named like a helper (`"kind"`) is not a use of it."""
    return NON_CODE.sub(lambda m: "\n" * m.group(0).count("\n"), text)


def definitions(path, private_only, max_indent):
    """{name: body text} for each definition in `path` indented at most
    `max_indent`. A body runs from its definition line to the next
    definition at the same or a lower indentation; comments and
    string literals are dropped."""
    with open(path) as f:
        lines = strip_non_code(f.read()).split("\n")
    starts = []
    for i, line in enumerate(lines):
        m = DEF.match(line)
        if m:
            starts.append((i, len(m.group(1)), m.group(3),
                           "private" in line.split(m.group(2))[0]))
    out = {}
    for n, (i, indent, name, private) in enumerate(starts):
        end = len(lines)
        for j, ind, _, _ in starts[n + 1:]:
            if ind <= indent:
                end = j
                break
        if indent > max_indent or name in ("queries", "oracleSql"):
            continue
        if private or not private_only or re.match(r"q\d", name):
            out[name] = out.get(name, "") + "\n".join(lines[i:end])
    return out


def words(text):
    return set(re.findall(r"\w+", text))


def main(argv):
    idents = set(argv[1:])
    if not idents:
        print(__doc__, file=sys.stderr)
        return 2
    defs = definitions(ENTRY, private_only=True, max_indent=2)
    if os.path.exists(FAMILIES):
        for name, body in definitions(FAMILIES, private_only=False,
                                      max_indent=2).items():
            defs[name] = defs.get(name, "") + body
    with open(ENTRY) as f:
        entry = f.read()
    wiring = entry[entry.index("def queries"):]
    rows = ENTRY_ROW.findall(wiring)
    used = {name: words(body) for name, body in defs.items()}
    # fixed point: a definition reaches the idents if it names one, or
    # names a helper that does
    reaches = {name for name, ws in used.items() if ws & idents}
    while True:
        more = {name for name, ws in used.items()
                if name not in reaches and ws & (reaches - {name})}
        if not more:
            break
        reaches |= more
    hits = [q for q, fn in rows
            if fn in defs and (used[fn] & idents or
                               used[fn] & (reaches - {fn}))]
    print(",".join(hits))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
