#!/usr/bin/env python3
"""Reachability audit of src/main, and the generator behind SCOPE.md.

    python3 tools/unreached.py          # audit + SCOPE.md key check
    python3 tools/unreached.py --table  # print SCOPE.md's generated tables

The audit lists every top-level object, class and trait in src/main, and
every public member `def` of one, whose name nothing in src/main (outside
its own file) or perfbench/src names, with the spec files that do name it.
Names are matched as whole words in code with comments removed, so the
audit errs toward "reached": a common name (`start`, `read`) used anywhere
else hides an unused def. Objects with a `main` method are entry points
and are not listed. Private defs are left to the compiler.

The check fails (exit 1) unless SCOPE.md lists every `SparkEntry.queries`
key exactly once, as the first cell of a table row.
"""
import re
import sys
from collections import Counter, defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
MAIN = ROOT / "src" / "main" / "scala"
TEST = ROOT / "src" / "test" / "scala"
PERF = ROOT / "perfbench" / "src"
ENTRY = MAIN / "graft" / "SparkEntry.scala"
BENCH = MAIN / "graft" / "Bench.scala"
SCOPE = ROOT / "SCOPE.md"

# The query families ROADMAP item 4 finds no contour-rs or north-star link
# for; the summary counts them apart from the rest.
UNLINKED_FAMILIES = ("q_doc", "q_evt", "q_rel", "q_emb")


def strip_comments(text):
    """Drop // and /* */ comments; keep string literals whole."""
    out, i, n = [], 0, len(text)
    while i < n:
        if text.startswith('"""', i):
            j = text.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and text[j] == '"':
                j += 1
            out.append(text[i:j]); i = j
        elif text[i] == '"':
            j = i + 1
            while j < n and text[j] not in '"\n':
                j += 2 if text[j] == "\\" else 1
            out.append(text[i:j + 1]); i = j + 1
        elif text[i] == "'" and re.match(r"'(\\.|[^\\'\n])'", text[i:i + 4]):
            j = text.index("'", i + 2 if text[i + 1] == "\\" else i + 1) + 1
            out.append(text[i:j]); i = j
        elif text.startswith("//", i):
            j = text.find("\n", i)
            i = n if j < 0 else j
        elif text.startswith("/*", i):
            depth, j = 1, i + 2
            while j < n and depth:
                if text.startswith("/*", j):
                    depth += 1; j += 2
                elif text.startswith("*/", j):
                    depth -= 1; j += 2
                else:
                    j += 1
            out.append("\n" * text.count("\n", i, j)); i = j
        else:
            out.append(text[i]); i += 1
    return "".join(out)


def sources(root):
    return {p: strip_comments(p.read_text()) for p in sorted(root.rglob("*.scala"))}


TEMPLATE = re.compile(r"^(?:(?:private(?:\[\w+\])?|final|sealed|abstract|case|implicit)\s+)*"
                      r"(object|class|trait)\s+(\w+)", re.M)
MEMBER = re.compile(r"^  (?:(?:private\[\w+\]|protected(?:\[\w+\])?|final|implicit|lazy|@\w+)\s+)*"
                    r"def\s+(\w+)", re.M)


def definitions(path, code):
    """(kind, owner, name) for top-level templates and their public defs."""
    tops = [(m.start(), m.group(1), m.group(2)) for m in TEMPLATE.finditer(code)]
    out = [(kind, name, name) for _, kind, name in tops]
    for m in MEMBER.finditer(code):
        owner = [name for start, _, name in tops if start < m.start()]
        if owner:
            out.append(("def", owner[-1], m.group(1)))
    return out


def audit(main, perf, tests):
    entry_points = {TEMPLATE.search(code).group(2) for code in main.values()
                    if re.search(r"\bdef main\(", code)}
    words = {p: Counter(re.findall(r"\w+", c)) for p, c in {**main, **perf, **tests}.items()}
    rows = []
    for path, code in main.items():
        for kind, owner, name in definitions(path, code):
            if owner in entry_points or name == "main":
                continue
            if any(words[p][name] for p in list(main) + list(perf) if p != path):
                continue
            refs = [(p.stem, words[p][name]) for p in tests if words[p][name]]
            label = name if kind != "def" else f"{owner}.{name}"
            # more than the definition itself: reached through its own file
            rows.append((path.relative_to(MAIN), kind, label, words[path][name] > 1, refs))
    return rows


# ---- the query table ----

def entry_sections():
    """SparkEntry.queries keys in map order, each with its entry's code."""
    code = strip_comments(ENTRY.read_text())
    start = code.index("def queries")
    body = code[start:re.compile(r"^  \)", re.M).search(code, start).start()]
    marks = list(re.finditer(r'^\s*"(q_[a-z0-9_]+)"\s*->', body, re.M))
    return [(m.group(1), body[m.end():marks[i + 1].start() if i + 1 < len(marks) else len(body)])
            for i, m in enumerate(marks)]


def oracle_keys(main):
    keys = set()
    for p, code in main.items():
        for m in re.finditer(r"(?:def|val) oracleSql\b", code):
            keys |= set(re.findall(r'"(q_[a-z0-9_]+)"\s*->', code[m.end():]))
    return keys


def bench_legs():
    code = BENCH.read_text()
    lists = {m.group(1): re.findall(r'"(q_[a-z0-9_]+)"', m.group(2))
             for m in re.finditer(r"val (Ops\d*Queries)\s*=\s*Seq\(([^)]*)\)", code)}
    legs = {}
    for leg, val in re.findall(r'"(ops\d*)"\s*->\s*(Ops\d*Queries)', code):
        for k in lists.get(val, []):
            legs.setdefault(k, []).append(leg)
    return legs


def module_defs(main):
    """object name -> (file, {member def or val name -> its code})."""
    out = {}
    for p, code in main.items():
        tops = [m for m in TEMPLATE.finditer(code) if m.group(1) == "object"]
        marks = list(re.finditer(r"^  (?:(?:private(?:\[\w+\])?|protected|final|implicit|lazy|override)\s+)*"
                                 r"(def|val|case class|object|class|trait)\s+(\w+)", code, re.M))
        for i, m in enumerate(marks):
            owner = [t.group(2) for t in tops if t.start() < m.start()]
            if owner and m.group(1) in ("def", "val"):
                end = marks[i + 1].start() if i + 1 < len(marks) else len(code)
                members = out.setdefault(owner[-1], (p, {}))[1]
                members[m.group(2)] = members.get(m.group(2), "") + code[m.start():end]
    return out


# Shared plumbing every family reads through; not a helper a retirement
# has to move.
INFRA = ("Feeds", "EventsGrid")

SERVES = [
    (r"\.isobands\(|isobandsFrom", "contour-rs `isobands`"),
    (r"\.lines\(|linesFrom", "contour-rs `lines`"),
    (r"smoothContours|rawContours|\.contours\(|contoursFrom|contourRings|closedRingRows|ContourEngine",
     "contour-rs `contours`"),
    (r"pipTag", "raster-vector join"),
    (r"\bLake\.", "lake checkpoints"),
    (r"DocCodec", "interleaved docs"),
]
RASTER = r"eventTilesF|eventTiles\(|tilesFromCells|baseCells|RasterOps\.|HydroOps\.|RasterKernel|Tiling\."


def query_rows(main, tests):
    mods = module_defs(main)
    oracles = oracle_keys(main)
    legs = bench_legs()
    # Who calls Obj.fn outside Obj's own file, the contract map and the
    # two mains: the code a retirement of Obj would have to keep working.
    callers = defaultdict(set)
    for p, code in main.items():
        if p in (ENTRY, BENCH) or p.stem == "Verify":
            continue
        for obj, fn in set(re.findall(r"\b([A-Z]\w+)\.([a-z]\w*)\b", code)):
            if obj in mods and fn in mods[obj][1] and mods[obj][0] != p:
                callers[(obj, fn)].add(p.stem)
    test_text = {p.stem: c for p, c in tests.items()}
    rows = []
    for key, text in entry_sections():
        impl = sorted({(o, f) for o, f in re.findall(r"\b([A-Z]\w+)\.(\w+)\b", text)
                       if o in mods and f in mods[o][1] and o not in INFRA})
        # every member of the same object the implementation reaches
        reach, todo = set(impl), list(impl)
        while todo:
            o, f = todo.pop()
            for g in set(re.findall(r"\b([a-z]\w*)\b", mods[o][1][f])):
                if g in mods[o][1] and (o, g) not in reach:
                    reach.add((o, g)); todo.append((o, g))
        bodies = text + "".join(mods[o][1][f] for o, f in sorted(reach))
        objs = {o for o, _ in reach}
        serves = [label for pat, label in SERVES if re.search(pat, bodies)]
        if objs & {"SpatialOps", "HullOps", "CellIndex"} and "raster-vector join" not in serves:
            serves.append("spatial ops")
        if not any(s.startswith("contour-rs") for s in serves) and (
                re.search(RASTER, bodies) or objs & {"RasterOps", "HydroOps"}):
            serves.append("tiled rasters")
        helpers = {(o, g) for o, g in reach if (o, g) in callers and (o, g) not in impl}
        helpers |= {(o, g) for o, g in re.findall(r"\b([A-Z]\w+)\.([a-z]\w*)\b", bodies)
                    if (o, g) in callers}
        helpers = sorted((o, g) for o, g in helpers
                         if o != "EventsGrid" and (o != "Feeds" or g == "withLoopPartitions"))
        specs = sorted(s for s, c in test_text.items() if s != "SparkEntrySpec" and (
            f'"{key}"' in c or any(re.search(r"\b%s\.%s\b" % (o, f), c) for o, f in impl)))
        rows.append(dict(key=key, serves=serves, impl=impl, helpers=helpers, specs=specs,
                         oracle=key in oracles, legs=legs.get(key, [])))
    # A retire row whose own module's helper is called from a module that
    # implements a kept row: the helper moves before the row can go.
    kept = {mods[o][0].stem for r in rows if r["serves"] for o, _ in r["impl"]}
    kept |= {p.stem for p in main if p.parent.name in ("core", "engine", "lake", "docs")}
    out = []
    for r in rows:
        own = {o for o, _ in r["impl"]}
        blockers = [f"{o}.{g}" for o, g in r["helpers"]
                    if o in own and callers[(o, g)] & kept - {mods[o][0].stem}]
        backs = [k["key"] for k in rows if k["serves"] and k is not r and set(r["impl"]) & set(k["impl"])]
        if r["serves"]:
            ruling = "keep"
        elif backs:
            ruling = f"keep (backs {', '.join(backs)})"
        elif blockers:
            ruling = f"retire after moving {', '.join(blockers)} (proposal)"
        else:
            ruling = "retire (proposal)"
        consumers = (["Verify + oracle" if r["oracle"] else "Verify (rows only)", "SparkEntrySpec"]
                     + r["specs"]
                     + [f"{o}.{g} (also {', '.join(sorted(callers[(o, g)] - {mods[o][0].stem}))})"
                        for o, g in r["helpers"]])
        out.append((r["key"], "_".join(r["key"].split("_")[:2]), "; ".join(r["serves"]) or "none",
                    ", ".join(f"{o}.{f}" for o, f in r["impl"]) or "SparkEntry (inline)",
                    ", ".join(consumers), ", ".join(r["legs"]) or "-", ruling))
    return out


# Non-query surfaces the table rules on: (row label, object, members,
# proposed ruling). Callers and specs are read from the code.
SPEC_ONLY_LAKE = "retire (proposal): spec-only; lake checkpoints need commit, read and latestFor"
MODULE_ROWS = [
    ("StreamingContour.start", "StreamingContour", ["start"], "keep: ROADMAP item 4's keep list"),
    ("StreamingContour.startStateful", "StreamingContour", ["startStateful"],
     "keep: ROADMAP item 4's keep list"),
    ("GeomExpressions (st_* expressions)", "GeomExpressions",
     ["register", "st_area2", "st_point_in_ring", "st_ring_contains"], "keep: SURVEY section 7 lays it out"),
    ("GraftExtensions (session extension)", "GraftExtensions", [],
     "retire (proposal): no session registers it and no spec runs it"),
    ("Lake branches", "Lake", ["createBranch", "commitToBranch", "branchHead", "readBranch",
                               "fastForward", "dropBranch"], SPEC_ONLY_LAKE),
    ("Lake as-of reads", "Lake", ["snapshotAsOf", "readAsOf"], SPEC_ONLY_LAKE),
    ("Lake.rollback", "Lake", ["rollback"], SPEC_ONLY_LAKE),
    ("Lake.readConformed", "Lake", ["readConformed"], SPEC_ONLY_LAKE),
    ("Lake.compactSmall", "Lake", ["compactSmall"], SPEC_ONLY_LAKE),
    ("Lake.diffSnapshots", "Lake", ["diffSnapshots"], SPEC_ONLY_LAKE),
    ("Lake sums (maintainSums, fullSums, foldSums)", "Lake", ["maintainSums", "fullSums", "foldSums"],
     SPEC_ONLY_LAKE),
    ("Lake refs (tags)", "Lake", ["tag", "tags", "snapshotRef", "readRef", "dropTag"], SPEC_ONLY_LAKE),
]


def module_rows(main, perf, tests):
    rows = []
    for label, obj, members, ruling in MODULE_ROWS:
        home = [p for p, c in main.items() if re.search(r"^(?:\w+ )*(?:object|class) %s\b" % obj, c, re.M)][0]
        pats = [r"\b%s\.%s\b" % (obj, m) for m in members] or [r"\b%s\b" % obj]
        used = sorted({p.stem for p, c in {**main, **perf}.items()
                       if p != home and any(re.search(x, c) for x in pats)})
        specs = sorted({p.stem for p, c in tests.items() if any(re.search(x, c) for x in pats)})
        rows.append((label, ", ".join(used) or "none", ", ".join(specs) or "none", ruling))
    return rows


def table(main, perf, tests):
    rows = query_rows(main, tests)
    groups = defaultdict(Counter)
    for r in rows:
        group = r[1] if r[1] in UNLINKED_FAMILIES else "other"
        groups[group]["keep" if r[6].startswith("keep") else "retire"] += 1
    out = ["| families | keys | keep | retire (proposal) |", "|---|---|---|---|"]
    out += ["| %s | %d | %d | %d |" % (g + ("_*" if g != "other" else ""), sum(c.values()), c["keep"],
                                       c["retire"]) for g, c in sorted(groups.items())]
    out += ["| all | %d | %d | %d |" % (len(rows), sum(c["keep"] for c in groups.values()),
                                        sum(c["retire"] for c in groups.values())), ""]
    out += ["| query | family | serves | implemented by | consumers | `graft.Bench` leg | proposed ruling |",
            "|---|---|---|---|---|---|---|"]
    out += ["| `%s` | %s | %s | %s | %s | %s | %s |" % r for r in rows]
    out += ["", "| module / API group | src/main + perfbench callers | specs | proposed ruling |",
            "|---|---|---|---|"]
    out += ["| %s | %s | %s | %s |" % r for r in module_rows(main, perf, tests)]
    return "\n".join(out)


def scope_check():
    keys = [k for k, _ in entry_sections()]
    if not SCOPE.exists():
        return False, f"SCOPE.md: missing ({len(keys)} SparkEntry.queries keys unlisted)"
    listed = Counter(re.findall(r"^\|\s*`?(q_[a-z0-9_]+)`?\s*\|", SCOPE.read_text(), re.M))
    missing = [k for k in keys if listed[k] == 0]
    twice = [k for k in keys if listed[k] > 1]
    extra = sorted(set(listed) - set(keys))
    ok = not (missing or twice or extra)
    msg = (f"SCOPE.md: {sum(1 for k in keys if listed[k] == 1)} of {len(keys)} "
           f"SparkEntry.queries keys listed exactly once")
    for what, ks in (("missing", missing), ("listed more than once", twice), ("not a query key", extra)):
        if ks:
            msg += f"\n  {what}: {', '.join(ks)}"
    return ok, msg


def main():
    main_src, perf_src, test_src = sources(MAIN), sources(PERF), sources(TEST)
    if sys.argv[1:] == ["--table"]:
        print(table(main_src, perf_src, test_src))
        return 0
    rows = audit(main_src, perf_src, test_src)
    print(f"unreached: {len(rows)} names in src/main that no other src/main file "
          f"and no perfbench/src file names")
    print("(own file: its own file names it again, so it is reached through that file)")
    for path, kind, label, own, refs in rows:
        specs = ", ".join(f"{s}({n})" for s, n in refs) or "no spec"
        print(f"  {path}  {kind} {label}{'  [own file]' if own else ''}  -- {specs}")
    ok, msg = scope_check()
    print(msg)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
