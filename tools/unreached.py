#!/usr/bin/env python3
"""List engine defs that only the tests reach.

Scans every public or `private[pkg]` def under src/main/scala and reports
each one whose name appears in a code line under src/test but in no other
code line of src/main or perfbench/src. A code line is a non-blank line
that does not start with `//`, `/*` or `*`, with any trailing `//`
comment cut off. The line that defines a name does not count as a use of
it, so an overload called only from the tests is reported as well.

A name scan cannot tell overloads or shadowed names apart, so it misses
a def whose name another def shares and the engine calls; it reports a
def only when no other engine code line names it at all. A reference
that a spec compares against stays in the engine on purpose; ALLOW names
each one with its reason.

Exits 1 when a hit is not on ALLOW, else 0.

Usage: python3 tools/unreached.py   (from anywhere; it finds the repo root)
"""
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# name -> why the engine keeps it although only a spec calls it
ALLOW = {
    "cosineDeclarative": "reference for the CosineSim expression (LlmSpec)",
    "cosineNearDup": "reference for the cosine dedup plans (LlmSpec)",
    "encodeDeclarative": "reference for the BpeDocTokens expression "
                         "(ExtQueriesSpec)",
    "sqDistDeclarative": "reference for the SqDistL2 expression (LlmSpec)",
    "maskNoData": "reference for the NoData remap (OverlaySpec, "
                  "WideOverlaySpec)",
    "dezorder16": "inverse of zorder16 for its round-trip test (LayoutSpec)",
    "requireFields": "the reference's V1 field check, pyt:137-147",
    "duplicateNames": "the reference's R3 duplicate-name check, pyt:1149-1159",
    "installArbiter": "the seam for an object-store commit arbiter",
    "ofContext": "LayerStackSpec's probe of the layer-stack memo's "
                 "per-context clean-up at application end",
}

DEF = re.compile(
    r"^\s*(?:@\w+\s+)*"
    r"(?:(?:final|implicit|lazy|inline)\s+)*"
    r"(private\[\w+\]\s+|private(?:\[this\])?\s+|protected(?:\[\w+\])?\s+)?"
    r"(?:(?:final|implicit|override)\s+)*"
    r"def\s+([A-Za-z_][A-Za-z0-9_]*)")


def code_lines(top):
    """(path, line number, code) for each code line of each .scala file."""
    for d, _, files in os.walk(top):
        for f in sorted(files):
            if not f.endswith(".scala"):
                continue
            p = os.path.join(d, f)
            with open(p, encoding="utf-8") as fh:
                for i, line in enumerate(fh, 1):
                    s = line.strip()
                    if not s or s.startswith(("//", "/*", "*")):
                        continue
                    yield p, i, re.sub(r"\s//.*$", "", line.rstrip("\n"))


def words(line):
    return set(re.findall(r"[A-Za-z_][A-Za-z0-9_]*", line))


def main():
    main_dir = os.path.join(ROOT, "src", "main", "scala")
    engine = list(code_lines(main_dir))
    engine += list(code_lines(os.path.join(ROOT, "perfbench", "src")))
    tests = set()
    for _, _, line in code_lines(os.path.join(ROOT, "src", "test")):
        tests |= words(line)

    defs = {}  # name -> [(path, line number)]
    def_lines = set()
    for p, i, line in engine:
        m = DEF.match(line)
        if not m or not p.startswith(main_dir):
            continue
        mod = (m.group(1) or "").strip()
        if mod and not mod.startswith("private["):
            continue
        if mod == "private[this]" or "override" in line.split("def")[0]:
            continue
        defs.setdefault(m.group(2), []).append((p, i))
        def_lines.add((p, i))

    used = set()
    for p, i, line in engine:
        if (p, i) not in def_lines:
            used |= words(line)
        else:
            # a def line may call other names in its body
            m = DEF.match(line)
            used |= words(line[m.end():])

    hits = sorted(n for n in defs if n in tests and n not in used)
    bad = [n for n in hits if n not in ALLOW]
    for n in hits:
        where = ", ".join(f"{os.path.relpath(p, ROOT)}:{i}" for p, i in defs[n])
        tag = f"allowed ({ALLOW[n]})" if n in ALLOW else "UNREACHED"
        print(f"{tag}: {n} at {where}")
    stale = sorted(set(ALLOW) - set(hits))
    for n in stale:
        print(f"note: allowlisted {n} is no longer a hit")
    print(f"{len(bad)} unreached, {len(hits) - len(bad)} allowed")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
