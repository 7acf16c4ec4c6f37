#!/usr/bin/env python3
"""Definitions under src/main that no entry point reaches.

    python3 tools/reach.py [--check]

Scans the Scala sources under src/main/scala (comments stripped) for
definitions: top-level types and objects, and the members of each
template (def, val, var, type, nested class, trait and object). Then
follows references from the roots:

- every member of the entry types in ROOT_TYPES;
- every object with a `def main`;
- every name that perfbench/src or a src/main/resources file (the
  service registrations) mentions;
- every entry of KEEP.

A top-level type or object is reached when reached code names it. A
member is reached when its enclosing type is reached and reached code
names it. An `override` or `implicit` member, and an `apply` or
`unapply`, counts as reached once its enclosing type is reached (the
compiler or Spark calls it without naming it), and only then.

Prints each unreached definition that is not on KEEP and that no KEEP
entry reaches, outermost only (an unreached type's members are not
listed again), as `file:line  name`, then each KEEP entry with its
reason. `--check` exits 1 when such a definition exists, or when a KEEP
entry no longer exists or is reached without it (so the list cannot go
stale).

The scan is name-based, so it is conservative: a name mentioned
anywhere in reached code (a string or an unrelated member of the same
name included) keeps every definition of that name alive. It may miss
dead code; it does not list live code, provided every implementation
of an inherited member is marked `override`.
"""
import argparse
import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SRC = ROOT / "src/main/scala"
RESOURCES = ROOT / "src/main/resources"   # service files name classes
PERFBENCH = ROOT / "perfbench/src"

ROOT_TYPES = ("SparkEntry", "TaskHive", "HttpFacade", "IngestPipeline",
              "GraftSession", "GraftExtensions", "Oracles", "PlanAudit")

# Unreached definitions kept on purpose: qualified name -> reason.
KEEP = {
    # Reference twins: a spec compares the production operator with each.
    "SimilarityOps.srpBucketsHof": "reference twin of the native SRP bands",
    "SimilarityOps.minhashSignaturesAgg": "reference twin of the native MinHash signature",
    "SimilarityOps.simhashesAgg": "reference twin of the native SimHash",
    "SimilarityOps.latticeBandedOfHof": "reference twin of the native lattice bands",
    "SimilarityOps.semanticPairsRoleUnsharded": "reference twin of the sharded semantic role join",
    "SimilarityOps.semanticPairsRoleWideUnsharded": "reference twin of the sharded wide semantic role join",
    "SimilarityOps.withPolySignatureHof": "reference twin of the native polynomial MinHash",
    "SimilarityOps.minhashPolyPairsRoleUnsharded": "reference twin of the sharded minhash_poly role join",
    "SimilarityOps.simhashPolyHof": "reference twin of the native polynomial SimHash",
    "TextOps.bpeDocTokenCountChain": "reference twin of the native BPE token count",
    "TextOps.fingerprintRollingHof": "reference twin of the native rolling fingerprint",
    "TextOps.docPackWindow": "reference twin of the doc-pack running sum",
    "TextOps.chunks10": "reference twin of the graft_chunks generator",
    "TextOps.shingles3": "reference twin of the graft_shingles generator",
    # Spec-driven surfaces with a stated purpose.
    "SimilarityOps.pairFamilies": "BandedJoinSpec iterates every banded family",
    "LayoutOps.writeZOrdered": "LayoutOpsSpec checks the z-order layout claim",
    "LayoutOps.writeLinear": "LayoutOpsSpec checks the linear layout claim",
    "LayoutOps.writeCompacted": "LayoutOpsSpec checks the compaction claim",
    "LayoutOps.writeSharded": "LayoutOpsSpec checks the sharded layout claim",
    "WorkerMonitor.monitor": "per-worker load (ROADMAP D5)",
    "WorkerMonitor.processGroup": "per-worker load (ROADMAP D5)",
    "CurationStream.curateWithinWatermark": "watermark-bounded form, for state eviction (ROADMAP D6)",
    "NearDupStream.nearDupPairsWithinWatermark": "watermark-bounded form, for state eviction (ROADMAP D6)",
    "SemanticStream.semanticPairsWithinWatermark": "watermark-bounded form, for state eviction (ROADMAP D6)",
    "MergeSink.compactedRead": "MergeSinkSpec checks mergeBatch's replay idempotence, which IngestPipeline relies on",
}

KEYWORDS = {"def", "val", "var", "type", "object", "class", "trait"}
MODIFIERS = {"private", "protected", "override", "final", "implicit", "lazy",
             "sealed", "abstract", "case"}
TEMPLATES = {"object", "class", "trait"}
TOKEN = re.compile(r'''
    (?P<nl>\n)
  | (?P<str>"""(?:.|\n)*?"""|"(?:\\.|[^"\\\n])*")
  | (?P<chr>'(?:\\.|[^'\\\n])')
  | (?P<id>`[^`\n]+`|[A-Za-z_][A-Za-z0-9_]*)
  | (?P<open>[{(\[])
  | (?P<close>[})\]])
  | (?P<other>[^\sA-Za-z_{}()\[\]"'`]+|\S)
''', re.VERBOSE)
IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
CHAR = re.compile(r"'(?:\\.|[^'\\\n])'")


def strip_comments(text):
    """Blank out // and (nested) /* */ comments, keeping string literals."""
    out, i, n = [], 0, len(text)
    while i < n:
        if text.startswith('"""', i):
            j = text.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and text[j] == '"':
                j += 1
            out.append(text[i:j])
            i = j
        elif CHAR.match(text, i):
            j = CHAR.match(text, i).end()
            out.append(text[i:j])
            i = j
        elif text[i] == '"':
            j = i + 1
            while j < n and text[j] not in '"\n':
                j += 2 if text[j] == "\\" else 1
            out.append(text[i:j + 1])
            i = j + 1
        elif text.startswith("//", i):
            j = text.find("\n", i)
            i = n if j < 0 else j
        elif text.startswith("/*", i):
            depth, j = 1, i + 2
            while j < n and depth:
                if text.startswith("/*", j):
                    depth, j = depth + 1, j + 2
                elif text.startswith("*/", j):
                    depth, j = depth - 1, j + 2
                else:
                    j += 1
            out.append("\n" * text.count("\n", i, j))
            i = j
        else:
            out.append(text[i])
            i += 1
    return "".join(out)


def tokens(text):
    line = 1
    for m in TOKEN.finditer(strip_comments(text)):
        kind, val = m.lastgroup, m.group()
        yield kind, val.strip("`") if kind == "id" else val, line
        line += val.count("\n")


def names_in(kind, val):
    if kind in ("id", "other"):     # "other": an operator such as `+`
        return [val]
    if kind == "str":
        return IDENT.findall(val)
    return []


class Def:
    def __init__(self, qname, name, parent, file, line):
        self.qname, self.name, self.parent = qname, name, parent
        self.file, self.line = file, line
        self.names = set()      # identifiers in its own tokens
        self.children = []
        self.implied = False    # reached with its enclosing type
        self.is_main = False


class Defs(dict):
    """qname -> Def; overloads and companions share one entry."""

    def define(self, name, parent, file, line, mods):
        qname = f"{parent.qname}.{name}" if parent else name
        d = self.get(qname)
        if d is None:
            d = self[qname] = Def(qname, name, parent, file, line)
            if parent:
                parent.children.append(d)
        if mods & {"override", "implicit"} or name in ("apply", "unapply"):
            d.implied = True
        if name == "main" and parent:
            parent.is_main = True
        return d

    def scan(self, path, text):
        """Split one file into definitions. A template member's tokens run
        from its keyword to the next member keyword of the same template
        (or the template's closing brace); a nested template's body
        belongs to its own members."""
        toks = list(tokens(text))
        rel = path.relative_to(ROOT)
        depth = []              # open brackets, innermost last
        templates = []          # (len(depth) inside the body, Def)
        owners = [[]]           # per template level: the Defs owning tokens
        mods, header = set(), None  # header: a template whose body may follow
        i = 0
        while i < len(toks):
            kind, val, line = toks[i]
            base = templates[-1][0] if templates else 0
            member_level = len(depth) == base
            if kind == "id" and member_level and val in ("import", "package"):
                nest = 0        # skip to the end of the line, braces included
                while i + 1 < len(toks) and not (toks[i + 1][0] == "nl" and nest == 0):
                    nest += (toks[i + 1][0] == "open") - (toks[i + 1][0] == "close")
                    i += 1
            elif kind == "id" and member_level and val in MODIFIERS:
                mods.add(val)
                if toks[i + 1][1] == "[":   # private[graft]
                    i += 3
            elif kind == "id" and member_level and val in KEYWORDS and toks[i - 1][1] != ".":
                parent = templates[-1][1] if templates else None
                i += 1
                while toks[i][0] == "nl":
                    i += 1
                if toks[i][1] == "(":       # val (a, b) = ...
                    names = []
                    while toks[i][1] != ")":
                        names += [toks[i][1]] if toks[i][0] == "id" else []
                        i += 1
                else:
                    names = [toks[i][1]]
                owners[-1] = [self.define(n, parent, rel, line, mods) for n in names]
                header = owners[-1][0] if val in TEMPLATES else None
                mods = set()
            elif kind != "nl":
                mods = set()
                if kind == "open" and val == "{" and header and member_level:
                    depth.append(val)
                    templates.append((len(depth), header))
                    owners.append([])
                    header = None
                elif kind == "open":
                    depth.append(val)
                elif kind == "close" and depth:
                    depth.pop()
                    if templates and len(depth) < templates[-1][0]:
                        templates.pop()
                        owners.pop()
                for n in names_in(kind, val):
                    for d in owners[-1]:
                        d.names.add(n)
            i += 1


def outside_names():
    """Names the benchmark harness and the resource files mention."""
    names = set()
    for p in sorted(PERFBENCH.rglob("*.scala")):
        for kind, val, _ in tokens(p.read_text(encoding="utf-8")):
            names.update(names_in(kind, val))
    for p in sorted(RESOURCES.rglob("*")):
        if p.is_file():
            names.update(IDENT.findall(p.read_text(encoding="utf-8")))
    return names


def reach(defs, roots, mentioned):
    """qnames reached from the roots (with their enclosing types) and
    from the top-level definitions the mentioned names name."""
    by_name = {}
    for d in defs.values():
        by_name.setdefault(d.name, []).append(d)
    mentioned = set(mentioned)
    work = list(roots) + [d for n in mentioned for d in by_name.get(n, ())
                          if d.parent is None]
    reached = set()
    while work:
        chain, d = [], work.pop()
        while d is not None and d.qname not in reached:
            chain.append(d)
            d = d.parent
        for d in reversed(chain):
            reached.add(d.qname)
            work += [c for c in d.children if c.implied or c.name in mentioned]
            for n in d.names - mentioned:
                mentioned.add(n)
                work += [c for c in by_name.get(n, ())
                         if c.parent is None or c.parent.qname in reached]
    return reached


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--check", action="store_true",
                    help="exit 1 on an unreached name off KEEP or a stale KEEP entry")
    args = ap.parse_args()

    defs = Defs()
    for p in sorted(SRC.rglob("*.scala")):
        defs.scan(p, p.read_text(encoding="utf-8"))
    roots = [d for d in defs.values()
             if d.is_main or d.qname in ROOT_TYPES
             or (d.parent is not None and d.parent.qname in ROOT_TYPES)]
    mentioned = outside_names()
    live = reach(defs, roots, mentioned)
    kept = reach(defs, roots + [defs[k] for k in KEEP if k in defs], mentioned)

    unreached = [d for d in sorted(defs.values(), key=lambda d: (str(d.file), d.line))
                 if d.qname not in kept
                 and (d.parent is None or d.parent.qname in kept)]
    stale = [k for k in KEEP if k not in defs or k in live]
    for d in unreached:
        print(f"{d.file}:{d.line}  {d.qname}")
    for k, reason in KEEP.items():
        if k in stale:
            print(f"stale KEEP entry: {k} "
                  + ("does not exist" if k not in defs else "is reached without it"))
        else:
            print(f"{defs[k].file}:{defs[k].line}  {k}  [keep: {reason}]")
    if args.check and (unreached or stale):
        sys.exit(1)

if __name__ == "__main__":
    main()
