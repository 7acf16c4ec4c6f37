#!/usr/bin/env python3
"""Diff two `graft.Profile --plans` output directories, ignoring run-to-run noise.

`runMain graft.Profile --plans <sfDir> <outDir> <tag> [q...]` writes one
`<query>_<tag>.txt` per query (the formatted physical plan). Two dumps of
the same plans still differ in tokens that change between runs or
whenever code moves; these are normalised first:

  - expression ids      `vec_id#5214L`  -> `vec_id#N`
  - RDD ids             `MapPartitionsRDD[1273]` -> `MapPartitionsRDD[N]`
  - exchange plan ids   `[plan_id=19886]` -> `[plan_id=N]`
  - call sites          `at SimilarityOps.scala:457` -> `at <site>`
  - temp-dir suffixes   `/tmp/graft-cluster-idx2133568946273838746/` ->
                        `/tmp/graft-cluster-idx<tmp>/` (built indexes)
  - the JVM's warehouse `/tmp/graft-warehouse-11719/` ->
                        `/tmp/graft-warehouse-<pid>/` (managed tables)
  - lambda identities   `Ops$$$Lambda$6807/0x00007fc9bdceebe0@5724131e` ->
                        `Ops$$$Lambda<id>` (typed map functions)
  - lambda variables    `lambda x_53#5` -> `lambda x_N#N` (a JVM-wide
                        counter names each higher-order function's
                        variable, so the name depends on how many were
                        built before the query)

Queries are matched by name (the file name minus its `_<tag>.txt`).

Usage: python3 tools/plan_diff.py <dirA> <dirB> [--context N]
Exit 0 when every query present in both dirs has the same normalised plan
and neither dir has a query the other lacks; 1 otherwise (a unified diff
of each differing plan is printed).
"""
import argparse
import difflib
import os
import re
import sys

NORMALISE = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"\bat [\w$.]+\.scala:\d+"), "at <site>"),
    (re.compile(r"(/[A-Za-z][\w.-]*?)\d{8,}(?=/)"), r"\1<tmp>"),
    (re.compile(r"/graft-warehouse-\d+/"), "/graft-warehouse-<pid>/"),
    (re.compile(r"\$Lambda[\w$/]*@[0-9a-f]+"), "$Lambda<id>"),
    (re.compile(r"\bx_\d+#"), "x_N#"),
]


def normalise(text):
    for pattern, repl in NORMALISE:
        text = pattern.sub(repl, text)
    return text.splitlines()


def plans(d):
    """{query: path} for every `<query>_<tag>.txt` in `d`."""
    out = {}
    for name in sorted(os.listdir(d)):
        if name.endswith(".txt") and "_" in name:
            out[name[:-4].rsplit("_", 1)[0]] = os.path.join(d, name)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("a")
    ap.add_argument("b")
    ap.add_argument("--context", type=int, default=3)
    args = ap.parse_args()
    pa, pb = plans(args.a), plans(args.b)
    differ = False
    for q in sorted(pa.keys() ^ pb.keys()):
        print(f"[ONLY] {q} in {args.a if q in pa else args.b}")
        differ = True
    same = 0
    for q in sorted(pa.keys() & pb.keys()):
        with open(pa[q]) as fa, open(pb[q]) as fb:
            la, lb = normalise(fa.read()), normalise(fb.read())
        if la == lb:
            same += 1
            continue
        differ = True
        print(f"[DIFF] {q}")
        sys.stdout.writelines(l + "\n" for l in difflib.unified_diff(
            la, lb, pa[q], pb[q], n=args.context, lineterm=""))
    print(f"{same} identical, {len(pa.keys() & pb.keys()) - same} differ, "
          f"{len(pa.keys() ^ pb.keys())} unmatched")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main())
