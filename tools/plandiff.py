#!/usr/bin/env python3
"""Diff two `graft.Explain` plan dumps, name by name.

Usage: python3 tools/plandiff.py <plansA> <plansB> [name ...]

<plansA> and <plansB> are `target/plans` directories written by
`sbt "runMain graft.Explain [names]"` in two checkouts. For each name
(default: every name dumped in either directory) the `fn` plan
(`<name>.txt`) and, where present, the bench plan (`<name>.bench.txt`)
are compared after masking what differs between two runs of the same
plan: expression ids (`#123`), RDD ids, lambda and object hashes,
UUIDs, `_<16 hex>` path tags, the checkout path and the line number of
a checkpoint's call site (`localCheckpoint at ExtQueries.scala:1548`).
Prints one line per name, `identical` or `differs`, with the first
differing masked line of each differing dump. Exits 1 when any name
differs or is missing from one side.
"""
import difflib
import os
import re
import sys

USAGE = "usage: python3 tools/plandiff.py <plansA> <plansB> [name ...]"

MASKS = [
    (re.compile(r"#\d+L?"), "#"),
    (re.compile(r"RDD\[\d+\]"), "RDD[]"),
    (re.compile(r"\$\$Lambda[^\s,\])]*"), "$$Lambda"),
    (re.compile(r"@[0-9a-f]{5,}\b"), "@"),
    (re.compile(r"\b[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-"
                r"[0-9a-f]{12}\b"), "<uuid>"),
    (re.compile(r"_[0-9a-f]{16}\b"), "_<tag>"),
    (re.compile(r"(localCheckpoint at [\w$]+\.scala):\d+"), r"\1:N"),
]


def checkout_of(plans_dir):
    """The checkout a `target/plans` dump was written in (masked out of
    paths); None when the directory is not laid out that way."""
    d = os.path.realpath(plans_dir)
    if os.path.basename(d) == "plans" and \
            os.path.basename(os.path.dirname(d)) == "target":
        return os.path.dirname(os.path.dirname(d))
    return None


def masked(path, checkout):
    with open(path) as f:
        text = f.read()
    if checkout:
        text = text.replace(checkout, "<checkout>")
    for pat, rep in MASKS:
        text = pat.sub(rep, text)
    return text.splitlines()


def dumped_names(plans_dir):
    names = set()
    for f in os.listdir(plans_dir):
        if f.endswith(".bench.txt"):
            names.add(f[:-len(".bench.txt")])
        elif f.endswith(".txt"):
            names.add(f[:-len(".txt")])
    return names


def compare(name, a_dir, b_dir, a_root, b_root):
    """(verdict, detail) for one name over its fn and bench dumps."""
    details = []
    for suffix in (".txt", ".bench.txt"):
        fa = os.path.join(a_dir, name + suffix)
        fb = os.path.join(b_dir, name + suffix)
        if not os.path.exists(fa) and not os.path.exists(fb):
            if suffix == ".txt":
                return "missing", "no dump on either side"
            continue
        for f, side in ((fa, "A"), (fb, "B")):
            if not os.path.exists(f):
                return "missing", f"{name + suffix} not in {side}"
        la, lb = masked(fa, a_root), masked(fb, b_root)
        if la != lb:
            diff = [l for l in difflib.unified_diff(la, lb, lineterm="", n=0)
                    if l[:1] in "+-" and l[:3] not in ("+++", "---")]
            details.append(f"{name + suffix}: {diff[0][:160] if diff else ''}")
    return ("differs", "; ".join(details)) if details else ("identical", "")


def main(argv):
    if len(argv) < 2:
        sys.exit(USAGE)
    a_dir, b_dir = argv[0], argv[1]
    for d in (a_dir, b_dir):
        if not os.path.isdir(d):
            sys.exit(f"{d}: not a directory — {USAGE}")
    names = argv[2:] or sorted(dumped_names(a_dir) | dumped_names(b_dir))
    a_root, b_root = checkout_of(a_dir), checkout_of(b_dir)
    bad = 0
    width = max(len(n) for n in names) if names else 0
    for name in names:
        verdict, detail = compare(name, a_dir, b_dir, a_root, b_root)
        bad += verdict != "identical"
        print(f"{name:<{width}}  {verdict}" + (f"  {detail}" if detail else ""))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
