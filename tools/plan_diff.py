#!/usr/bin/env python3
"""Diff two plan dumps with their run-dependent ids masked.

A formatted plan carries ids that change between runs of the same tree:
expression ids (`#<n>`), exchange ids (`plan_id=<n>`), RDD ids
(`RDD[<n>]`), call-site lines (`<File>.scala:<n>`), and the JVM object
identities that typed operators and UDAF calls print for their
functions (`$$Lambda$<n>/0x<addr>@<hash>`, `<Class>@<hash>`). Entries
that run Spark jobs while their DataFrame is built draw the first three
from JVM-wide counters, so two dumps of one unchanged plan differ byte
for byte. This tool masks the six id forms and prints a unified diff of
what is left.

Usage: plan_diff.py <before.txt> <after.txt>
Exit 0 = no difference after masking; 1 = differences printed.
"""
import difflib
import re
import signal
import sys

MASKS = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"(\w+\.scala):\d+"), r"\1:N"),
    (re.compile(r"Lambda\$\d+/0x[0-9a-f]+"), "Lambda$N"),
    (re.compile(r"(?<=[\w$])@[0-9a-f]+\b"), "@H"),
]


def masked(path):
    with open(path, encoding="utf-8") as f:
        text = f.read()
    for pat, rep in MASKS:
        text = pat.sub(rep, text)
    return text.splitlines(keepends=True)


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    a, b = argv[1], argv[2]
    lines = list(difflib.unified_diff(masked(a), masked(b), fromfile=a, tofile=b))
    sys.stdout.writelines(lines)
    return 1 if lines else 0


if __name__ == "__main__":
    signal.signal(signal.SIGPIPE, signal.SIG_DFL)  # quiet when piped to head
    sys.exit(main(sys.argv))
