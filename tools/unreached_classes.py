#!/usr/bin/env python3
"""List the compiled graft classes that no JVM run loaded.

Usage: python3 tools/unreached_classes.py <classesDir> <log>...

<classesDir> is a compiled tree such as target/scala-2.13/classes. Each
<log> is a class-load log file, or a directory whose *.log files are read.
Produce the logs by running the entry points to audit (Verify, the
perfbench workloads, ...) with

    JAVA_TOOL_OPTIONS='-Xlog:class+load=info:file=<logDir>/%p.log'

The log must go to a file: Verify and perfbench report on their last
stdout line. The logs must come from the same build as <classesDir>:
the compiler numbers anonymous classes, so an edit can rename them.

A Scala object compiles to a module class `X$` and a mirror class `X`
holding static forwarders, and a case class to `X` plus its companion
`X$`; a run that uses one of the pair often never loads the other. So
the two names count as one class, reached when either was loaded. The
output is one line per unreached class (the `$` of a module dropped),
sorted, with the count on the last line.
"""
import os
import re
import sys

LOAD = re.compile(r"\[class,load\]\s+(\S+)\s")


def log_files(paths):
    for p in paths:
        if os.path.isdir(p):
            for f in sorted(os.listdir(p)):
                if f.endswith(".log"):
                    yield os.path.join(p, f)
        else:
            yield p


def loaded_classes(paths) -> set:
    seen = set()
    for f in log_files(paths):
        with open(f, errors="replace") as fh:
            for line in fh:
                m = LOAD.search(line)
                if m and m.group(1).startswith("graft."):
                    seen.add(m.group(1))
    return seen


def compiled_classes(root: str) -> set:
    out = set()
    base = os.path.join(root, "graft")
    for d, _, files in os.walk(base):
        for f in files:
            if f.endswith(".class"):
                rel = os.path.relpath(os.path.join(d, f[:-len(".class")]), root)
                out.add(rel.replace(os.sep, "."))
    return out


def pair(name: str) -> str:
    return name[:-1] if name.endswith("$") and not name.endswith("$$") else name


def main(argv) -> int:
    if len(argv) < 3:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    root, logs = argv[1], argv[2:]
    if not os.path.isdir(os.path.join(root, "graft")):
        print(f"no graft classes under {root}", file=sys.stderr)
        return 2
    loaded = {pair(c) for c in loaded_classes(logs)}
    if not loaded:
        print("no graft class in any log: wrong paths, or logging was off",
              file=sys.stderr)
        return 2
    unreached = sorted({pair(c) for c in compiled_classes(root)} - loaded)
    for c in unreached:
        print(c)
    print(f"{len(unreached)} unreached graft classes")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
