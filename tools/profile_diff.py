#!/usr/bin/env python3
"""Round-over-round counter check for the Profile channel.

Usage: profile_diff.py OLD NEW

OLD and NEW are `PROFILE_rNN.json` files: the `^{` lines of
`sbt "runMain graft.Profile <sfDir>"`, one header line (cpus, sf,
overrides) and then one JSON object per query. For every query in OLD
this prints each counter that grew in NEW (jobs, stages, tasks,
shuffle read bytes, shuffle write bytes), every query missing from
NEW, and every query whose measured run failed in NEW but not in OLD.

Exits 1 if anything was printed, 0 otherwise. Counters are exact
(Profile drains the listener bus), so any increase is a real change in
the plan or the partitioning; compare files taken with the same
`cpus` and `sf` (a header mismatch is reported on stderr).
"""
import json
import sys

COUNTERS = ("jobs", "stages", "tasks", "shuf_read", "shuf_write")


def load(path):
    """(header, {query: row}) of one profile file."""
    header, rows = {}, {}
    with open(path) as f:
        for line in f:
            line = line.strip()
            if not line.startswith("{"):
                continue
            obj = json.loads(line)
            if "q" in obj:
                rows[obj["q"]] = obj
            else:
                header = obj
    return header, rows


def diff(old, new):
    """Lines describing every regression of `new` against `old`."""
    out = []
    for q, o in old.items():
        n = new.get(q)
        if n is None:
            out.append(f"{q}: missing from NEW")
            continue
        if "err" in n and "err" not in o:
            out.append(f"{q}: failed in NEW: {n['err']}")
        for c in COUNTERS:
            a, b = o.get(c, 0), n.get(c, 0)
            if b > a:
                out.append(f"{q}: {c} {a} -> {b} (+{b - a})")
    return out


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    old_header, old = load(argv[1])
    new_header, new = load(argv[2])
    for k in ("cpus", "sf"):
        if old_header.get(k) != new_header.get(k):
            print(f"note: {k} differs: {old_header.get(k)} vs "
                  f"{new_header.get(k)}", file=sys.stderr)
    lines = diff(old, new)
    for line in lines:
        print(line)
    print(f"{len(old)} queries compared, {len(lines)} regressions",
          file=sys.stderr)
    return 1 if lines else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
