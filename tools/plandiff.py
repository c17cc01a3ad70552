#!/usr/bin/env python3
"""Plan-fingerprint diff (BASELINE.md "Plan-fingerprint gate").

Usage: python3 tools/plandiff.py [--summary] OLD_plans.json NEW_plans.json

Compares the per-query fingerprints graft.Plans emits and prints one
line per changed query: which counters moved (shuffle/broadcast/cached/
sorts), scans added/removed, and any scan whose ReadSchema column set
or pushed-filter string changed. Exit 0 when identical, 1 when any
query differs, 2 when the query sets differ (added/removed queries are
listed but may be intentional surface changes).

--summary sorts each changed query into one of two classes instead:
"only shuffleExchanges went down" (every other counter and the scan
multiset are unchanged) or "anything else", prints each class with its
queries, and exits 0 when every change is of the first class, 1 when
any is of the second, 2 when the query sets differ.
"""
import json
import sys
from collections import Counter


def load(path):
    d = json.load(open(path))
    return {p["name"]: p for p in d["plans"]}


def scankey(s):
    return (tuple(s["columns"]), s["pushedFilters"],
            s["partitionFilters"], s["dataFilters"])


COUNTERS = ("shuffleExchanges", "broadcastExchanges", "cachedScans", "sorts")
FEWER_SHUFFLES = "only shuffleExchanges went down"
OTHER = "anything else"


def diff(o, n):
    """the change messages for one query; empty when identical"""
    msgs = []
    for k in COUNTERS:
        if o[k] != n[k]:
            msgs.append(f"{k} {o[k]}->{n[k]}")
    # multiset compare (ADVICE r20): sorted-list membership missed
    # multiplicity-only drift (e.g. a duplicated scan [A,A] -> [A] —
    # a self-join collapsing to one read, or a scan duplicating) —
    # count deltas per distinct fingerprint so those flag as changed.
    oc, nc = Counter(map(scankey, o["scans"])), Counter(map(scankey, n["scans"]))
    if oc != nc:
        for s in sorted(set(oc) | set(nc)):
            if oc[s] != nc[s]:
                msgs.append(f"scan count {oc[s]}->{nc[s]} cols={list(s[0])} pushed={s[1]}")
    return msgs


def classify(msgs):
    """FEWER_SHUFFLES when diff's one message is shuffleExchanges going down"""
    if len(msgs) == 1 and msgs[0].startswith("shuffleExchanges "):
        before, after = map(int, msgs[0].split(" ", 1)[1].split("->"))
        if after < before:
            return FEWER_SHUFFLES
    return OTHER


def main():
    args = sys.argv[1:]
    summary = "--summary" in args
    args = [a for a in args if a != "--summary"]
    old, new = load(args[0]), load(args[1])
    added = sorted(set(new) - set(old))
    removed = sorted(set(old) - set(new))
    changed = 0
    classes = {FEWER_SHUFFLES: [], OTHER: []}
    for name in sorted(set(old) & set(new)):
        msgs = diff(old[name], new[name])
        if msgs:
            changed += 1
            line = f"{name}: " + "; ".join(msgs)
            if summary:
                classes[classify(msgs)].append(line)
            else:
                print(line)
    if summary:
        for cls, lines in classes.items():
            print(f"{cls}: {len(lines)}")
            for line in lines:
                print(f"  {line}")
    if added:
        print(f"added queries ({len(added)}): {', '.join(added)}")
    if removed:
        print(f"removed queries ({len(removed)}): {', '.join(removed)}")
    print(f"common: {len(set(old) & set(new))}, changed: {changed}, "
          f"added: {len(added)}, removed: {len(removed)}")
    if added or removed:
        sys.exit(2)
    if summary:
        sys.exit(1 if classes[OTHER] else 0)
    sys.exit(1 if changed else 0)


if __name__ == "__main__":
    main()
