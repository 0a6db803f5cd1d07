#!/usr/bin/env python3
"""Round-over-round diff of the driver's CORRECTNESS_r{N}.json artifacts.

Surfaces queries that regressed (hash-green -> anything else), newly
appeared, disappeared, or changed oracle class (oracled vs rows-only),
so a round's first minutes start from "what actually changed" instead
of re-reading two 200-entry JSON maps by hand.

Usage: python3 tools/correctness_diff.py CORRECTNESS_r08.json CORRECTNESS_r09.json
Exit code 1 if any regression (green -> not-green or vanished query).
"""
import json
import sys


def classify(entry):
    if not isinstance(entry, dict):
        return "unknown"
    if entry.get("hash_match"):
        return "green"
    if entry.get("err") == "no_oracle":
        return "rows-only"
    if entry.get("err"):
        return f"err:{entry['err']}"
    return "MISMATCH"


def main(old_path, new_path):
    old = {k: classify(v) for k, v in json.load(open(old_path)).items()}
    new = {k: classify(v) for k, v in json.load(open(new_path)).items()}
    added = sorted(set(new) - set(old))
    removed = sorted(set(old) - set(new))
    regressed = sorted(q for q in set(old) & set(new)
                       if old[q] == "green" and new[q] != "green")
    improved = sorted(q for q in set(old) & set(new)
                      if old[q] != "green" and new[q] == "green")
    broken_new = sorted(q for q in added if new[q] not in ("green", "rows-only"))

    print(f"old: {old_path} ({len(old)} queries, "
          f"{sum(1 for v in old.values() if v == 'green')} green)")
    print(f"new: {new_path} ({len(new)} queries, "
          f"{sum(1 for v in new.values() if v == 'green')} green)")
    for q in added:
        print(f"  added: {q} [{new[q]}]")
    for q in removed:
        print(f"  REMOVED: {q} [was {old[q]}]")
    for q in regressed:
        print(f"  REGRESSED: {q} green -> {new[q]}")
    for q in improved:
        print(f"  improved: {q} {old[q]} -> green")
    if not (added or removed or regressed or improved):
        print("no changes")
    return 1 if (regressed or removed or broken_new) else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        print(__doc__)
        sys.exit(2)
    sys.exit(main(sys.argv[1], sys.argv[2]))
