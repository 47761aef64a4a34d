#!/usr/bin/env python3
"""Compare perfbench result fingerprints across two checkouts.

    python3 tools/fingerprint_diff.py <parent checkout> <change checkout>

A perfbench run checks its fingerprints only against earlier runs of the
same workload and seed in its own `.bench_build/perfbench/out/fingerprints/`,
so a change that alters results relative to its parent passes every run.
This compares, for every workload-seed file present in both checkouts, the
fingerprint keys both hold (a run's key set can depend on how much work it
did, such as http_ingest's per-probe keys). Prints one line per file and
exits 1 if any shared key differs or no file is shared."""
import json
import pathlib
import sys


def fingerprints(checkout: str) -> dict:
    d = pathlib.Path(checkout) / ".bench_build" / "perfbench" / "out" / "fingerprints"
    return {p.name: json.loads(p.read_text()) for p in sorted(d.glob("*.json"))}


def main() -> int:
    if len(sys.argv) != 3:
        print(__doc__.strip().splitlines()[2].strip(), file=sys.stderr)
        return 2
    parent, change = fingerprints(sys.argv[1]), fingerprints(sys.argv[2])
    shared = sorted(parent.keys() & change.keys())
    bad = 0
    for name in shared:
        p, c = parent[name], change[name]
        keys = sorted(p.keys() & c.keys())
        moved = [k for k in keys if p[k] != c[k]]
        bad += bool(moved)
        status = "DIFFER " + ", ".join(f"{k}: {p[k]} -> {c[k]}" for k in moved) if moved else "same"
        print(f"{name}: {len(keys)} shared keys, {status}")
    if not shared:
        print("no workload-seed file in both checkouts")
        return 1
    print("FINGERPRINTS MATCH" if bad == 0 else f"FINGERPRINTS DIFFER in {bad} of {len(shared)} files")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
