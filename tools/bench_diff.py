#!/usr/bin/env python3
"""Name-wise, host-calibrated diff between two ``bench.py`` JSON lines
(bare, or wrapped in a ``parsed`` blob as the BENCH_r*.json files are).

``bench.py`` records every registered query's seconds in the name-keyed
``queries`` map.  Older snapshots kept only the slowest lines there and
every query's time positionally in ``qt`` (``qt[i]`` belongs to
``sorted(queries().keys())[i]`` of the registry that ran, fingerprinted
by ``qt_fp``); ``qt`` is decoded only when ``qt_fp`` equals the current
registry's fingerprint, otherwise the itemized map is all there is.

Bench sweeps land in different host phases (+15-70% swings on untouched
code), so raw deltas mislead: the calibration factor is the MEDIAN
new/old ratio over common lines (most lines are untouched by any change,
so the median ratio is the host-phase signature), and a mover is a line
whose ratio exceeds the threshold after dividing out that median.

Usage:
    python tools/bench_diff.py BENCH_r12.json BENCH_r13.json
    python tools/bench_diff.py old.json new.json --threshold 1.5 --min-sec 0.3
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import statistics
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def name_times(path: str) -> tuple[dict, dict[str, float]]:
    with open(path) as f:
        doc = json.load(f)
    doc = doc.get("parsed", doc)
    timed = dict(doc.get("queries", {}))
    if "qt" in doc:
        sys.path.insert(0, REPO)
        import __spark_entry__ as entry

        names = sorted(entry.queries())
        fp = hashlib.md5("|".join(names).encode()).hexdigest()[:8]
        if doc.get("qt_fp") == fp and len(names) == len(doc["qt"]):
            timed = {**dict(zip(names, doc["qt"])), **timed}
        else:
            print(
                f"# {path}: qt_fp={doc.get('qt_fp')} is not the current "
                f"registry's ({fp}); using the itemized map only",
                file=sys.stderr,
            )
    return doc, timed


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("old")
    ap.add_argument("new")
    ap.add_argument(
        "--threshold",
        type=float,
        default=1.5,
        help="calibrated ratio above which a line is a mover",
    )
    ap.add_argument(
        "--min-sec",
        type=float,
        default=0.3,
        help="ignore lines under this many seconds in BOTH rounds (timer noise)",
    )
    args = ap.parse_args()
    odoc, oq = name_times(args.old)
    ndoc, nq = name_times(args.new)
    common = sorted(set(oq) & set(nq))
    # oq[k] > 0 guard: a 0.0 s old line (sub-ms rounding) would raise
    # ZeroDivisionError and its ratio is meaningless anyway
    ratios = [
        nq[k] / oq[k]
        for k in common
        if oq[k] > 0 and (oq[k] >= args.min_sec or nq[k] >= args.min_sec)
    ]
    cal = statistics.median(ratios) if ratios else 1.0
    print(
        f"total {odoc.get('value')} -> {ndoc.get('value')} s | "
        f"eps {odoc.get('stream_eps')} -> {ndoc.get('stream_eps')} | "
        f"common lines {len(common)} | host calibration x{cal:.2f} "
        f"(median common-line ratio)"
    )
    movers = []
    zero_old = []
    for k in common:
        if max(oq[k], nq[k]) < args.min_sec:
            continue
        if oq[k] <= 0:  # ratio undefined; report alongside new-only lines
            zero_old.append(k)
            continue
        r = (nq[k] / oq[k]) / cal
        if r >= args.threshold or r <= 1 / args.threshold:
            movers.append((r, k))
    for r, k in sorted(movers, reverse=True):
        tag = "SLOWER" if r > 1 else "faster"
        print(f"x{r:5.2f} {tag}  {k}: {oq[k]} -> {nq[k]} s (calibrated)")
    if not movers:
        print(f"(no calibrated movers beyond x{args.threshold})")
    if zero_old:
        print("zero-old (no ratio):", ", ".join(f"{k}->{nq[k]}s" for k in zero_old))
    new_only = sorted((k for k in nq if k not in oq), key=lambda k: -nq[k])
    if new_only:
        print("new:", ", ".join(f"{k}={nq[k]}" for k in new_only[:12]))
    gone = sorted(k for k in oq if k not in nq)
    if gone:
        print("dropped/renamed:", ", ".join(gone[:12]))


if __name__ == "__main__":
    main()
