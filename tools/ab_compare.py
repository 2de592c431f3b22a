"""Verdicts for one set of interleaved A/B bench lanes (tools/ab_lanes.sh).

Usage: python3 tools/ab_compare.py PREFIX [DIR]
  reads DIR/PREFIX_{head1,base1,head2,base2}.json (default DIR: bench_ab)

One row per query in both base lanes: each lane's median wall time (the
artifact's `queries_med`), the spread between the two base lanes, and a
verdict. The two base lanes run the same code, so their distance is the
noise floor of this box at this moment; a head is `not slower` when the mean
of its two medians exceeds the mean of the base medians by no more than that
spread, else `over spread`.
"""
import json
import os
import sys

LANES = ("head1", "base1", "head2", "base2")
RULE = ("not slower when mean(head1, head2) - mean(base1, base2) <= "
        "|base1 - base2| (per-lane medians), else over spread")


def load(path):
    with open(path) as f:
        return json.loads(f.read().strip().splitlines()[-1])


def verdict(base1, base2, head1, head2):
    """(spread, verdict) for one query's four lane medians."""
    spread = abs(base1 - base2)
    ok = (head1 + head2) / 2 - (base1 + base2) / 2 <= spread
    return spread, "not slower" if ok else "over spread"


def rows(lanes):
    """One (query, base1, base2, head1, head2, spread, verdict) per query
    that every lane timed."""
    meds = {lane: art.get("queries_med") or art["queries"] for lane, art in lanes.items()}
    names = sorted(set.intersection(*(set(m) for m in meds.values())))
    out = []
    for q in names:
        b1, b2, h1, h2 = (meds[lane][q] for lane in ("base1", "base2", "head1", "head2"))
        out.append((q, b1, b2, h1, h2) + verdict(b1, b2, h1, h2))
    return out


def report(table):
    lines = [RULE,
             f"{'query':32} {'base1':>8} {'base2':>8} {'head1':>8} {'head2':>8} "
             f"{'spread':>8}  verdict"]
    for q, b1, b2, h1, h2, spread, v in table:
        lines.append(f"{q:32} {b1:8.3f} {b2:8.3f} {h1:8.3f} {h2:8.3f} {spread:8.3f}  {v}")
    over = [r[0] for r in table if r[-1] == "over spread"]
    lines.append(f"{len(table) - len(over)}/{len(table)} not slower"
                 + (f"; over spread: {', '.join(over)}" if over else ""))
    return "\n".join(lines)


def main(argv):
    if len(argv) not in (2, 3):
        print(__doc__.strip(), file=sys.stderr)
        return 2
    prefix, root = argv[1], argv[2] if len(argv) == 3 else "bench_ab"
    lanes = {lane: load(os.path.join(root, f"{prefix}_{lane}.json")) for lane in LANES}
    print(report(rows(lanes)))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
