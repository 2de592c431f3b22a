"""Growth table: how each benched query's work grows from a small to a large
scale factor, read from two Bench artifacts (their `per_rep` records).

Usage: python3 tools/growth.py SMALL.json LARGE.json [OUT.md]
  (default OUT.md: GROWTH.md; prints the flagged queries)

One row per query of the graded board (the artifact's `queries` map): the
large/small ratio of the per-rep medians of wall time, task time, shuffle
bytes (read + write), peak execution memory, scan input rows and written
output rows. A ratio whose small-scale value is zero prints `n/a`.
"""
import json
import statistics
import sys

# the flag rule, written once: a query's work should grow no faster than the
# rows it reads plus the rows it writes
FLAG_FACTOR = 2.0
RULE = (f"flagged when the task-time or shuffle-bytes ratio exceeds {FLAG_FACTOR:g}x "
        "the ratio of (input rows + output rows); a ratio with a zero small-scale "
        "value prints n/a and never flags")

COLUMNS = ("wall", "task", "shuffle", "peak_mem", "input_rows", "output_rows")


def load(path):
    with open(path) as f:
        return json.loads(f.read().strip().splitlines()[-1])


def medians(reps):
    """Per-rep medians of the measures a row compares."""
    med = lambda f: statistics.median(f(r) for r in reps)
    return {
        "wall": med(lambda r: r["wall_s"]),
        "task": med(lambda r: r["exec.task_s"]),
        "shuffle": med(lambda r: r["shuffle.read_bytes"] + r["shuffle.write_bytes"]),
        "peak_mem": med(lambda r: r["exec.peak_mem_bytes"]),
        "input_rows": med(lambda r: r["scan.input_rows"]),
        "output_rows": med(lambda r: r["write.output_rows"]),
    }


def ratio(large, small):
    return None if small == 0 else large / small


def row(name, small_reps, large_reps):
    s, l = medians(small_reps), medians(large_reps)
    r = {c: ratio(l[c], s[c]) for c in COLUMNS}
    rows_ratio = ratio(l["input_rows"] + l["output_rows"], s["input_rows"] + s["output_rows"])
    flagged = rows_ratio is not None and any(
        r[c] is not None and r[c] > FLAG_FACTOR * rows_ratio for c in ("task", "shuffle"))
    return {"query": name, "ratios": r, "rows_ratio": rows_ratio, "flagged": flagged}


def table(small, large):
    """Rows for every query on the small artifact's board, sorted by name."""
    return [row(q, small["per_rep"][q], large["per_rep"][q]) for q in sorted(small["queries"])]


def fmt(x):
    return "n/a" if x is None else f"{x:.2f}"


def markdown(rows, small, large):
    flagged = [r["query"] for r in rows if r["flagged"]]
    out = [
        "# Growth table",
        "",
        f"Generated by `python3 tools/growth.py` from `{small}` (small) and `{large}` "
        "(large), two Bench artifacts. Each cell is large/small of the per-rep "
        "medians; shuffle is read + write bytes; (in+out) is input rows + output rows.",
        "",
        f"Rule: {RULE}.",
        "",
        f"{len(rows)} queries, {len(flagged)} flagged: "
        + (", ".join(f"`{q}`" for q in flagged) if flagged else "none") + ".",
        "",
        "| query | wall | task | shuffle | peak mem | input rows | output rows "
        "| (in+out) | flag |",
        "|---|---|---|---|---|---|---|---|---|",
    ]
    for r in rows:
        cells = [fmt(r["ratios"][c]) for c in COLUMNS] + [fmt(r["rows_ratio"])]
        out.append(f"| {r['query']} | " + " | ".join(cells)
                   + f" | {'FLAG' if r['flagged'] else ''} |")
    return "\n".join(out) + "\n", flagged


def main(argv):
    if len(argv) not in (3, 4):
        sys.exit(__doc__)
    small_path, large_path = argv[1], argv[2]
    out_path = argv[3] if len(argv) == 4 else "GROWTH.md"
    rows = table(load(small_path), load(large_path))
    text, flagged = markdown(rows, small_path, large_path)
    with open(out_path, "w") as f:
        f.write(text)
    print(f"{out_path}: {len(rows)} queries, {len(flagged)} flagged")
    for q in flagged:
        print(q)


if __name__ == "__main__":
    main(sys.argv)
