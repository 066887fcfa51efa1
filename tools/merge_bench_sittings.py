"""Merge full bench records (bench.py's .local/bench_last.json shape)
into one per-query-minimum record, carrying each query's winning
sitting's sample-paired fields — the hand-merge the tracked
BENCH_BASELINE promotion used in the interrupted r13 build, as a
tool.

Usage: python tools/merge_bench_sittings.py out.json in1.json in2.json ...
(labels = input basenames; pass the result to save_bench_baseline.py)
"""

from __future__ import annotations

import json
import os
import sys

PER_QUERY = ("queries", "queries_spread", "queries_local_cal",
             "queries_samples", "query_class")


def main() -> None:
    if "--selfcheck" in sys.argv[1:]:
        # Clean-shell canary: pure-stdlib tool, nothing to import.
        print(f"selfcheck OK: merges {PER_QUERY} per-query fields")
        return
    if len(sys.argv) < 4:
        sys.exit("usage: merge_bench_sittings.py out.json "
                 "in1.json in2.json ...")
    out_path, srcs = sys.argv[1], sys.argv[2:]
    if len(srcs) < 2:
        sys.exit("need >= 2 sitting records")
    recs = [(os.path.splitext(os.path.basename(p))[0], json.load(open(p)))
            for p in srcs]
    base = dict(recs[-1][1])  # newest sitting: session-level fields
    merged_from = {}
    for key in PER_QUERY:
        base[key] = dict(base.get(key) or {})
    # Union the query keys across ALL sittings (r14 advice): iterating
    # only the first sitting's set raised KeyError on a sitting missing
    # a query, and queries present only in later sittings bypassed the
    # min-merge entirely.
    all_queries: set[str] = set()
    for _, r in recs:
        all_queries.update(r.get("queries") or {})
    for q in sorted(all_queries):
        candidates = [(label, r) for label, r in recs
                      if q in (r.get("queries") or {})]
        best_label, best_rec = min(
            candidates, key=lambda lr: lr[1]["queries"][q])
        merged_from[q] = best_label
        # All of a query's fields come from its winning sitting: a field
        # the winner lacks is dropped, never left at the newest
        # sitting's value.
        for key in PER_QUERY:
            val = (best_rec.get(key) or {}).get(q)
            if val is None:
                base[key].pop(q, None)
            else:
                base[key][q] = val
    base["value"] = round(sum(base["queries"].values()), 3)
    base["merged_from_sittings"] = merged_from
    with open(out_path, "w") as fh:
        json.dump(base, fh)
    print(f"wrote {out_path}: total={base['value']} "
          f"({len(base['queries'])} queries)")


if __name__ == "__main__":
    main()
