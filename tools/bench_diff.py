"""Diff two bench outputs (BENCH_r{N}.json driver artifacts or raw
`python bench.py` stdout captures): per-query ratios, sorted by regression,
with the documented session-variance band marked. Usage:

    python tools/bench_diff.py BENCH_r05.json /tmp/bench_now.txt
    python tools/bench_diff.py --threshold 1.25 old.txt new.txt

Accepts either the driver artifact (JSON with a "tail" field holding the
stdout tail) or a raw stdout capture containing the full
headline_queries_total line.
"""

from __future__ import annotations

import argparse
import json
import re
import sys

VARIANCE_BAND = 1.10  # documented same-box, cross-session noise
# a query regressed when it got this much slower AND by at least this
# many seconds (a ratio alone flags sub-second noise on tiny queries);
# bench.py flags its regressions with the same pair
REGRESSION_RATIO = 1.25
REGRESSION_MIN_S = 0.5


def load_queries(path: str) -> dict[str, float]:
    text = open(path).read()
    try:
        artifact = json.loads(text)
        if isinstance(artifact, dict) and "tail" in artifact:
            text = artifact["tail"]
    except json.JSONDecodeError:
        pass
    # the full per-query line may be truncated in driver artifacts (fixed-
    # size tail) — scrape every "name": seconds pair instead of parsing.
    # The totals trailer's delta_vs_prev object maps real query names to
    # RATIOS — cut it (and everything after) so ratios never shadow seconds.
    cut = text.find('"delta_vs_prev"')
    if cut != -1:
        text = text[:cut]
    out: dict[str, float] = {}
    for m in re.finditer(r'"([a-z][a-z0-9_]+)":\s*([0-9]+\.[0-9]+)', text):
        name, val = m.group(1), float(m.group(2))
        if name in ("value", "sf", "parity7", "median_ratio", "steal_pct"):
            continue
        out[name] = val
    for drop in ("value", "sf", "parity7", "n_queries"):
        out.pop(drop, None)
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("old")
    ap.add_argument("new")
    ap.add_argument("--threshold", type=float, default=REGRESSION_RATIO)
    args = ap.parse_args()

    old, new = load_queries(args.old), load_queries(args.new)
    shared = sorted(set(old) & set(new))
    if not shared:
        print("no shared queries found", file=sys.stderr)
        return 1
    rows = [(q, old[q], new[q], new[q] / old[q] if old[q] else float("inf"))
            for q in shared]
    regressions = [
        r for r in rows if r[3] >= args.threshold and r[2] >= REGRESSION_MIN_S
    ]
    improvements = [
        r for r in rows if r[3] <= 1 / args.threshold and r[1] >= REGRESSION_MIN_S
    ]

    def show(title, rs, reverse):
        print(f"\n{title} ({len(rs)}):")
        for q, a, b, ratio in sorted(rs, key=lambda r: r[3], reverse=reverse):
            band = "" if ratio <= VARIANCE_BAND and ratio >= 1 / VARIANCE_BAND else ""
            print(f"  {q}: {a:.2f} -> {b:.2f}  ({ratio:.2f}x){band}")

    show(f">= {args.threshold}x slower (and >= {REGRESSION_MIN_S}s)", regressions, True)
    show(
        f"<= {1/args.threshold:.2f}x (improved, was >= {REGRESSION_MIN_S}s)",
        improvements,
        False,
    )
    o_sum = sum(old[q] for q in shared)
    n_sum = sum(new[q] for q in shared)
    print(
        f"\nshared {len(shared)} queries: {o_sum:.1f}s -> {n_sum:.1f}s"
        f" ({n_sum / o_sum:.2f}x; variance band +/-{(VARIANCE_BAND-1)*100:.0f}%)"
    )
    only_new = sorted(set(new) - set(old))
    if only_new:
        print(f"new-only queries ({len(only_new)}): "
              + ", ".join(f"{q}={new[q]:.2f}" for q in only_new))
    return 0


if __name__ == "__main__":
    sys.exit(main())
