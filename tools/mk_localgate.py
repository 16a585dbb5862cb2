"""Assemble LOCALGATE_r{N}.json from tools/compare.py run logs.

Each section maps query -> {rows, sec, ok, check, hash} scraped from the
verdict lines ("PASS name: N rows [X.Xs] hash=...", "PASS-EMPTY name:
0 rows ..." for a vacuous match, "ok?  name: rows-only check, N rows
[X.Xs] hash=..."); a FAIL anywhere aborts (the
artifact only records green boards). The embedded per-row verdict + the
matched value hash make the artifact SELF-CERTIFYING (round-10 verdict:
{rows, sec} alone proved nothing without re-deriving trust from
CORRECTNESS), and the top-level ``summary`` gives the driver one
greppable count per section. Usage:

    python tools/mk_localgate.py LOCALGATE_r11.json \
        engine_session_sf0.1=/tmp/gate_sf01_engine.log \
        vanilla_session_sf0.1=/tmp/gate_sf01_vanilla.log \
        --note "..."
"""

from __future__ import annotations

import argparse
import json
import re


def parse_log(path: str) -> dict[str, dict[str, object]]:
    out: dict[str, dict[str, object]] = {}
    text = open(path, encoding="utf-8", errors="replace").read()
    fails = re.findall(r"FAIL ([a-z0-9_]+)", text)
    if fails:
        raise SystemExit(f"{path}: FAIL rows present: {fails}")
    for m in re.finditer(
        r"PASS(-EMPTY)? ([a-z0-9_]+): (\d+) rows \[([0-9.]+)s\](?: hash=([a-z0-9:]+))?",
        text,
    ):
        out[m.group(2)] = {
            "rows": int(m.group(3)),
            "sec": float(m.group(4)),
            "ok": True,
            "check": "oracle_empty" if m.group(1) else "oracle_hash",
            "hash": m.group(5),
        }
    for m in re.finditer(
        r"ok\?\s+([a-z0-9_]+): rows-only check, (\d+) rows"
        r" \[([0-9.]+)s\](?: hash=([a-z0-9:]+))?",
        text,
    ):
        out[m.group(1)] = {
            "rows": int(m.group(2)),
            "sec": float(m.group(3)),
            "ok": True,
            "check": "rows_only",
            "hash": m.group(4),
        }
    if not out:
        raise SystemExit(f"{path}: no PASS lines found")
    return dict(sorted(out.items()))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("target")
    ap.add_argument("sections", nargs="+", metavar="name=logpath")
    ap.add_argument("--note", default="")
    args = ap.parse_args()
    target = args.target
    sections: dict[str, dict[str, dict[str, object]]] = {}
    for arg in args.sections:
        name, path = arg.split("=", 1)
        sections[name] = parse_log(path)
    summary = {
        name: {
            "n_ok": sum(1 for r in rows.values() if r["ok"]),
            "n_fail": sum(1 for r in rows.values() if not r["ok"]),
            "n_oracle_hash": sum(
                1 for r in rows.values() if r["check"] == "oracle_hash"
            ),
            "n_oracle_empty": sum(
                1 for r in rows.values() if r["check"] == "oracle_empty"
            ),
            "n_rows_only": sum(
                1 for r in rows.values() if r["check"] == "rows_only"
            ),
        }
        for name, rows in sections.items()
    }
    doc: dict[str, object] = {"note": args.note, "summary": summary}
    doc.update(sections)
    with open(target, "w", encoding="utf-8") as fh:
        json.dump(doc, fh, indent=1)
        fh.write("\n")
    print(f"wrote {target}: {summary}")


if __name__ == "__main__":
    main()
