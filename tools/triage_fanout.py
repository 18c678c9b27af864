"""Rank a captured plan corpus (tools/capture_plans.py output dir) for
the round-11 fan-out sweep (VERDICT r10 item 1): per gate, count
Exchange / BroadcastExchange nodes and per-SOURCE scan multiplicity
(how many times the same parquet file is instantiated in one plan),
join the quiet-machine floor seconds, and flag every gate at or above
the triage threshold (>=8 Exchanges or any single source scanned >=3x).

Usage: python tools/triage_fanout.py <plan_dir> [--json out.json]
"""

from __future__ import annotations

import argparse
import json
import os
import re


def gate_stats(path: str) -> dict:
    with open(path) as fh:
        text = fh.read()
    ex = len(re.findall(r"^[\s+:*-]*Exchange[^(\n]*\(\d+\)", text, re.M))
    bex = len(
        re.findall(r"^[\s+:*-]*BroadcastExchange[^(\n]*\(\d+\)", text, re.M)
    )
    scans: dict[str, int] = {}
    for m in re.finditer(r"Location: \w+ \[file:([^\]]+)\]", text):
        src = os.path.basename(m.group(1))
        scans[src] = scans.get(src, 0) + 1
    reused = len(re.findall(r"^[\s+:*-]*ReusedExchange", text, re.M))
    return {
        "exchange": ex,
        "bexchange": bex,
        "reused_exchange": reused,
        "scans": scans,
        "max_src_scans": max(scans.values(), default=0),
        "total_scans": sum(scans.values()),
    }


def main() -> None:
    ap = argparse.ArgumentParser(description="Rank a captured plan corpus by fan-out.")
    ap.add_argument("plan_dir", help="directory of <gate>.txt plans")
    ap.add_argument("--json", dest="out_json", help="also write per-gate stats here")
    args = ap.parse_args()
    plan_dir, out_json = args.plan_dir, args.out_json
    floors = {}
    fp = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench_floors.json"
    )
    try:
        with open(fp) as fh:
            floors = json.load(fh).get("gates", {})
    except (OSError, ValueError):
        pass
    rows = {}
    for fn in sorted(os.listdir(plan_dir)):
        if not fn.endswith(".txt"):
            continue
        name = fn[:-4]
        st = gate_stats(os.path.join(plan_dir, fn))
        st["floor"] = floors.get(name, 0.0)
        st["triage"] = st["exchange"] >= 8 or st["max_src_scans"] >= 3
        rows[name] = st
    flagged = {n: s for n, s in rows.items() if s["triage"]}
    order = sorted(
        flagged,
        key=lambda n: (
            -flagged[n]["floor"],
            -flagged[n]["exchange"],
            -flagged[n]["max_src_scans"],
        ),
    )
    print(f"{len(rows)} gates, {len(flagged)} flagged for triage")
    print(f"{'gate':42s} {'floor':>6s} {'Ex':>3s} {'BEx':>4s} {'reuse':>5s} {'maxScan':>7s}")
    for n in order:
        s = flagged[n]
        print(
            f"{n:42s} {s['floor']:6.2f} {s['exchange']:3d} "
            f"{s['bexchange']:4d} {s['reused_exchange']:5d} {s['max_src_scans']:7d}"
        )
    if out_json:
        with open(out_json, "w") as fh:
            json.dump(rows, fh, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
