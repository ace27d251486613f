#!/usr/bin/env python3
"""Compare two Bench runs (times + optional shuffle/spill lines) and report
per-query scaling: ratio of times between a base and a scaled run, flagged
against the data-size factor. Usage:

    python3 tools/scaling_report.py base.json scaled.json [factor]

Each input file holds the two JSON lines Bench prints (the "total" line and
the "bytes" line); a file with only the "total" line reports times alone."""
import json
import sys


def load(path):
    times, by = {}, {}
    with open(path) as f:
        for line in f:
            line = line.strip()
            if not line:
                continue
            d = json.loads(line)
            if d.get("metric") == "total":
                times = d["queries"]
            elif d.get("metric") == "bytes":
                by = d["queries"]
    return times, by


def fmt_bytes(n):
    for unit in ("B", "KB", "MB", "GB"):
        if abs(n) < 1024:
            return f"{n:.0f}{unit}"
        n /= 1024
    return f"{n:.1f}TB"


def main():
    base_path, scaled_path = sys.argv[1], sys.argv[2]
    factor = float(sys.argv[3]) if len(sys.argv) > 3 else 10.0
    bt, bb = load(base_path)
    st, sb = load(scaled_path)
    common = [q for q in st if q in bt]
    rows = []
    skipped = [q for q in common if bt[q] == -2.0 or st[q] == -2.0]
    for q in common:
        t0, t1 = bt[q], st[q]
        if t0 == -2.0 or t1 == -2.0:
            # -2 = the query's own validation-bound guard declined the
            # corpus (designed behavior for labeled O(n^2) validators at
            # scale) — reported separately, not as FAIL
            continue
        if t0 < 0 or t1 < 0:
            rows.append((float("inf"), q, t0, t1, None, None))
            continue
        ratio = t1 / t0 if t0 > 0 else float("inf")
        m0, m1 = bb.get(q), sb.get(q)
        rows.append((ratio, q, t0, t1, m0, m1))
    rows.sort(reverse=True)
    print(f"{'query':36s} {'base':>7s} {'scaled':>8s} {'ratio':>6s}  shuffle_w base->scaled  spill")
    for ratio, q, t0, t1, m0, m1 in rows:
        flag = " FAIL" if t1 < 0 or t0 < 0 else (" SUPER" if ratio > factor * 1.5 else "")
        sw = (
            f"{fmt_bytes(m0['shuffle_write'])}->{fmt_bytes(m1['shuffle_write'])}"
            if m0 and m1 else "-")
        sp = fmt_bytes(m1["disk_spill"]) if m1 and m1.get("disk_spill") else "0"
        print(f"{q:36s} {t0:7.2f} {t1:8.2f} {ratio:6.1f}{flag}  {sw:>22s}  {sp}")
    ok = [r for r in rows if r[2] >= 0 and r[3] >= 0]
    tot0, tot1 = sum(r[2] for r in ok), sum(r[3] for r in ok)
    print(f"\ntotals: base {tot0:.1f}s scaled {tot1:.1f}s ratio {tot1 / tot0:.2f}x "
          f"(data factor {factor:g}); {len(ok)}/{len(rows)} queries ok")
    if skipped:
        print(f"guard-skipped (validators past their bound, by design): "
              f"{', '.join(sorted(skipped))}")


if __name__ == "__main__":
    main()
