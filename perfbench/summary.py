#!/usr/bin/env python3
"""Summarize run records: per workload and metric, the median, the
quartiles and the spread (Q3 - Q1) / median, which is the evidence for
each bound in BENCHMARK.json; and the tracing overhead, the difference
between the traced and untraced medians of each end-to-end metric.

    python3 perfbench/summary.py [record.json ...]

With no arguments it reads every record under .perfbench/out.
"""
import json
import pathlib
import statistics
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent


def stats(xs):
    xs = [x for x in xs if x is not None]
    if not xs:
        return None
    med = statistics.median(xs)
    q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0], None, xs[0])
    return {"n": len(xs), "median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("nan")}


def main():
    paths = [pathlib.Path(p) for p in sys.argv[1:]] or sorted((ROOT / ".perfbench" / "out").glob("*.json"))
    recs = [json.loads(p.read_text()) for p in paths]
    groups = {}
    for r in recs:
        groups.setdefault((r["workload"], r["trace"]), []).append(r)
    print(f"{'workload':9s} {'tr':2s} {'metric':42s} {'n':>3s} {'median':>14s} {'q1':>14s} {'q3':>14s} {'spread':>7s}")
    for (w, tr), rs in sorted(groups.items()):
        rows = {}
        for r in rs:
            for section in ("e2e", "named", "per_layer", "layer_extra"):
                for k, v in r.get(section, {}).items():
                    if isinstance(v, (int, float)):
                        rows.setdefault((section, k), []).append(v)
            rows.setdefault(("host", "host.load_avg_end"), []).append(r["host_end"]["load_avg"])
            rows.setdefault(("host", "host.steal_s"), []).append(r["host.steal_s"])
            rows.setdefault(("host", "fail_ratio"), []).append(r["failed"] / r["attempted"])
        for (section, k), xs in rows.items():
            if section == "named" and ((("e2e", k) in rows) or k == "fail_ratio"):
                continue
            s = stats(xs)
            if s:
                print(f"{w:9s} {tr:<2d} {k:42s} {s['n']:3d} {s['median']:14.4f} {s['q1']:14.4f} "
                      f"{s['q3']:14.4f} {s['spread']:7.3f}")
    for w in sorted({w for w, _ in groups}):
        if (w, 0) in groups and (w, 1) in groups:
            for k in groups[(w, 0)][0]["e2e"]:
                m0 = statistics.median(r["e2e"][k] for r in groups[(w, 0)])
                m1 = statistics.median(r["e2e"][k] for r in groups[(w, 1)])
                print(f"{w:9s} tracing overhead {k:24s} {m1 - m0:+14.4f} ({(m1 - m0) / m0:+.1%})")


if __name__ == "__main__":
    main()
