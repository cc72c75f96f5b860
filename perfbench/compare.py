#!/usr/bin/env python3
"""Compare two result sets of the benchmark (ROADMAP direction 1).

  python3 perfbench/compare.py BASE.jsonl NEW.jsonl

Each file holds one JSON result per line, as `run.py --record` appends
them.  Results are aligned by workload and metric name; runs pair up by
seed where both sides ran the seed, otherwise in recorded order.  For each
metric the report gives each side's median and quartiles, the pairs each
side won, and a verdict against the metric's bound in BENCHMARK.json:

  improved    NEW wins at least 9 of 10 pairs and the medians differ by
              more than BASE's own quartile spread
  worse       NEW's median is worse than BASE's by more than the bound
  unchanged   neither
  unresolved  BASE's quartile spread (as a share of its median) is wider
              than the bound, unless every NEW run beats every BASE run

Per-layer metrics have no bound; they get the same report without a
verdict.  When a file holds traced and untraced runs of one seed, the
tracing overhead (trace.unit_s - unit_p50_s) is printed per workload.
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load_results(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def spec():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        b = json.load(f)
    return {m["name"]: m for m in b["end_to_end"] + b["per_layer"]}


def quartiles(values):
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def pairs(base, new):
    """[(base_result, new_result)] paired by seed, else by order."""
    bs = {r["seed"]: r for r in base}
    ns = {r["seed"]: r for r in new}
    common = [s for s in bs if s in ns]
    if common:
        return [(bs[s], ns[s]) for s in common]
    return list(zip(base, new))


def verdict(b, n, won_new, npairs, lower_is_better, bound):
    """b, n: lists of values of one metric; see the module docstring."""
    if not b or not n:
        return "missing"
    b1, bm, b3 = quartiles(b)
    nm = statistics.median(n)
    sign = 1.0 if lower_is_better else -1.0
    if bm == 0:
        return "unchanged" if nm == 0 else "unresolved"
    change = sign * (nm - bm) / abs(bm)       # > 0: NEW is worse
    spread = (b3 - b1) / abs(bm)
    all_better = (max(n) < min(b)) if lower_is_better else (min(n) > max(b))
    if spread > bound and not all_better:
        return "unresolved"
    if change > bound:
        return "worse"
    if npairs and won_new >= 0.9 * npairs and abs(nm - bm) > (b3 - b1):
        return "improved"
    return "unchanged"


def fmt(xs):
    """median [q1, q3] n"""
    if not xs:
        return "-"
    q1, q2, q3 = quartiles(xs)
    return "%.4g [%.4g, %.4g] n=%d" % (q2, q1, q3, len(xs))


def compare(base, new, metrics_spec, out=sys.stdout):
    verdicts = {}
    for wl in sorted({r["workload"] for r in base} | {r["workload"] for r in new}):
        for traced in (0, 1):
            bw = [r for r in base if r["workload"] == wl and r.get("trace", 0) == traced]
            nw = [r for r in new if r["workload"] == wl and r.get("trace", 0) == traced]
            if not bw and not nw:
                continue
            names = sorted({k for r in bw + nw for k in r["metrics"]})
            pr = pairs(bw, nw)
            for name in names:
                m = metrics_spec.get(name, {"better": "lower", "unit": "?"})
                lower = m.get("better", "lower") == "lower"
                bound = m.get("bound")
                b = [r["metrics"][name]["value"] for r in bw if name in r["metrics"]]
                n = [r["metrics"][name]["value"] for r in nw if name in r["metrics"]]
                won_b = won_n = 0
                for rb, rn in pr:
                    if name in rb["metrics"] and name in rn["metrics"]:
                        vb, vn = rb["metrics"][name]["value"], rn["metrics"][name]["value"]
                        if vb != vn:
                            if (vn < vb) == lower:
                                won_n += 1
                            else:
                                won_b += 1
                v = "-" if bound is None else verdict(b, n, won_n, len(pr), lower, bound)
                verdicts[(wl, name)] = v
                print("%-14s %-40s base %-32s new %-32s pairs won %d/%d  %s"
                      % (wl, name, fmt(b), fmt(n), won_b, won_n, v), file=out)
        for label, rs in (("base", base), ("new", new)):
            ov = overhead([r for r in rs if r["workload"] == wl])
            if ov is not None:
                print("%-14s tracing overhead (%s): %+.4f s median over %d seeds"
                      % (wl, label, ov[0], ov[1]), file=out)
    return verdicts


def overhead(results):
    plain = {r["seed"]: r["metrics"]["unit_p50_s"]["value"] for r in results
             if r.get("trace", 0) == 0 and "unit_p50_s" in r["metrics"]}
    traced = {r["seed"]: r["metrics"]["trace.unit_s"]["value"] for r in results
              if r.get("trace", 0) == 1 and "trace.unit_s" in r["metrics"]}
    diffs = [traced[s] - plain[s] for s in traced if s in plain]
    return (statistics.median(diffs), len(diffs)) if diffs else None


def main(argv):
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    compare(load_results(argv[0]), load_results(argv[1]), spec())
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
