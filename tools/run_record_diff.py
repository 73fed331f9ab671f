#!/usr/bin/env python3
"""Print two perfbench run records side by side.

A and B are run records (`.bench_build/runs/<workload>-seed<n>-trace<t>.json`,
written by `perfbench/run.py`). Printed, one row per name present in either
record, with the B/A ratio:

- the record-level `repeat_share` (the share of requests that repeat an
  earlier one), `attempted` and `failed` operations;
- the per-call wall times (`call_ms`): their count, sum, p10, p50 and p90
  (linear-interpolated, as perfbench computes its quantiles), so a
  throughput change shows whether its time went to the slow tail or to the
  fast calls;
- the gated metrics (`metrics`: end-to-end with --trace 0, per-layer with
  --trace 1), the workload metrics and the layer metrics;
- for traced records, per span name: the number of spans, the median wall
  time in ms and the median Spark jobs, counting the jobs of the span and of
  every span below it (a request span launches no job itself; its
  `api.build`, `query.plan` and `query.exec` children do);
- for traced records, per request kind (a top-level `request.*` span), the
  median wall time of its misses and of its hits, each on its own row: a
  miss is a request whose subtree ran at least one Spark job, a hit one
  that ran none (the page cache answered it). The ratio of two kinds' miss
  medians in one record, for example `request.search_ivf` over
  `request.search` (exact), reads straight off one traced A/B.

Usage: run_record_diff.py A.json B.json
"""
import json
import statistics
import sys


def fmt(v):
    if v is None:
        return "-"
    return f"{v:.4g}" if isinstance(v, float) else str(v)


def ratio(a, b):
    if a is None or b is None or a == 0:
        return "-"
    return f"{b / a:.3f}"


def metric_rows(rec, section):
    return {k: m["value"] for k, m in rec.get(section, {}).items()}


def quantile(xs, q):
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def call_rows(rec):
    xs = rec.get("call_ms") or []
    if not xs:
        return {}
    return {"count": len(xs), "sum": float(sum(xs)),
            **{f"p{int(q * 100)}": quantile(xs, q) for q in (0.1, 0.5, 0.9)}}


def subtree_jobs(spans):
    """Span id -> the Spark jobs of the span and of every span below it."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)

    def jobs(s):
        return s["jobs"] + sum(jobs(c) for c in children.get(s["id"], []))

    return {s["id"]: jobs(s) for s in spans}


def span_rows(rec):
    spans = rec.get("spans", [])
    jobs = subtree_jobs(spans)
    by_name = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append((s["end_ms"] - s["start_ms"], jobs[s["id"]]))
    return {name: (len(xs), statistics.median(x[0] for x in xs), statistics.median(x[1] for x in xs))
            for name, xs in by_name.items()}


def request_rows(rec):
    spans = rec.get("spans", [])
    jobs = subtree_jobs(spans)
    by_kind = {}
    for s in spans:
        if s["parent"] == -1 and s["name"].startswith("request."):
            kind = "miss" if jobs[s["id"]] > 0 else "hit"
            by_kind.setdefault(f"{s['name']} {kind}", []).append(s["end_ms"] - s["start_ms"])
    return {name: (len(xs), statistics.median(xs)) for name, xs in by_kind.items()}


def table(title, header, rows):
    print(f"\n{title}")
    widths = [max(len(str(r[i])) for r in [header] + rows) for i in range(len(header))]
    for r in [header] + rows:
        print("  " + "  ".join(str(c).ljust(w) if i == 0 else str(c).rjust(w)
                               for i, (c, w) in enumerate(zip(r, widths))))


def main(path_a, path_b):
    a, b = (json.load(open(p)) for p in (path_a, path_b))
    for label, rec, path in (("A", a, path_a), ("B", b, path_b)):
        print(f"{label}: {path}  workload={rec.get('workload')} seed={rec.get('seed')} "
              f"trace={rec.get('trace')} cores={rec.get('cores')} commit={rec.get('commit')}")
    table("record", ("name", "A", "B", "B/A"),
          [(n, fmt(a.get(n)), fmt(b.get(n)), ratio(a.get(n), b.get(n)))
           for n in ("repeat_share", "attempted", "failed")])
    ca, cb = call_rows(a), call_rows(b)
    if ca or cb:
        table("call_ms", ("name", "A", "B", "B/A"),
              [(n, fmt(ca.get(n)), fmt(cb.get(n)), ratio(ca.get(n), cb.get(n)))
               for n in ("count", "sum", "p10", "p50", "p90")])
    for section in ("metrics", "workload_metrics", "layer_metrics"):
        ma, mb = metric_rows(a, section), metric_rows(b, section)
        names = sorted(set(ma) | set(mb))
        if names:
            table(section, ("name", "A", "B", "B/A"),
                  [(n, fmt(ma.get(n)), fmt(mb.get(n)), ratio(ma.get(n), mb.get(n))) for n in names])
    sa, sb = span_rows(a), span_rows(b)
    names = sorted(set(sa) | set(sb))
    if names:
        none = (None, None, None)
        table("spans (median per span name; jobs include descendants)",
              ("span", "n A", "n B", "ms A", "ms B", "ms B/A", "jobs A", "jobs B"),
              [(n, fmt(sa.get(n, none)[0]), fmt(sb.get(n, none)[0]),
                fmt(sa.get(n, none)[1]), fmt(sb.get(n, none)[1]),
                ratio(sa.get(n, none)[1], sb.get(n, none)[1]),
                fmt(sa.get(n, none)[2]), fmt(sb.get(n, none)[2])) for n in names])
    ra, rb = request_rows(a), request_rows(b)
    names = sorted(set(ra) | set(rb))
    if names:
        none = (None, None)
        table("requests (median wall time of misses, which ran a Spark job, and of hits)",
              ("request", "n A", "n B", "ms A", "ms B", "ms B/A"),
              [(n, fmt(ra.get(n, none)[0]), fmt(rb.get(n, none)[0]),
                fmt(ra.get(n, none)[1]), fmt(rb.get(n, none)[1]),
                ratio(ra.get(n, none)[1], rb.get(n, none)[1])) for n in names])


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    main(sys.argv[1], sys.argv[2])
