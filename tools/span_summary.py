#!/usr/bin/env python3
"""One line per job of a traced perfbench run, from its spans.

    python3 tools/span_summary.py RUN/work/spans.json
        [--result RUN/result.json] [--vendors RUN/in/vendors.tsv]

A traced run (`perfbench/run.py ... --trace 1`) writes `work/spans.json`
under `.bench_build/runs/<workload>-<seed>-1/`. Each `job.*` span is one
job (one vendor row, one batch). For each job this prints:

- latency: the job span's duration;
- time per layer: the wall time covered by the job's spans of that layer
  (the name's prefix up to the first dot); layers nest, so catalyst and
  exec time also sit inside the span that caused them;
- spark_jobs: the number of `exec.spark_job` spans;
- first_job_to_end: from the start of the first Spark job to the end of
  the top-level layer span that started it (such as `pipelines.build`);
- pre_exec: from the start of that top-level span to the first Spark job.
  Both read "-" for a job that started no Spark job.

`--result` labels each job with the name of the job record whose latency
is closest to the span's; `--vendors` adds the vendor's layout. A last
line gives the medians over the jobs. Standard library only.
"""
import argparse
import json
import statistics
from collections import defaultdict


def covered_ms(intervals, lo, hi):
    """Milliseconds of [lo, hi] covered by the union of `intervals`."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1e6


def summarize(spans):
    """Per job: a dict of the figures above, in job-start order."""
    by_id = {s["id"]: s for s in spans}
    by_job = defaultdict(list)
    for s in spans:
        by_job[s["job"]].append(s)
    out = []
    for root in sorted((s for s in spans if s["name"].startswith("job.")),
                       key=lambda s: s["start_ns"]):
        mine = [s for s in by_job[root["job"]] if s["id"] != root["id"]]
        layers = defaultdict(list)
        for s in mine:
            layers[s["name"].split(".")[0]].append((s["start_ns"], s["end_ns"]))
        sparks = sorted((s for s in mine if s["name"] == "exec.spark_job"),
                        key=lambda s: s["start_ns"])
        row = {"job": root["job"], "latency_ms": (root["end_ns"] - root["start_ns"]) / 1e6,
               "layers_ms": {l: covered_ms(iv, root["start_ns"], root["end_ns"])
                             for l, iv in sorted(layers.items())},
               "spark_jobs": len(sparks), "first_job_to_end_ms": None,
               "pre_exec_ms": None, "top_span": None}
        if sparks:
            first = sparks[0]
            top = by_id.get(first["parent"])
            while top is not None and top["parent"] != root["id"] and top["parent"] in by_id:
                top = by_id[top["parent"]]
            if top is not None and top["parent"] == root["id"]:
                row["top_span"] = top["name"]
                row["first_job_to_end_ms"] = (top["end_ns"] - first["start_ns"]) / 1e6
                row["pre_exec_ms"] = (first["start_ns"] - top["start_ns"]) / 1e6
        out.append(row)
    return out


def label(rows, result, vendors):
    """Each row's job name (closest record latency) and layout."""
    records = [j for j in result["jobs"] if j["kind"] not in ("query",)] if result else []
    for r in rows:
        if records:
            best = min(records, key=lambda j: abs(j["ns"] / 1e6 - r["latency_ms"]))
            r["name"] = best["name"]
            r["layout"] = vendors.get(best["name"], "")


def fmt(v):
    return "-" if v is None else f"{v:.1f}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("spans")
    ap.add_argument("--result")
    ap.add_argument("--vendors")
    a = ap.parse_args()
    with open(a.spans) as f:
        rows = summarize(json.load(f))
    result = json.load(open(a.result)) if a.result else None
    vendors = {}
    if a.vendors:
        with open(a.vendors) as f:
            vendors = dict(l.split("\t")[:2] for l in f if l.strip())
    label(rows, result, vendors)
    for r in rows:
        name = " ".join(x for x in (r.get("name", ""), r.get("layout", "")) if x)
        layers = " ".join(f"{l}={fmt(ms)}" for l, ms in r["layers_ms"].items())
        print(f"job {r['job']} {name} latency={fmt(r['latency_ms'])}ms "
              f"spark_jobs={r['spark_jobs']} "
              f"first_job_to_end={fmt(r['first_job_to_end_ms'])}ms({r['top_span'] or '-'}) "
              f"pre_exec={fmt(r['pre_exec_ms'])}ms layers_ms: {layers}")

    def med(k):
        xs = [r[k] for r in rows if r[k] is not None]
        return statistics.median(xs) if xs else None
    print(f"median over {len(rows)} jobs: latency={fmt(med('latency_ms'))}ms "
          f"spark_jobs_mean={fmt(statistics.mean(r['spark_jobs'] for r in rows) if rows else None)} "
          f"first_job_to_end={fmt(med('first_job_to_end_ms'))}ms "
          f"pre_exec={fmt(med('pre_exec_ms'))}ms")


if __name__ == "__main__":
    main()
