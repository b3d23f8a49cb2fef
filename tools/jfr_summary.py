#!/usr/bin/env python3
"""Where a vendor's driver time goes, from a JFR recording of a perfbench run.

    JAVA_TOOL_OPTIONS="-XX:StartFlightRecording=filename=/path/vt.jfr,settings=profile \\
        -XX:FlightRecorderOptions=stackdepth=2048" \\
        python3 perfbench/run.py --workload vendor_tick --seed 7 --seconds 6 --trace 0
    jfr print --json --stack-depth 2048 --events jdk.ExecutionSample /path/vt.jfr > vt.json
    python3 tools/jfr_summary.py vt.json [--frame processVendor] [--top 10]

Build the harness once before recording, so the option reaches only the
engine JVM (the python driver starts `java` directly). The default stack
depth of 64 cuts Catalyst's deep stacks before they reach the worker's
entry frame, hence `stackdepth=2048`; a sample whose stack is still
truncated is counted apart.

Only samples with a frame whose method name contains `--frame` (default
`processVendor`, the vendor worker's entry) are kept. Each is booked twice:

- by pipeline step: the innermost vendor-path call on its stack (xlsx
  read, promoteHeaders, dropLastRow, conform, the rest of the pipeline,
  the Mega-Script workbook, the macro, pdf merge, email);
- by phase: the innermost of LocalFold rows, encoders, analysis,
  optimizer, planning and SQL execution on its stack; a sample under none
  of those is sink render, xlsx read or other by its innermost engine
  frame.

Prints both splits and their cross table, with shares of the kept samples,
and with `--top N` the N most sampled leaf methods of each phase.
Standard library only.
"""
import argparse
import json
from collections import Counter, defaultdict

# (step, class-name prefix, method names or None for any), innermost first.
STEPS = [
    ("xlsx read", "graft.sources.", None),
    ("promoteHeaders", "graft.core.SchemaOps", {"promoteHeaders"}),
    ("dropLastRow", "graft.pipelines.Steps", {"dropLastRow"}),
    ("conform", "graft.pipelines.Canonical", {"conform"}),
    ("pipeline other", "graft.pipelines.", None),
    ("mega-script xlsx", "graft.sinks.XlsxWriter", None),
    ("macro", "graft.sinks.MacroRenderer", None),
    ("pdf merge", "graft.sinks.PdfMerge", None),
    ("email", "graft.streaming.Email", None),
]

QE = "org.apache.spark.sql.execution.QueryExecution"
# (phase, class-name prefixes, method-name substrings or None), innermost first.
PHASES = [
    ("LocalFold rows", ("graft.plans.LocalFold",), None),
    ("encoders", ("org.apache.spark.sql.catalyst.encoders.",
                  "org.apache.spark.sql.catalyst.ScalaReflection",
                  "org.apache.spark.sql.catalyst.DeserializerBuildHelper",
                  "org.apache.spark.sql.catalyst.SerializerBuildHelper",
                  "org.apache.spark.sql.catalyst.CatalystTypeConverters",
                  "scala.reflect.runtime."), None),
    ("analysis", (QE,), ("analyzed", "assertAnalyzed")),
    ("optimizer", (QE,), ("optimizedPlan", "assertOptimized")),
    ("planning", (QE,), ("sparkPlan", "executedPlan", "prepareForExecution")),
    ("sql execution", ("org.apache.spark.sql.execution.SQLExecution",
                       "org.apache.spark.sql.execution.LocalTableScanExec",
                       "org.apache.spark.sql.execution.ui."), None),
]
FALLBACK = [
    ("sink render", "graft.sinks."),
    ("xlsx read", "graft.sources."),
]


def frames_of(event):
    """(class name, method name) per frame, leaf first, and the truncated flag."""
    st = event["values"].get("stackTrace") or {}
    out = []
    for f in st.get("frames", []):
        m = f.get("method") or {}
        cls = ((m.get("type") or {}).get("name") or "").replace("/", ".")
        out.append((cls, m.get("name") or ""))
    return out, bool(st.get("truncated"))


def matches(frame, prefixes, methods):
    cls, name = frame
    if not any(cls.startswith(p) for p in prefixes):
        return False
    return methods is None or any(m in name for m in methods)


def step_of(frames):
    for f in frames:
        for step, prefix, methods in STEPS:
            if f[0].startswith(prefix) and (methods is None or f[1] in methods):
                return step
    return "other"


def phase_of(frames):
    for f in frames:
        for phase, prefixes, methods in PHASES:
            if matches(f, prefixes, methods):
                return phase
    for f in frames:
        for phase, prefix in FALLBACK:
            if f[0].startswith(prefix):
                return phase
    return "other"


def summarize(events, frame="processVendor"):
    """Counters by step, by phase, by (step, phase), leaf methods per phase,
    and the number of samples kept, dropped and truncated."""
    steps, phases, cross = Counter(), Counter(), Counter()
    leaves = defaultdict(Counter)
    kept = dropped = truncated = 0
    for e in events:
        if e.get("type") != "jdk.ExecutionSample":
            continue
        frames, cut = frames_of(e)
        if not any(frame in name for _, name in frames):
            dropped += 1
            truncated += cut
            continue
        kept += 1
        s, p = step_of(frames), phase_of(frames)
        steps[s] += 1
        phases[p] += 1
        cross[(s, p)] += 1
        if frames:
            leaves[p][".".join(frames[0])] += 1
    return {"steps": steps, "phases": phases, "cross": cross, "leaves": leaves,
            "kept": kept, "dropped": dropped, "truncated_dropped": truncated}


def pct(n, total):
    return f"{100.0 * n / total:5.1f}%" if total else "    -"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("json", help="output of `jfr print --json --events jdk.ExecutionSample`")
    ap.add_argument("--frame", default="processVendor",
                    help="keep samples with a frame whose method name contains this")
    ap.add_argument("--top", type=int, default=0, help="leaf methods to list per phase")
    a = ap.parse_args()
    with open(a.json) as f:
        events = json.load(f)["recording"]["events"]
    r = summarize(events, a.frame)
    kept = r["kept"]
    print(f"samples: {kept} kept under {a.frame}, {r['dropped']} dropped "
          f"({r['truncated_dropped']} of them truncated)")
    for title, counter in (("by step", r["steps"]), ("by phase", r["phases"])):
        print(title)
        for k, n in counter.most_common():
            print(f"  {k:<18} {n:7d} {pct(n, kept)}")
    phases = [p for p, _ in r["phases"].most_common()]
    print("step x phase (share of kept samples)")
    print(f"  {'':<18}" + "".join(f"{p[:13]:>14}" for p in phases))
    for s, _ in r["steps"].most_common():
        print(f"  {s:<18}" + "".join(f"{pct(r['cross'][(s, p)], kept):>14}" for p in phases))
    if a.top:
        for p in phases:
            print(f"top leaf methods: {p}")
            for m, n in r["leaves"][p].most_common(a.top):
                print(f"  {n:7d} {m}")


if __name__ == "__main__":
    main()
