#!/usr/bin/env python3
"""The repository benchmark: one command, one workload, one JSON result line.

    python3 perfbench/run.py --workload <vendor_tick|query_mix>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
harness with sbt (offline) into `target/` directories; later runs reuse the
build while the sources are unchanged. Inputs are generated from the seed
under `.bench_build/runs/`; the engine reads only those. The last line of
standard output is the result: with `--trace 0` the end-to-end metrics,
with `--trace 1` the per-layer metrics of a traced run. Lines before it
carry the environment stamp and a report with sample counts and checks.
See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

import gen

BUILD = ".bench_build"
WORKLOADS = ["vendor_tick", "query_mix"]
SETUPS = 3
# Workload sizes; each is documented in README.md.
QUERY_SCALE = 0.1            # sf0.01: 60k lineitem, 500 documents
VENDORS = 16                 # vendor rows per tick
VENDOR_ROWS = (100, 1000)    # spreadsheet rows per vendor, spaced on a log scale
INDEX_SCALE = 0.1            # 500 documents, 200 embeddings

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files(root):
    """Every file the build reads from the repository, in a stable order."""
    files = ["build.sbt", "project/build.properties", "perfbench/build.sbt",
             "perfbench/project/build.properties", "perfbench/run.py"]
    for top in ("src/main", "perfbench/src/main"):
        for d, _, names in os.walk(os.path.join(root, top)):
            files += [os.path.relpath(os.path.join(d, n), root) for n in names]
    return sorted(files)


def fingerprint(root):
    h = hashlib.sha256()
    for f in source_files(root):
        h.update(f.encode())
        with open(os.path.join(root, f), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def ensure_build(root, src_fp):
    """The harness classpath, building with sbt when the sources changed.

    The build packages the engine and the harness as jars, then records a
    class-data-sharing archive from a short query_mix run, so each measured
    run loads Spark's classes from the archive instead of from the jars: a
    JVM start-up cost, not part of any measured pass."""
    os.makedirs(os.path.join(root, BUILD), exist_ok=True)
    stamp = os.path.join(root, BUILD, "build.stamp")
    cp_file = os.path.join(root, BUILD, "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read().strip() == src_fp:
                with open(cp_file) as f:
                    return f.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    log = os.path.join(root, BUILD, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
             "export Runtime/fullClasspathAsJars"],
            cwd=os.path.join(root, "perfbench"), env=env, stdout=subprocess.PIPE,
            stderr=out, text=True, timeout=600)
        out.write(r.stdout)
    lines = [l for l in r.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if r.returncode != 0 or not lines:
        fail(f"build failed (exit {r.returncode}); see {log}")
    cp = lines[-1]
    jsa = os.path.join(root, BUILD, "classes.jsa")
    if os.path.exists(jsa):
        os.remove(jsa)
    inp, work, _, _ = prepare(os.path.join(root, BUILD, "train"), "query_mix", 0)
    engine(cp, "query_mix", inp, work, 0, 0, 1, os.path.join(work, "result.json"), 300,
           [f"-XX:ArchiveClassesAtExit={jsa}"])
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(src_fp)
    return cp


def prepare(run_dir, workload, seed):
    """A fresh run directory with the seed's inputs: (inputs, work dir,
    input facts, expected outputs)."""
    shutil.rmtree(run_dir, ignore_errors=True)
    inp, work = os.path.join(run_dir, "in"), os.path.join(run_dir, "work")
    facts, expected = make_inputs(workload, seed, inp)
    os.makedirs(os.path.join(work, "tmp"))
    return inp, work, facts, expected


def engine(cp, workload, inp, work, seconds, trace, setups, out, timeout, flags):
    """One engine JVM; its output goes to engine.log beside the work dir.
    Returns the exit code, or None on timeout."""
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    # The heap starts small and grows only as the engine needs, so the heap
    # it really uses shows in peak RSS; the explicit start size keeps that
    # independent of the host's memory. The serial collector grows the heap
    # from the live data it finds after each collection. G1 grows it from
    # collection times, which follow the host's load, and its peak RSS
    # spread about three times as widely across runs.
    cmd = [java, *ADD_OPENS, "-Xms256m", "-Xmx2g", "-XX:+UseSerialGC", *flags, f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", cp, "perfbench.Main", "--workload", workload, "--inputs", inp,
           "--work", work, "--seconds", str(seconds), "--trace", str(trace),
           "--setups", str(setups), "--out", out]
    with open(os.path.join(os.path.dirname(work), "engine.log"), "w") as log:
        try:
            return subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                                  timeout=timeout).returncode
        except subprocess.TimeoutExpired:
            return None


def make_inputs(workload, seed, inp):
    """Generate the workload's inputs; returns (input facts, expected)."""
    os.makedirs(inp)
    if workload == "query_mix":
        first = os.path.join(inp, "copy1")
        rows = gen.write_tables(seed, first, QUERY_SCALE, gen.TABLES)
        # One input copy per set-up repetition (hard links), so each pays
        # the first-use work the engine memoizes per input directory.
        for k in range(2, SETUPS + 1):
            shutil.copytree(first, os.path.join(inp, f"copy{k}"), copy_function=os.link)
        os.makedirs(os.path.join(inp, "index"))
        index = gen.write_index_append(seed + 1, os.path.join(inp, "index"), INDEX_SCALE)
        return {"rows": rows, "index": index}, None
    exp = gen.write_vendor_tick(seed, inp, VENDORS, VENDOR_ROWS)
    return {"vendors": len(exp), "rows": sum(len(e["rows"]) for e in exp.values())}, exp


def tree_bytes(p):
    return sum(os.path.getsize(os.path.join(d, n))
               for d, _, ns in os.walk(p) for n in ns)


def quantile(xs, q):
    s = sorted(xs)
    if not s:
        return 0.0
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


# ── output checks; each returns {job name: reason} for wrong results ──

def check_vendor_tick(res, expected):
    bad = {}
    out = res["checks"]["out_dir"]
    for num, e in expected.items():
        try:
            rows = gen.read_xlsx_first_sheet(os.path.join(out, num, "mega.xlsx"))
            head, body = rows[0], rows[1:]
            col = {h: i for i, h in enumerate(head)}
            got = [(int(float(r[col["Branch"]])), int(float(r[col["Item"]])),
                    int(float(r[col["Distro Size"]])),
                    int(float(r[col["Warehouse"]])) if e["layout"] == "phillips" else None)
                   for r in body]
            want = [tuple(x) for x in e["rows"]]
            buyer, supplier = e["config"]
            if got != want:
                bad[num] = f"Scripting rows differ: {len(got)} written, {len(want)} expected"
            elif any(r[col["WW Buyer"]] != buyer or int(float(r[col["Supplier On Record"]]))
                     != supplier for r in body):
                bad[num] = "vendor constants differ"
            merged = [f for f in os.listdir(os.path.join(out, num)) if f.endswith(".pdf")]
            if len(merged) != 1 or os.path.getsize(os.path.join(out, num, merged[0])) \
                    != e["pdf_bytes"] or not merged[0].startswith(f"{e['n_pdfs']} orders"):
                bad[num] = "merged PDF differs"
            macros = [f for f in os.listdir(os.path.join(out, num)) if "ADPO_X" in f]
            with open(os.path.join(out, num, macros[0])) as f:
                typed = [tuple(map(int, m.groups())) for m in
                         (re.match(r"^Type  (\d+)-(\d{7})$", l.rstrip("\n")) for l in f)
                         if m and m.group(2) != "0990033"]
            if typed != [(b, i) for b, i, _, _ in want]:
                bad.setdefault(num, "macro item lines differ")
        except Exception as ex:  # a missing or unreadable output is a wrong result
            bad[num] = f"{type(ex).__name__}: {ex}"
    return bad


def _duck_value(v):
    from decimal import Decimal
    if isinstance(v, float):
        return ("f", repr(v))
    if isinstance(v, Decimal):
        return ("dec", str(v))
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, int):
        return ("i", v)
    return (type(v).__name__, v)


def result_hash(table):
    """Order-sensitive hash of a result: columns by name, rows in order."""
    h = hashlib.sha256()
    for c in sorted(table.column_names):
        h.update(c.encode())
        for v in table.column(c).to_pylist():
            h.update(repr(_duck_value(v)).encode())
    return h.hexdigest()


# Queries whose declared order is not total on these tables, as
# {query: (rank column, SQL of the full order key over the result's columns)}.
# q34 ranks by (store, lot key, l_orderkey, l_linenumber), and
# (l_orderkey, l_linenumber) repeats, as in the engine's fixtures. SQL leaves
# the rank of rows tied on the whole key unspecified, and Spark's choice
# changes from run to run with the order in which shuffle blocks arrive.
TIED_RANKS = {
    "q34_lot_sort": ("rn", "TRY_CAST(store AS DOUBLE), "
                     r"COALESCE(TRY_CAST(right(list_extract(regexp_extract_all(lot, '\d+'), -1), 4)"
                     " AS BIGINT), 1000000000), l_orderkey, l_linenumber"),
}


def canonical_ranks(con, table, rank, key):
    """`table` with the ranks inside each group of rows tied on `key` dealt
    out again in the order of the rows' other columns, rows in rank order;
    and the number of tied groups whose rows differ."""
    con.register("ranked", table)
    rest = ", ".join(f'"{c}"' for c in table.column_names if c != rank)
    out = con.sql(f"""
        SELECT * EXCLUDE ({rank}),
          MIN({rank}) OVER (PARTITION BY {key})
            + ROW_NUMBER() OVER (PARTITION BY {key} ORDER BY {rest}) - 1 AS {rank}
        FROM ranked ORDER BY {rank}""").arrow()
    groups = con.sql(f"""
        SELECT count(*) FROM (SELECT {key} FROM ranked GROUP BY ALL
                              HAVING count(DISTINCT ({rest})) > 1)""").fetchone()[0]
    con.unregister("ranked")
    return (out.read_all() if hasattr(out, "read_all") else out), groups


def check_query_mix(res, ties):
    import duckdb
    import pyarrow.parquet as pq
    import pyarrow as pa
    bad = {}
    chk = res["checks"]
    tables = chk["tables_dir"]
    con = duckdb.connect()
    for t in gen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables}/{t}.parquet/*.parquet')")
    # the index batch is right only if the final stores equal a rebuild
    idx = chk["index"]
    for k in ("ivf_equal", "signatures_equal"):
        if not idx[k]:
            bad["batch"] = f"{k}: stored state differs from a from-scratch build"
    bad.update({f"check:{x}": "failed in the checked pass" for x in idx["failed"]})
    for q in chk["queries"]:
        name = q["name"]
        if q["error"]:
            bad[name] = q["error"]
            continue
        d = os.path.join(chk["results_dir"], name)
        files = sorted(f for f in os.listdir(d) if f.endswith(".parquet"))
        got = pa.concat_tables([pq.read_table(os.path.join(d, f)) for f in files])
        if not q["oracle_sql"]:
            bad[name] = "no oracle SQL to check the result against"
            continue
        want = con.sql(q["oracle_sql"]).arrow()
        if hasattr(want, "read_all"):
            want = want.read_all()
        if sorted(got.column_names) != sorted(want.column_names):
            bad[name] = f"columns {sorted(got.column_names)} vs oracle {sorted(want.column_names)}"
        elif got.num_rows != want.num_rows:
            bad[name] = f"{got.num_rows} rows vs oracle {want.num_rows}"
        elif name in TIED_RANKS:
            # Any ranking of tied rows is right, so both sides are compared
            # with the ranks inside each tied group dealt out the same way.
            # The written ranks must still run 1..n in output order.
            rank, key = TIED_RANKS[name]
            if got.column(rank).to_pylist() != list(range(1, got.num_rows + 1)):
                bad[name] = f"{rank} does not run 1..n in output order"
                continue
            g, _ = canonical_ranks(con, got, rank, key)
            w, groups = canonical_ranks(con, want, rank, key)
            if result_hash(g) != result_hash(w):
                bad[name] = "values differ from the DuckDB oracle"
            ties[name] = {"tied_groups_with_distinct_rows": groups,
                          "same_tie_order_as_oracle": result_hash(got) == result_hash(want)}
        elif result_hash(got) != result_hash(want):
            bad[name] = "values differ from the DuckDB oracle"
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    root = os.getcwd()
    for need in ("build.sbt", "src/main/scala/graft/SparkEntry.scala", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"run from the repository root: {need} is missing")

    src_fp = fingerprint(root)
    cp = ensure_build(root, src_fp)
    start = time.time()

    run_dir = os.path.join(root, BUILD, "runs", f"{a.workload}-{a.seed}-{a.trace}")
    inp, work, facts, expected = prepare(run_dir, a.workload, a.seed)
    result_file = os.path.join(run_dir, "result.json")
    jsa = os.path.join(root, BUILD, "classes.jsa")
    code = engine(cp, a.workload, inp, work, a.seconds, a.trace, SETUPS, result_file,
                  max(30, 175 - (time.time() - start)),
                  [f"-XX:SharedArchiveFile={jsa}"] if os.path.exists(jsa) else [])
    if code != 0 or not os.path.exists(result_file):
        fail(f"engine run failed (exit {code}); see {run_dir}/engine.log", 3)
    res = json.load(open(result_file))

    ties = {}
    if a.workload == "vendor_tick":
        bad = check_vendor_tick(res, expected)
    else:
        bad = check_query_mix(res, ties)

    jobs = res["jobs"]
    failed = sum(1 for j in jobs if not j["ok"] or j["name"] in bad)
    attempted = len(jobs)
    # Latency is per vendor row in vendor_tick and per index batch in
    # query_mix; the queries show in wall_s.
    lat_ms = [j["ns"] / 1e6 for j in jobs if j["kind"] in ("vendor", "batch")]
    wall_s = statistics.median(p / 1e9 for p in res["pass_ns"])
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        declared = json.load(f)["end_to_end" if a.trace == 0 else "per_layer"]
    if a.trace == 0:
        values = {
            "setup_s": statistics.median(s / 1e9 for s in res["setup_ns"]),
            "wall_s": wall_s,
            "latency_p50_ms": quantile(lat_ms, 0.5),
            "peak_rss_mb": res["vm_hwm_kb"] / 1024.0,
            "write_amp": res["written_b"] / max(1, res["input_b"]),
        }
        with open(os.path.join(root, BUILD, f"wall-{a.workload}-{a.seed}.json"), "w") as f:
            json.dump({"wall_s": wall_s}, f)
    else:
        values = dict(res["layers"], **{"trace.wall_s": wall_s})
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)),
                           "unit": m["unit"]} for m in declared}

    git_sha = None
    if os.path.isdir(os.path.join(root, ".git")):
        g = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root,
                           capture_output=True, text=True)
        git_sha = g.stdout.strip() or None
    print(json.dumps({"env": {
        "git_sha": git_sha, "src_fingerprint": src_fp, "nproc": os.cpu_count(),
        "cores": res["cores"], "spark": res["spark_version"], "seed": a.seed,
        "workload": a.workload, "inputs": facts, "input_bytes": tree_bytes(inp),
        "host_canary_ms": res["host_canary"]}}))
    report = {"workload": a.workload, "trace": a.trace, "jobs": attempted,
              "passes": len(res["pass_ns"]), "setups": len(res["setup_ns"]),
              "failed_ratio": failed / max(1, attempted),
              "latency_samples": len(lat_ms),
              # too few samples for a tail percentile with ten beyond it
              "latency_p95_ms": quantile(lat_ms, 0.95),
              "leaked_rdds": sum(j["leaked_rdds"] for j in jobs),
              "wrong_results": bad,
              "unspecified_ties": ties,
              "job_errors": sorted({j["error"] for j in jobs if j["error"]})}
    if a.trace == 1:
        report["job_coverage_min"] = res["layers"].get("trace.job_coverage_min")
        prior = os.path.join(root, BUILD, f"wall-{a.workload}-{a.seed}.json")
        if os.path.exists(prior):
            base = json.load(open(prior))["wall_s"]
            report["tracing_overhead"] = wall_s / base - 1.0
    print(json.dumps({"report": report}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
