#!/usr/bin/env python3
"""perfbench: end-to-end and per-layer benchmark of the graft engine.

One run = one workload, one fresh JVM, one client in a closed loop over the
workload's steps (see README.md in this directory).

  python3 perfbench/run.py --workload erkg_link --seed 1 --seconds 12 --trace 0
  python3 perfbench/run.py --workload erkg_link --seed 1 --seconds 12 --trace 1
  python3 perfbench/run.py --workload erkg_link --seed 1 --save parent.jsonl
  python3 perfbench/run.py --compare parent.jsonl change.jsonl

A run builds the program if its sources changed, generates the inputs from
the seed, runs the JVM harness, checks every step's result against its
DuckDB oracle, prints every metric by name with its unit, and ends with one
compact JSON line: {"correct", "attempted", "failed", "metrics"}. The full
record, with spans, goes to .bench_work/results/.
"""
import argparse
import glob
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

# Each workload is a fixed sequence of SparkEntry.queries steps.
WORKLOADS = {
    # the paper's flow: 2-hop suspicious network with P(entity|alias)
    # priors, then entity linking (gazetteer prior x context cosine) and
    # fuzzy alias candidates
    "erkg_link": ["q17_suspicious_aliases", "q34_entity_linking", "q46_fuzzy_candidates"],
    # LLM corpus curation: quality, MinHash-LSH, closure, decontamination
    # and packing; exact prefix-filter Jaccard; SimHash stream dedup
    "curate_dedup": ["q116_corpus_flagship", "q22_jaccard_pairs", "q65_stream_neardup"],
}
HEAP = "2g"  # the inputs are small; a larger heap only takes memory from the host
RUN_LIMIT_S = 176  # a run must end within 180 s
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def unit(name):
    """Unit of a metric, from its name."""
    if name.endswith("ns_per_row"):
        return "ns"
    if name.endswith("rows_per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("ratio", "overhead", "core_busy", "skew_max", "per_token")):
        return "ratio"
    return "count"


# ---- JVM run -------------------------------------------------------------

def tree_state(path):
    """(relative path, size, mtime) of every file under `path`."""
    out = []
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            st = os.stat(p)
            out.append((os.path.relpath(p, path), st.st_size, st.st_mtime_ns))
    return sorted(out)


def log_tail(log):
    """The JVM log's last 40 lines to stderr, without stack frames, which
    would otherwise fill the tail and hide the messages."""
    with open(log, errors="replace") as lf:
        lines = [ln for ln in lf if not ln.lstrip().startswith(("at ", "... "))]
    sys.stderr.write("".join(lines[-40:]))


def run_jvm(work, data, steps, seconds, trace, timeout):
    out = os.path.join(work, "raw.json")
    os.makedirs(os.path.join(work, "tmp"))
    cores = len(os.sched_getaffinity(0))
    cmd = ["java", *build.jvm_options(), f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work}/tmp", "-cp", build.classpath(), "perfbench.Harness",
           "--data", data, "--work", work, "--steps", ",".join(steps),
           "--seconds", str(seconds), "--trace", str(trace), "--cores", str(cores),
           "--out", out]
    # Spark would put its scratch space in SPARK_LOCAL_DIRS over spark.local.dir
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        try:
            p = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work, timeout=timeout, env=env)
        except subprocess.TimeoutExpired:
            log_tail(log)
            raise SystemExit(f"harness JVM did not finish within {timeout:.0f} s")
    if p.returncode != 0 or not os.path.exists(out):
        log_tail(log)
        raise SystemExit(f"harness JVM failed with exit code {p.returncode}")
    with open(out) as f:
        return json.load(f)


# ---- correctness ---------------------------------------------------------

def _norm(df):
    """tools/check.py's normalization: columns sorted by name, rows as
    sorted tuples of value reprs."""
    df = df.reindex(sorted(df.columns), axis=1)
    return list(df.columns), sorted(tuple(repr(v) for v in row) for row in df.itertuples(index=False))


def oracle_check(raw, data, work):
    """Compare each step's warm-up result with its oracle, evaluated by
    DuckDB on the same generated tables. Returns {step: error or None}."""
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    verdicts = {}
    for step in raw["steps"]:
        sql = raw["oracles"].get(step)
        files = glob.glob(os.path.join(work, "results", step, "*.parquet"))
        try:
            if sql is None:
                raise RuntimeError("no oracle")
            if not files:
                raise RuntimeError("no result files")
            gcols, got = _norm(con.sql(f"SELECT * FROM read_parquet({files!r})").fetchdf())
            wcols, want = _norm(con.sql(sql).fetchdf())
            if gcols != wcols:
                raise RuntimeError(f"columns {gcols} vs {wcols}")
            if len(got) != len(want):
                raise RuntimeError(f"rowcount {len(got)} vs {len(want)}")
            if got != want:
                raise RuntimeError("value mismatch")
            verdicts[step] = None
        except Exception as e:  # a failing oracle is a finding, not a crash
            verdicts[step] = f"OracleMismatch: {type(e).__name__}: {str(e).splitlines()[0] if str(e) else ''}"
    return verdicts


def failures(raw, oracle):
    """Every failed step execution: exceptions, hashes that differ from the
    warm-up's, and warm-up results that differ from the oracle."""
    out = []
    warm = {r["step"]: r for r in raw["warmup"]["steps"]}
    for step, err in oracle.items():
        if err or warm[step]["error"]:
            out.append({"pass": 0, "step": step, "error": warm[step]["error"] or err})
    for p in raw["passes"]:
        for r in p["steps"]:
            if r["error"]:
                out.append({"pass": p["index"], "step": r["step"], "error": r["error"]})
            elif warm[r["step"]]["hash"] is not None and r["hash"] != warm[r["step"]]["hash"]:
                first = warm[r["step"]]["hash"]
                out.append({"pass": p["index"], "step": r["step"],
                            "error": f"ResultMismatch: hash {r['hash']} differs from warm-up {first}"})
    return out


# ---- metrics -------------------------------------------------------------

def end_to_end(raw):
    ps = raw["passes"]
    return {
        "setup_s": raw["setup_s"],
        "run_s": statistics.median([p["wall_s"] for p in ps]),
        "cpu_s": statistics.median([p["cpu_s"] for p in ps]),
        "shuffle_mb": statistics.median([p["shuffle_mb"] for p in ps]),
        "storage_peak_mb": statistics.median([p["storage_peak_mb"] for p in ps]),
    }


def _union_ms(intervals, lo, hi):
    """Total length of the union of [a, b] intervals clipped to [lo, hi]."""
    total, end = 0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b > max(a, end):
            total += b - max(a, end)
            end = b
    return total


def span_tree(raw):
    """Spans with inclusive stats (own jobs plus their descendants') and
    self time (duration minus the union of child spans)."""
    spans = {s["id"]: dict(s) for s in raw["spans"]}
    stats = raw["span_stats"]
    children = {}
    for s in spans.values():
        children.setdefault(s["parent"], []).append(s["id"])

    def inclusive(i):
        acc = {k: v for k, v in stats.get(str(i), {}).items()}
        acc.setdefault("job_intervals_ms", [])
        for c in children.get(i, []):
            sub = inclusive(c)
            for k, v in sub.items():
                if k == "skew_max":
                    acc[k] = max(acc.get(k, 0.0), v)
                elif k == "job_intervals_ms":
                    acc[k] = acc[k] + v
                else:
                    acc[k] = acc.get(k, 0) + v
        return acc

    for i, s in spans.items():
        s["stats"] = inclusive(i)
        lo, hi = s["start_ms"], s["end_ms"]
        kids = [(spans[c]["start_ms"], spans[c]["end_ms"]) for c in children.get(i, [])]
        s["self_s"] = (hi - lo - _union_ms(kids, lo, hi)) / 1e3
        own_jobs = stats.get(str(i), {}).get("job_intervals_ms", [])
        s["driver_only_s"] = (hi - lo - _union_ms(kids + [tuple(j) for j in own_jobs], lo, hi)) / 1e3
    return spans


def per_layer(raw, cores):
    spans = span_tree(raw)
    traced = [p for p in raw["passes"] if p["traced"]]
    # the first timed pass is still warming up: compare traced passes with
    # the untraced ones after it
    untraced = [p for p in raw["passes"][1:] if not p["traced"]]
    rows = []
    for p in traced:
        s = spans[p["span"]]
        st = s["stats"]
        wall = (s["end_ms"] - s["start_ms"]) / 1e3
        m = {f"spark.{k}": st.get(k, 0) for k in
             ["jobs", "stages", "tasks", "task_s", "cpu_s", "gc_s", "sched_wait_s",
              "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "skew_max", "output_mb"]}
        m["spark.core_busy"] = st.get("task_s", 0) / (wall * cores)
        in_jobs = _union_ms(st["job_intervals_ms"], s["start_ms"], s["end_ms"])
        m["spark.driver_only_s"] = (wall * 1e3 - in_jobs) / 1e3
        for r in p["steps"]:
            ss = spans[r["span"]]
            name = r["step"].split("_")[0]
            m[f"queries.{name}.wall_s"] = r["s"]
            m[f"queries.{name}.task_s"] = ss["stats"].get("task_s", 0)
            m[f"queries.{name}.jobs"] = ss["stats"].get("jobs", 0)
            m[f"queries.{name}.driver_only_s"] = ss["driver_only_s"]
        rows.append(m)
    out = {k: statistics.median([r[k] for r in rows]) for k in rows[0]}
    out.update(raw["probes"])
    out["trace.overhead"] = (statistics.median([p["wall_s"] for p in traced]) /
                             statistics.median([p["wall_s"] for p in untraced]))
    return out, spans


# ---- output --------------------------------------------------------------

def result_line(correct, attempted, failed, metrics, names):
    """The compact last stdout line: only the metrics BENCHMARK.json names."""
    return json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                       "metrics": {n: {"value": metrics[n], "unit": unit(n)} for n in names}},
                      separators=(",", ":"))


def run(args):
    t0 = time.monotonic()
    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    sp = spec()
    steps = WORKLOADS[args.workload]
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(ROOT, ".bench_work", f"{tag}-{os.getpid()}")
    results = os.path.join(ROOT, ".bench_work", "results")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(results, exist_ok=True)
    try:
        tb = time.monotonic()
        source_digest = build.build()
        build_s = time.monotonic() - tb
        data = os.path.join(work, "data")
        gen.write(args.seed, data)
        props = gen.properties(data)
        warehouse = os.path.join(ROOT, "spark-warehouse")
        before = tree_state(warehouse)
        # leave 10 s for the oracle check and the output
        timeout = RUN_LIMIT_S - 10 - (time.monotonic() - t0 - build_s)
        raw = run_jvm(work, data, steps, args.seconds, args.trace, timeout)
        oracle = oracle_check(raw, data, work)
        if tree_state(warehouse) != before:
            raise SystemExit("the run changed the repository's spark-warehouse/")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    fails = failures(raw, oracle)
    attempted = len(steps) * (1 + len(raw["passes"]))
    failed = len({(f["pass"], f["step"]) for f in fails})
    prov = dict(raw["provenance"], seed=args.seed, workload=args.workload, trace=args.trace,
                seconds=args.seconds, source_digest=source_digest, commit=commit())
    if args.trace:
        metrics, spans = per_layer(raw, prov["cores"])
        names = [m["name"] for m in sp["per_layer"]]
    else:
        metrics, spans = end_to_end(raw), {}
        names = [m["name"] for m in sp["end_to_end"]]
    metrics["fail_ratio"] = failed / attempted
    detail = {"provenance": prov, "inputs": props, "metrics": metrics, "failures": fails,
              "oracle": oracle, "setup_s": raw["setup_s"], "warmup": raw["warmup"],
              "passes": raw["passes"], "spans": list(spans.values())}
    detail_path = os.path.join(results, f"{tag}.json")
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1)

    def samples(k):
        if k in raw["probes"] or k == "setup_s":
            return "n=1"
        if k == "fail_ratio":
            return f"n={attempted} step runs"
        if args.trace and k != "trace.overhead":
            return f"n={sum(p['traced'] for p in raw['passes'])} traced passes"
        return f"n={len(raw['passes'])} passes"

    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"cores={prov['cores']} heap_mb={prov['heap_mb']} spark={prov['spark']} "
          f"commit={prov['commit']} SPARK_GRAFT_STREAM_PARTS={prov['SPARK_GRAFT_STREAM_PARTS']}")
    print("inputs: " + " ".join(f"{k}={v}" for k, v in props.items()))
    for step, err in oracle.items():
        print(f"oracle {step}: {err or 'ok'}")
    for f in fails:
        print(f"FAILED pass {f['pass']} {f['step']}: {f['error']}")
    for k in sorted(metrics):
        print(f"  {k:42s} {metrics[k]:>16.6g} {unit(k):6s} ({samples(k)})")
    print(f"detail: {os.path.relpath(detail_path, ROOT)}")
    line = result_line(failed == 0, attempted, failed, metrics, names)
    if args.save:
        with open(args.save, "a") as f:
            f.write(json.dumps({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                                "correct": failed == 0, "metrics": metrics}) + "\n")
    print(line)


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "--short", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


# ---- compare -------------------------------------------------------------

def compare(parent_path, change_path):
    """choosing-metrics section 8 over two result sets saved with --save,
    whose runs alternate parent and change: per workload and end-to-end
    metric, each side's median and quartiles, the change's win share over
    the pairs, and a verdict."""
    sp = spec()

    def load(p):
        with open(p) as f:
            recs = [json.loads(line) for line in f if line.strip()]
        return [r for r in recs if not r["trace"]]

    parent, change = load(parent_path), load(change_path)
    for w in sorted({r["workload"] for r in parent} & {r["workload"] for r in change}):
        a = [r for r in parent if r["workload"] == w]
        b = [r for r in change if r["workload"] == w]
        pairs = list(zip(a, b))
        # a gain does not count when more runs fail than at the parent
        fa, fb = (sum(not r["correct"] for r in side) for side in (a, b))
        print(f"{w}: {len(pairs)} pairs, failed runs parent {fa} change {fb}")
        for m in sp["end_to_end"]:
            name, bound = m["name"], m["bound"]
            pa = [r["metrics"][name] for r in a]
            pb = [r["metrics"][name] for r in b]
            sign = 1 if m["better"] == "lower" else -1
            wins = sum(1 for x, y in pairs if sign * (x["metrics"][name] - y["metrics"][name]) > 0)
            qa = statistics.quantiles(pa, n=4) if len(pa) > 1 else [pa[0]] * 3
            qb = statistics.quantiles(pb, n=4) if len(pb) > 1 else [pb[0]] * 3
            ma, mb = statistics.median(pa), statistics.median(pb)
            iqr = qa[2] - qa[0]
            worse = sign * (mb - ma) / ma if ma else 0.0
            if wins >= 0.9 * len(pairs) and sign * (ma - mb) > iqr and fb <= fa:
                verdict = "gain"
            elif worse > bound:
                verdict = "regression"
            elif ma and iqr / ma > bound and not all(sign * (x - y) > 0 for x in pa for y in pb):
                verdict = "unresolved"
            else:
                verdict = "flat"
            print(f"  {name:16s} parent {ma:.4g} [{qa[0]:.4g}, {qa[2]:.4g}]  "
                  f"change {mb:.4g} [{qb[0]:.4g}, {qb[2]:.4g}] {m['unit']}  "
                  f"ratio {mb / ma if ma else float('nan'):.3f}  wins {wins}/{len(pairs)}  {verdict}")


def main(argv):
    # on SIGTERM, unwind so that the harness JVM is killed and the work
    # directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description="perfbench: graft engine benchmark")
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--save", help="append this run's metrics to a JSONL result set")
    ap.add_argument("--compare", nargs=2, metavar=("PARENT", "CHANGE"),
                    help="compare two result sets saved with --save")
    args = ap.parse_args(argv)
    if args.compare:
        compare(*args.compare)
    elif args.workload:
        run(args)
    else:
        ap.error("--workload or --compare is required")


if __name__ == "__main__":
    main(sys.argv[1:])
